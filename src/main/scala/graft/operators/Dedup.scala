package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Materialize

/** Deduplication operators for the LLM-training-data north star
  * (SURVEY.md §2.10 X1): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * All primitives are pure `Column` expression trees over built-in
  * functions — no UDFs — so every stage stays inside whole-stage
  * codegen and Catalyst can push/prune/reorder freely.
  *
  * Scale notes (100 TB):
  *   - Exact dedup groups by a 64-bit content hash, never by the raw
  *     text, so the shuffle carries 8-byte keys.
  *   - MinHash/LSH is the linear-cost path: candidate generation is an
  *     equi-shuffle on (band_id, band_hash) — no cross join anywhere.
  *     Bucket skew (a degenerate band value shared by millions of
  *     docs) is bounded by `maxBucketSize`: oversized buckets are
  *     dropped with a logged count, the standard guard in production
  *     LSH dedup pipelines.
  *   - The exact pairwise Jaccard verify only runs on LSH candidates,
  *     so the quadratic step is confined to near-duplicate clusters.
  */
object Dedup {

  /** Shingle separator — a char that cannot appear inside a token. */
  val Sep = "\u0001"

  /** Lower-cased whitespace tokens of a text column. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Distinct k-word shingles (sequence n-grams joined with `Sep`).
    * Sequence-sensitive, unlike a bag-of-words — two docs with the
    * same vocabulary but different order share few shingles.
    */
  def shingles(toks: Column, k: Int): Column = {
    val n = size(toks)
    val grams = transform(
      sequence(lit(0), greatest(n - k, lit(-1))),
      i => array_join(slice(toks, i + 1, lit(k)), Sep))
    array_distinct(when(n < k, array().cast("array<string>")).otherwise(grams))
  }

  /** Every k-word shingle occurrence of a text, in position order, as
    * a `Sep`-joined string array: one codegen `token_ngrams` call over
    * the text's lower-cased tokens (empty tokens skipped, like
    * [[tokens]]).
    */
  def shingleRun(text: Column, k: Int): Column =
    call_function("token_ngrams", split(lower(text), "\\s+"), lit(k),
      lit(Sep))

  /** Distinct k-word STRING shingles as exploded rows (docCol, `g`),
    * one per shingle of each row. Use when a downstream stage needs
    * the shingle STRING itself (e.g. an engine-portable md5-based
    * hash); [[hashedShingles]] remains the production representation
    * everywhere else.
    */
  def explodedShingles(docs: DataFrame, docCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(docCol),
      explode(array_distinct(shingleRun(col(textCol), k))).as("g"))

  /** Distinct HASHED k-gram shingles straight from text — the
    * production representation. One native codegen pass
    * (`shingle_hash64`, GraftExtensions) from raw text to 8-byte
    * shingles: no intermediate shingle strings, no interpreted HOFs.
    * Every operator below is hash-invariant (sizes, intersections and
    * equi-joins only), so this is interchangeable with `shingles` —
    * `shingles` is kept as the readable spec/ground-truth form.
    */
  def hashedShingles(text: Column, k: Int): Column =
    call_function("shingle_hash64", split(lower(text), "\\s+"), lit(k))

  /** MinHash signature: element i = min over shingles of
    * xxhash64(i, shingle). One groupBy produces all `numHashes`
    * signature slots as independent partial-aggregatable `min`s
    * (map-side combine applies — the shuffle carries one row per doc).
    *
    * Input: one row per (doc, shingle). Output: (docCol, sig array).
    */
  def minhashSignature(exploded: DataFrame, docCol: String,
      shingleCol: String, numHashes: Int): DataFrame = {
    // Hash the (variable-width) shingle to 8 bytes ONCE, then derive
    // the numHashes slots by re-hashing (slot, h0): numHashes long
    // hashes per row instead of numHashes string hashes — the
    // signature compute is the map-side hot loop of this operator.
    val h0 = xxhash64(col(shingleCol))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), h0)).as(s"h$i"))
    exploded.groupBy(col(docCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(docCol),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding: one row per (doc, band_id, band_hash) where
    * band_hash = xxhash64 of the band's signature slice. Docs sharing
    * any band bucket are candidate pairs.
    */
  def bandBuckets(sigs: DataFrame, docCol: String, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandIds = posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
    sigs.select(col(docCol), bandIds)
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
  }

  /** Candidate pairs (d1 < d2) from shared LSH buckets. The self-join
    * is equi on (band_id, band_hash) → plain shuffled hash join; a
    * bucket of size s yields s·(s−1)/2 pairs, so oversized buckets
    * (hash collisions / boilerplate shingles) are dropped.
    */
  def candidatePairs(buckets: DataFrame, docCol: String,
      maxBucketSize: Int = 1000): DataFrame = Materialize.scoped { keep =>
    // bucket sizes via groupBy+join (map-side combinable), not a
    // count-over-window, which would sort the whole bucket stream;
    // kept because the size aggregate and the join both read it
    val cachedBuckets = keep(buckets)
    val sizes = cachedBuckets.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize)
    val sized = cachedBuckets.join(sizes, Seq("band_id", "band_hash"))
    val a = sized.select(col("band_id"), col("band_hash"),
      col(docCol).as("d1"))
    val b = sized.select(col("band_id"), col("band_hash"),
      col(docCol).as("d2"))
    val pairs = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    Materialize.cut(pairs)
  }

  /** Exact pairwise Jaccard over distinct shingle sets, computed by
    * explode + equi-join on the shingle (shuffle on shingle hash, no
    * cross join): |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|.
    *
    * QUADRATIC in per-shingle document frequency (Σ_g df(g)²) — the
    * reference implementation used only as ground truth in specs.
    * Production paths: `jaccardPairsExact` (prefix-filtered, same
    * output) or MinHash+LSH candidates + `verifyPairs`.
    */
  def jaccardPairsNaive(docs: DataFrame, docCol: String): DataFrame = {
    val sizes = docs.select(col(docCol).as("d"), size(col("shingles")).as("n"))
    val ex = docs.select(col(docCol).as("d"), explode(col("shingles")).as("g"))
    val inter = ex.as("a").join(ex.as("b"), col("a.g") === col("b.g"))
      .filter(col("a.d") < col("b.d"))
      .groupBy(col("a.d").as("d1"), col("b.d").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("d", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("d", "d2").withColumnRenamed("n", "n2"), "d2")
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter"))).as("jaccard"))
  }

  /** Exact verification of candidate pairs: join each side's full
    * shingle array in and compute Jaccard with `array_intersect` —
    * per-pair linear work, no explode. `candidates`: (d1, d2).
    */
  def verifyPairs(docs: DataFrame, docCol: String,
      candidates: DataFrame, threshold: Double): DataFrame = {
    val sets = docs.select(col(docCol).as("d"), col("shingles"))
    val withSets = candidates.select(col("d1"), col("d2"))
      .join(sets.select(col("d").as("d1"), col("shingles").as("sh1")), "d1")
      .join(sets.select(col("d").as("d2"), col("shingles").as("sh2")), "d2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
    withSets.filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Exact similarity join at `threshold` via PREFIX FILTERING
    * (AllPairs/PPJoin): order every doc's shingles by global
    * document frequency (rarest first, shingle text tie-break); two
    * sets with Jaccard ≥ t MUST share an element within their first
    * |d| − ⌈t·|d|⌉ + 1 shingles under any common total order, so the
    * candidate join only touches those prefixes — document
    * frequency of prefix shingles is low by construction, which
    * collapses the Σ df² blowup that kills the naive join on skewed
    * corpora. Candidates are then verified with `verifyPairs`.
    * Output identical to filtering `jaccardPairsNaive` at ≥ t.
    */
  def jaccardPairsExact(docs: DataFrame, docCol: String,
      threshold: Double): DataFrame = Materialize.scoped { keep =>
    val (_, ordered, prefixes) =
      orderedPrefixes(keep, docs, docCol, threshold)
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.d") < col("b.d"))
      .select(col("a.d").as("d1"), col("b.d").as("d2")).distinct()
    Materialize.cut(verifyPairs(
      ordered.select(col("d"), col("sh").as("shingles")), "d",
      cand, threshold))
  }

  /** Shared prefix-filter machinery for [[jaccardPairsExact]] and
    * [[containmentPairs]]: the exploded (d, n, g) shingle stream, the
    * per-doc df-rarest-first ordered shingle arrays, and each doc's
    * first |d| − ⌈t·|d|⌉ + 1 prefix shingles (the bound is the same
    * for the Jaccard and containment forms). `ex` and `ordered` are
    * kept for the caller's scope.
    *
    * Document frequency via groupBy + join, NOT count(*) over a
    * Window partitioned by g: the window forces a full sort of the
    * exploded stream, while groupBy is a hash aggregate with
    * map-side combine and the join's build side is only
    * |distinct shingles| rows. Shingle values are opaque (set
    * semantics only) — callers at scale pass `hashedShingles` 8-byte
    * longs.
    */
  private def orderedPrefixes(keep: Materialize.Keep, docs: DataFrame,
      docCol: String, threshold: Double): (DataFrame, DataFrame, DataFrame) = {
    val ex = keep(docs.select(col(docCol).as("d"),
      size(col("shingles")).as("n"), explode(col("shingles")).as("g")))
    val df = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ordered = keep(ex.join(df, Seq("g"))
      .groupBy(col("d"))
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("g")))),
        x => x.getField("g")).as("sh")))
    val prefixLen = (size(col("sh")) -
      ceil(lit(threshold) * size(col("sh"))) + 1).cast("int")
    val prefixes = ordered.select(col("d"), size(col("sh")).as("n"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("g"))
    (ex, ordered, prefixes)
  }

  /** Containment pairs: |A∩B| / min(|A|, |B|) ≥ t — the asymmetric
    * near-dup symmetric Jaccard structurally MISSES: a short doc
    * quoted whole inside a much longer one has J = |A|/|B| → 0 as B
    * grows, but containment 1.0. Training corpora are full of this
    * shape (quote farms, concatenated shards, boilerplate wrappers),
    * so a dedup pass keyed on Jaccard alone under-reports.
    *
    * Prefix filter, containment form: wlog |A| ≤ |B|; containment
    * ≥ t needs |A∩B| ≥ ⌈t·|A|⌉, so A must share ≥1 of its FIRST
    * |A| − ⌈t·|A|⌉ + 1 shingles (any common total order — we use
    * rarest-first df order) with B's full set. Candidates therefore
    * join the SMALLER side's prefix against full shingle streams —
    * prefix shingles are globally rare by construction, which bounds
    * Σ df·pdf like the Jaccard case. Verify is one array_intersect
    * per candidate. Output: (d1, d2, containment), d1 < d2,
    * denominator min(|A|,|B|).
    */
  def containmentPairs(docs: DataFrame, docCol: String,
      threshold: Double): DataFrame = Materialize.scoped { keep =>
    val (ex, ordered, prefixes) =
      orderedPrefixes(keep, docs, docCol, threshold)
    // prefix of the SMALLER side only (sizes tie → smaller id) ⋈ the
    // full stream: wlog |A| ≤ |B| in the completeness argument, so
    // restricting the prefix side halves candidate generation and
    // keeps the join off the larger doc's longer, less-rare prefix
    val cand = prefixes.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.d") < col("b.d"))))
      .select(least(col("a.d"), col("b.d")).as("d1"),
        greatest(col("a.d"), col("b.d")).as("d2")).distinct()
    val sets = ordered.select(col("d"), col("sh"))
    val verified = cand
      .join(sets.select(col("d").as("d1"), col("sh").as("sh1")), "d1")
      .join(sets.select(col("d").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("containment",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          least(size(col("sh1")), size(col("sh2"))))
      .filter(col("containment") >= threshold)
      .select(col("d1"), col("d2"), col("containment"))
    Materialize.cut(verified)
  }

  /** X1f — near-dup CLUSTER resolution: dup pairs → connected
    * components → one canonical keeper per component (the minimum
    * doc id, the reference-wide convention). Iterative min-label
    * propagation with pointer jumping: each round every node takes
    * min(own, neighbors' labels), then compresses one hop
    * (label := label(label)) — O(log diameter) rounds, so even a
    * pathological million-node chain converges within `maxIters`;
    * typical near-dup components (tiny dup clusters) finish in 2–3.
    * Per-round state is one skinny (id, label) table; the loop exits
    * early on convergence, counting the changed labels with `observe`
    * during the round's own cut (no extra job per round).
    *
    * Output: (doc_id, cluster_id) for every doc that appears in a
    * pair; cluster_id = min doc id reachable. Singletons are
    * implicitly kept (they never enter `pairs`).
    */
  def resolveClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // cut, not a cache: each round's frame is built on the previous
    // round's, so caching alone leaves a plan that GROWS per
    // iteration — analysis/optimization time compounds (the classic
    // iterative-lineage blowup). A cut materializes AND drops the
    // lineage, keeping every round's plan constant-size.
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct().transform(Materialize.cut)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).transform(Materialize.cut)
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nmin"))
      // r15: carry the round's OLD label through the step so the
      // convergence test becomes a filter over the already-
      // checkpointed frame instead of a join back to the previous
      // round's table that re-ran per round (guide §2.4)
      val stepped = labels.select(col("id"), col("label").as("__old"))
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("__old"),
          least(col("__old"), coalesce(col("nmin"), col("__old")))
            .as("label"))
      // pointer jump: label := min(label, label(label)) — halves the
      // remaining propagation distance every round
      val (updated, changed) = Materialize.cutObserving(stepped.as("x")
        .join(stepped.select(col("id").as("label"),
          col("label").as("parent")), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("parent"), col("label")))
            .as("label"), col("__old")),
        count(when(col("label") =!= col("__old"), lit(1))))
      converged = changed == 0L
      labels = updated.select(col("id"), col("label"))
      i += 1
    }
    // partially-propagated labels LOOK valid downstream (every doc
    // still has a cluster id — just not the component minimum), so
    // non-convergence must be loud, not a silent wrong answer. With
    // pointer jumping, maxIters=20 covers component diameters up to
    // ~2^20; hitting this means the input is pathological.
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters did not converge within $maxIters rounds — " +
        "component diameter exceeds the pointer-jumping budget; " +
        "raise maxIters")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** [[resolveClusters]] for pairs that never cross a grouping key:
    * `pairs` is (keyCol, d1, d2) with integral ids, and every pair
    * joins two docs of the same key. Output: (keyCol, doc_id,
    * cluster_id) for every doc in a pair, cluster_id = the minimum doc
    * id of its component within the key — the same ids
    * [[resolveClusters]] gives when every doc belongs to one key.
    *
    * One shuffle on the key, then a streaming union-find per key
    * group: the pairs are never collected, and memory is bounded by
    * the docs of the key group being resolved. No loop, no job at
    * build time.
    */
  def resolveClustersWithin(pairs: DataFrame, keyCol: String)
      : DataFrame = {
    val in = pairs.select(col(keyCol), col("d1").cast("long"),
      col("d2").cast("long"))
    val schema = StructType(Seq(in.schema.fields(0),
      StructField("doc_id", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = false)))
    in.repartition(col(keyCol)).sortWithinPartitions(col(keyCol))
      .mapPartitions(componentsByKey)(Encoders.row(schema))
  }

  /** Rows (key, d1, d2), contiguous by key → (key, doc, component
    * min) per key group, one group's union-find in memory at a time.
    */
  private def componentsByKey(rows: Iterator[Row]): Iterator[Row] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val key = in.head.get(0)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      // path splitting; a root is always its component's minimum id
      def find(x: Long): Long = {
        var r = parent.getOrElseUpdate(x, x)
        var c = x
        while (r != c) {
          val g = parent(r)
          parent(c) = g
          c = r
          r = g
        }
        r
      }
      while (in.hasNext && in.head.get(0) == key) {
        val r = in.next()
        val (a, b) = (find(r.getLong(1)), find(r.getLong(2)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
      parent.keys.toArray.iterator.map(id => Row(key, id, find(id)))
    }
  }

  /** Score-based canonical keeper per cluster — production dedup
    * keeps the BEST member (longest, highest quality, freshest),
    * not the smallest id: rank [[resolveClusters]] members within
    * their cluster by `scoreCol` desc (ties → smaller doc id) and
    * flag rank 1. One window by cluster_id over the skinny
    * (doc, cluster, score) table — clusters are tiny, so no
    * skew concern; the scores join is by doc id.
    *
    * Output: (docCol, cluster_id, score, is_kept).
    */
  def selectKeepers(clustered: DataFrame, scores: DataFrame,
      docCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(docCol))
    clustered.join(scores.select(col(docCol), col(scoreCol)), Seq(docCol))
      .withColumn("is_kept", row_number().over(w) === 1)
  }

  /** X1g — INCREMENTAL near-dup: which new docs duplicate the
    * existing corpus. The asymmetric form every production pipeline
    * actually runs ("dedup tonight's crawl against the 100 TB
    * corpus"): band buckets of the NEW batch equi-join band buckets
    * of the corpus — the corpus is never self-paired, so the work is
    * ∝ |new| × bucket density, not |corpus|². At scale the corpus
    * bucket table is a precomputed, bucketed-by-(band_id, band_hash)
    * artifact refreshed as batches are admitted.
    *
    * `newDocs`/`corpus`: (docCol, shingles). Output: (d1 = new doc,
    * d2 = corpus doc, jaccard ≥ threshold). The bucket-size guard
    * applies to the CORPUS side (the side big enough to have
    * degenerate buckets).
    */
  def incrementalNearDupes(newDocs: DataFrame, corpus: DataFrame,
      docCol: String, numHashes: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucketSize: Int = 1000): DataFrame =
      Materialize.scoped { keep =>
    def buckets(df: DataFrame) = bandBuckets(
      minhashSignature(
        df.select(col(docCol), explode(col("shingles")).as("g")),
        docCol, "g", numHashes),
      docCol, bands, rowsPerBand)
    val nb = buckets(newDocs)
    val cb = keep(buckets(corpus))
    val sizes = cb.groupBy(col("band_id"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucketSize)
    val cand = nb.select(col("band_id"), col("band_hash"),
        col(docCol).as("d1"))
      .join(cb.join(sizes, Seq("band_id", "band_hash"))
        .select(col("band_id"), col("band_hash"), col(docCol).as("d2")),
        Seq("band_id", "band_hash"))
      .select(col("d1"), col("d2")).distinct()
    // ids are disjoint across sides (operator contract), so one
    // unioned set table serves verifyPairs for both pair ends —
    // keeping a single copy of the Jaccard-verify formula
    val verified = verifyPairs(
      newDocs.select(col(docCol), col("shingles"))
        .unionByName(corpus.select(col(docCol), col("shingles"))),
      docCol, cand, threshold)
    Materialize.cut(verified)
  }

  /** 64-bit SimHash over a doc's shingle stream: bit j of the
    * signature is set iff Σ_shingles sign(bit j of xxhash64(shingle))
    * is ≥ 0. Pure aggregate expressions: 64 conditional sums fold into
    * one LongType column, map-side combinable like minhash.
    *
    * Input: one row per (doc, shingle); output (docCol, simhash).
    */
  def simhash(exploded: DataFrame, docCol: String,
      shingleCol: String): DataFrame =
    simhashWith(exploded, docCol, xxhash64(col(shingleCol)))

  /** Engine-portable 64-bit hash: the first 16 hex chars of md5(s),
    * assembled from four 16-bit limbs so no intermediate leaves
    * signed-long range in either engine. Bit j of the result is bit
    * j%16 of limb j/16, where limb 3 is hex chars 1–4 (most
    * significant) … limb 0 is chars 13–16 — the exact layout an ANSI
    * oracle reproduces with `('0x' || substr(md5(s), ·, 4))::BIGINT`
    * and shift/mask arithmetic (DuckDB's BIGINT `<<` overflow-checks,
    * so the oracle never assembles the full value; it reads bits from
    * the limbs directly). Used where a SQL oracle must replay the
    * hash (xxhash64 exists only in Spark); see q_dedup_simhash.
    */
  def md5Hash64(s: Column): Column = {
    val hex = md5(s)
    (0 until 4).map { limb =>
      shiftleft(
        conv(substring(hex, (3 - limb) * 4 + 1, 4), 16, 10).cast("long"),
        limb * 16)
    }.reduce(_ bitwiseOR _)
  }

  /** [[simhash]] with a caller-supplied 64-bit hash expression over
    * the shingle — e.g. [[md5Hash64]], which both Spark and an
    * external SQL oracle compute identically (xxhash64 exists only in
    * Spark). The hash only needs uniform independent bits; the
    * signature math is hash-agnostic.
    */
  def simhashWith(exploded: DataFrame, docCol: String,
      hash: Column): DataFrame = {
    // Materialize the hash in its own projection before the aggregate:
    // each of the 64 bit-sum update expressions references the hash,
    // and HashAggregate codegen does NOT subexpression-eliminate
    // across aggregate buffers — without this projection a non-trivial
    // hash (md5Hash64's four conv/substring limbs) re-evaluates up to
    // 64× per input row (measured 2.8× wall on q_dedup_simhash).
    val hashed = exploded.select(col(docCol), hash.as("__h"))
    val h = col("__h")
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(1L) === 1L, 1).otherwise(-1))
        .as(s"b$j")
    }
    val packed = (0 until 64).map { j =>
      when(col(s"b$j") >= 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    hashed.groupBy(col(docCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(docCol), packed.as("simhash"))
  }

  /** Near-dup pairs by SimHash: block on `numChunks` equal bit-chunks
    * of the 64-bit signature — by pigeonhole, a pair within Hamming
    * distance `numChunks − 1` must agree on ≥1 chunk, so with the
    * default 8×8-bit chunks the blocking is COMPLETE for hamming ≤ 7
    * and the output is exactly {pairs: bit_count(xor) ≤ maxHamming}.
    * Verify is `bit_count(xor) <= maxHamming`. Equi-join on
    * (chunk_id, chunk_value): same shuffle shape as LSH banding.
    * Scale note: fewer/wider chunks (4×16) shrink buckets for
    * billion-doc corpora at the cost of the completeness radius.
    */
  def simhashPairs(sigs: DataFrame, docCol: String,
      maxHamming: Int = 7, numChunks: Int = 8): DataFrame =
      Materialize.scoped { keep =>
    val bits = 64 / numChunks
    val mask = (1L << bits) - 1
    // Keep the signatures for the chunk self-join: both join
    // sides read them, and without the cache the entire signature
    // pipeline (shingle window + 64-sum aggregate) executes twice —
    // measured 2.6 s vs 1.1 s on q_dedup_simhash at sf0.1. Signatures
    // are one (docCol, long) row per doc, orders of magnitude smaller
    // than the shingle stream they summarize, so the cache stays
    // negligible at any corpus size.
    val cachedSigs = keep(sigs)
    val chunks = cachedSigs.select(col(docCol).as("d"), col("simhash"),
      posexplode(array((0 until numChunks).map(j =>
        shiftrightunsigned(col("simhash"), j * bits).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk_val")
    val pairs = chunks.as("a").join(chunks.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.d") < col("b.d"))
      .select(col("a.d").as("d1"), col("b.d").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    Materialize.cut(pairs)
  }

  /** X133 — sorted-neighborhood near-dup candidates (Hernández &
    * Stolfo 1995), the THIRD blocking family next to LSH bands (X1)
    * and deletion keys (X127): sort docs by a blocking key (here the
    * first `prefixTokens` tokens — near-dups share prefixes), slide a
    * window of `windowSize` over the sorted order, verify candidate
    * pairs with exact Jaccard. Complete for duplicates whose keys
    * sort within the window (the method's documented trade —
    * multi-pass with different keys in production); candidate count
    * is EXACTLY (n − w/2…)·(w−1)/… bounded by n·(w−1)/2 regardless
    * of skew, which is the property that makes it predictable where
    * hash blocking can hot-spot.
    *
    * Scale shape: the global order comes from the two-phase
    * [[CorpusOps.globalRank]] (no single-partition window); the
    * window self-join is an equi-join on the rank BUCKET (each rank
    * pairs with ≤ w−1 neighbors via a bounded offset explode), and
    * Jaccard verification runs only on candidates.
    */
  def sortedNeighborPairs(docs: DataFrame, docCol: String,
      textCol: String, shingleK: Int, windowSize: Int,
      prefixTokens: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(windowSize >= 2, s"need windowSize >= 2, got $windowSize")
    // the rank round-trip stays SKINNY (doc, key) — shingle arrays
    // through the two repartitionByRange exchanges plus a 4× window
    // fan-out measured ~10× the wall time; the verify join fetches
    // each side's shingles by doc id instead
    val ranked = CorpusOps.globalRank(
      docs.select(col(docCol),
        concat_ws(" ", slice(tokens(col(textCol)), 1, prefixTokens))
          .as("__key")),
      Seq(col("__key"), col(docCol)))
    // 8-byte hashed shingles (the X1 family's ShingleHashExpression
    // path): intersecting long arrays instead of concatenated-string
    // arrays — same Jaccard values on any real corpus (a collision
    // would need two distinct k-grams sharing a 64-bit hash inside
    // ONE candidate pair), ~2× the end-to-end speed here
    val sh = docs.select(col(docCol),
      hashedShingles(col(textCol), shingleK).as("__sh"))
    val a = ranked.select(col(docCol).as("d1"),
      col("__rank").as("__r1"),
      explode(sequence(lit(1), lit(windowSize - 1))).as("__o"))
      .withColumn("__r2", col("__r1") + col("__o"))
    val b = ranked.select(col(docCol).as("d2"), col("__rank").as("__r2"))
    a.join(b, Seq("__r2"))
      .select(col("d1"), col("d2"))
      .join(sh.select(col(docCol).as("d1"), col("__sh").as("s1")),
        Seq("d1"))
      .join(sh.select(col(docCol).as("d2"), col("__sh").as("s2")),
        Seq("d2"))
      .withColumn("__inter",
        size(array_intersect(col("s1"), col("s2"))).cast("double"))
      .withColumn("jaccard", round(col("__inter") /
        (size(col("s1")) + size(col("s2")) - col("__inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"), col("jaccard"))
  }

  /** X127 — edit-distance-1 similarity join over the corpus
    * vocabulary (typo mining — the spell-variant detector a cleaning
    * pipeline runs before frequency-based normalization), via
    * SymSpell DELETION NEIGHBORHOODS (Garbe): two words within one
    * edit ALWAYS share a member of {word} ∪ {its length−1
    * deletions}, so candidate generation is an equi-join on deletion
    * keys — len+1 keys per word, PROVABLY COMPLETE for k=1, no
    * length/q-gram special cases — with exact `levenshtein ≤ 1`
    * verification on candidates (the key join admits e.g.
    * transpositions at distance 2; verify prunes them).
    *
    * Scale shape: vocabulary-sized everywhere — one distinct-word
    * count agg, a len+1-fold key explode, the key equi-join
    * (candidate work ∝ Σ_key |words(key)|², bounded by near-identical
    * word families, never vocab²), and codegen `levenshtein` on
    * candidates only.
    */
  def typoPairs(docs: DataFrame, textCol: String): DataFrame = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    def keys(w: Column): Column = array_union(
      array(w),
      transform(sequence(lit(1), length(w)),
        i => concat(w.substr(lit(1), i - 1),
          w.substr(i + 1, length(w)))))
    val keyed = words.select(col("w"), col("n"),
      explode(keys(col("w"))).as("__k"))
    val a = keyed.select(col("__k"), col("w").as("w1"), col("n").as("c1"))
    val b = keyed.select(col("__k"), col("w").as("w2"), col("n").as("c2"))
    a.join(b, Seq("__k"))
      .filter(col("w1") < col("w2"))
      .select(col("w1"), col("w2"), col("c1"), col("c2")).distinct()
      .withColumn("dist", levenshtein(col("w1"), col("w2")))
      .filter(col("dist") <= 1)
  }

  /** X145 — persistable, MERGEABLE MinHash signature store: per key
    * (source, snapshot, shard …) a `slots`-slot signature, slot s =
    * min over the key's distinct shingles of an md5 slot hash — the
    * Jaccard counterpart of the X129 HLL snapshot store. Slot-wise
    * min is associative/commutative, so part signatures union into
    * whole signatures EXACTLY (spec-asserted), and two keys' overlap
    * estimates from signatures alone: est J = matching slots / slots
    * — the scale path beside [[CorpusOps.sourceOverlap]]'s exact
    * shingle intersection (constant-size state per key vs a full
    * shingle-set join).
    *
    * md5 slot hashes (not xxhash) so the whole store replays verbatim
    * in SQL — the established md5Band convention.
    *
    * Scale shape: distinct (key, shingle) → ×slots bounded explode →
    * map-side-combined min agg; |keys|·slots rows out. Estimates join
    * signature tables (tiny) on slot.
    */
  def minhashSketch(docs: DataFrame, keyCol: String, textCol: String,
      slots: Int = 32, shingleK: Int = 3, salt: String = "mhs")
      : DataFrame = {
    require(slots >= 1 && slots <= 512, s"bad slots $slots")
    // a fixed-count repartition, which AQE never coalesces: the md5
    // stage below is this operator's CPU and runs one task per
    // partition. Coalesced by bytes, the compact distinct-gram shuffle
    // gave it 2 tasks of 4 at sf0.1 (4.7 s against 3.4 s).
    val sh = docs.select(col(keyCol).as("key"),
        explode(array_distinct(shingleRun(col(textCol), shingleK)))
          .as("__g"))
      .repartition(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("key"), col("__g"))
      .distinct()
    // per-(row, slot) md5 through codegen'd primitives — THREE denser
    // layouts measured SLOWER at sf0.1: a 32-column min aggregate
    // recomputes its digest per lane (aggregate inputs don't share
    // subexpressions), an array-HOF lane build pays the documented
    // interpreted-scan tax, and (r16, VERDICT item 7) hashing each
    // DISTINCT shingle once + joining the (g, slot, hash) table back
    // probed 2.50 s vs 2.14 s in-place — the equi-join shuffle on g
    // costs more than the saved digests (per-source shingle sets
    // overlap too little for the key-multiplicity win to appear).
    sh.select(col("key"), col("__g"),
        explode(sequence(lit(0), lit(slots - 1))).as("slot"))
      .withColumn("__h", CorpusOps.md5Band(
        concat(col("slot").cast("string"), lit(":"), col("__g")), salt))
      .groupBy(col("key"), col("slot").cast("long").as("slot"))
      .agg(min(col("__h")).as("min_hash"))
  }

  /** Pairwise Jaccard estimates from [[minhashSketch]] signatures:
    * (key_a < key_b, n_slots, n_match, est_jaccard).
    */
  def minhashJaccard(sigs: DataFrame): DataFrame = {
    val a = sigs.select(col("key").as("key_a"), col("slot"),
      col("min_hash").as("__ha"))
    val b = sigs.select(col("key").as("key_b"), col("slot"),
      col("min_hash").as("__hb"))
    a.join(b, Seq("slot"))
      .filter(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_slots"),
        sum(when(col("__ha") === col("__hb"), 1L).otherwise(0L))
          .as("n_match"))
      .select(col("key_a"), col("key_b"), col("n_slots"), col("n_match"),
        round(col("n_match").cast("double") / col("n_slots"), 6)
          .as("est_jaccard"))
  }

  /** Slot-wise union of two signature stores (the merge law). */
  def mergeMinhash(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("key"), col("slot"))
      .agg(min(col("min_hash")).as("min_hash"))

  /** X157 — Hamming near-dup join over 64-bit signatures (pHash,
    * SimHash, any fingerprint): pigeonhole banding — split the word
    * into `maxDist + 1` bands, and any pair within `maxDist` bits
    * MUST agree on at least one whole band (maxDist flipped bits
    * cannot touch maxDist+1 bands) — so candidate generation is an
    * exact-recall equi-join on (band_idx, band_bits), verified by
    * `bit_count(xor) <= maxDist` on candidates only. The X1-SimHash
    * banding generalized to any signed-64 signature column.
    *
    * Scale shape: |ids|·(maxDist+1) banded rows, candidate work
    * Σ_band |bucket|² (bounded by signature diversity — identical
    * images collapse to one bucket, which is the answer, not a hot
    * spot: emit their pairs), popcount verify codegen'd per
    * candidate. No all-pairs anywhere.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7, s"bad maxDist $maxDist")
    val nBands = maxDist + 1
    val width = 64 / nBands // last band absorbs the remainder bits
    val banded = hashes.select(col(idCol).as("__id"),
        col(hashCol).cast("long").as("__h"),
        explode(sequence(lit(0), lit(nBands - 1))).as("__b"))
      .withColumn("__band", expr(
        s"""case when __b < ${nBands - 1}
            then shiftrightunsigned(__h, cast(__b * $width as int))
                 & ${(1L << width) - 1}L
            else shiftrightunsigned(__h, ${(nBands - 1) * width})
            end"""))
    val a = banded.select(col("__b"), col("__band"),
      col("__id").as("d1"), col("__h").as("__h1"))
    val b = banded.select(col("__b"), col("__band"),
      col("__id").as("d2"), col("__h").as("__h2"))
    a.join(b, Seq("__b", "__band"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        expr("cast(bit_count(__h1 ^ __h2) as bigint)").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** X197 — MinHash-LSH parameter planner: the (bands b, rows r)
    * S-curve table P(candidate | Jaccard s) = 1 − (1 − sʳ)ᵇ plus the
    * threshold (1/b)^(1/r) where the curve steepens — the table you
    * read BEFORE committing a banding to a 100 TB dedup run (X1's
    * minhash family consumes the chosen (b, r)).
    *
    * Engine parity: sʳ by repeated multiplication (r ≤ 8) and
    * (1−sʳ)ᵇ by repeated squaring (b ∈ {4,8,16,32,64}) — pure IEEE
    * multiply chains, bit-identical anywhere, no libm pow in the
    * collision column; only the threshold uses exp/ln (the
    * ln-on-identical-doubles convention). s walks the exact-double
    * grid i/10.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val rGrid = spark.range(1, 9).select(col("id").cast("int").as("r"))
    val bGrid = Seq(4, 8, 16, 32, 64).toDF("b")
    val sGrid = spark.range(1, 10)
      .select((col("id").cast("double") / 10.0).as("s"))
    val powR = expr("""CASE r WHEN 1 THEN s WHEN 2 THEN s*s
      WHEN 3 THEN s*s*s WHEN 4 THEN s*s*s*s WHEN 5 THEN s*s*s*s*s
      WHEN 6 THEN s*s*s*s*s*s WHEN 7 THEN s*s*s*s*s*s*s
      ELSE s*s*s*s*s*s*s*s END""")
    rGrid.crossJoin(bGrid).crossJoin(sGrid)
      .withColumn("__q", lit(1.0) - powR)
      .withColumn("__q4", col("__q") * col("__q") * col("__q") *
        col("__q"))
      .withColumn("__q8", col("__q4") * col("__q4"))
      .withColumn("__q16", col("__q8") * col("__q8"))
      .withColumn("__q32", col("__q16") * col("__q16"))
      .withColumn("__q64", col("__q32") * col("__q32"))
      .select(col("r"), col("b"), col("s"),
        round(lit(1.0) - expr("""CASE b WHEN 4 THEN __q4
          WHEN 8 THEN __q8 WHEN 16 THEN __q16 WHEN 32 THEN __q32
          ELSE __q64 END"""), 6).as("p_collision"),
        round(exp(log(lit(1.0) / col("b").cast("double")) /
          col("r").cast("double")), 6).as("s_threshold"))
  }

  /** X325 — per-group dedup impact report: for each group (source,
    * snapshot, crawl), the document and character mass exact dedup
    * would remove — docs, distinct contents, dup ratio, chars total
    * vs chars surviving the keep-min-id policy — the triage table
    * that says WHERE the X1 pass will pay off before running the
    * full pipeline (a 40%-dup source is a crawler bug; 2% is
    * ambient). One groupBy over (group, content hash) with exact
    * integer masses; keeper chars follow the X54 min-id policy so
    * the report matches what the dedup pass would actually keep.
    */
  def dedupImpact(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, charsCol: String): DataFrame = {
    val perContent = docs
      .groupBy(col(groupCol), xxhash64(lower(col(textCol))).as("__h"))
      .agg(count(lit(1)).as("__copies"),
        sum(col(charsCol)).cast("long").as("__chars"),
        min(struct(col(idCol), col(charsCol))).as("__keep"))
    perContent.groupBy(col(groupCol))
      .agg(sum(col("__copies")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_unique"),
        sum(col("__chars")).cast("long").as("chars_total"),
        sum(col("__keep").getField(charsCol)).cast("long")
          .as("chars_kept"))
      .select(col(groupCol), col("n_docs"), col("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double") /
          col("n_docs"), 6).as("dup_ratio"),
        col("chars_total"), col("chars_kept"),
        round(lit(1.0) - col("chars_kept").cast("double") /
          col("chars_total"), 6).as("chars_saved_ratio"))
  }
}
