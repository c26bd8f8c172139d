package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`) — north star X2 (SURVEY.md §2.10).
  *
  * Vector math on every hot path goes through the native codegen
  * `vec_dot` expression (one static call per row — Spark's
  * higher-order functions are interpreted per element); its
  * sequential fold order is identical to DuckDB's
  * `list_dot_product`, so oracles reproduce values bit-for-bit
  * before rounding.
  *
  * Scale notes (100 TB):
  *   - Brute-force top-k is O(|Q|·|N|): correct baseline, usable when
  *     the query side is small enough to broadcast (it is here — the
  *     join is a `broadcast` hash join, no shuffle of the corpus).
  *   - The LSH path buckets both sides by random-hyperplane sign bits
  *     (deterministic hyperplanes from xxhash64), turning the search
  *     into an equi-join on (table_id, bucket) — linear shuffle, and
  *     each bucket's candidate set is small. Recall is tunable with
  *     `tables` (independent hash tables = OR-amplification).
  */
object Similarity {

  /** Cast a float vector to double element-wise (precision parity —
    * float→double widening is exact). Native array Cast, not
    * `transform(_, _.cast(...))`: Cast is one codegen'd expression,
    * the HOF is an interpreted per-element loop.
    */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product. Resolves to the native codegen
    * `vec_dot` expression (GraftExtensions) — one static call per
    * row instead of per-element interpreted HOFs; numerically
    * identical to the fold (same order of operations).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Exact integer Σ(aᵢ−bᵢ)² on micro-quantized long components.
    * Resolves to the native codegen `vec_sqdist_l` expression —
    * identical in any engine (integer adds commute).
    */
  def sqDistL(a: Column, b: Column): Column =
    call_function("vec_sqdist_l", a, b)

  /** Exact integer Σaᵢbᵢ on micro-quantized long components (native
    * codegen `vec_dot_l`) — identical in any engine.
    */
  def dotL(a: Column, b: Column): Column =
    call_function("vec_dot_l", a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact top-k cosine neighbors of each query vector.
    * `queries`/`corpus`: (idCol, vecCol). Self-matches excluded.
    * Deterministic rank: similarity desc, then neighbor id asc.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** X209 — mutual nearest neighbors: pairs where each side is the
    * OTHER's top-1 cosine neighbor — the bidirectional-best filter
    * that mines aligned pairs (translation pairs, caption-image
    * pairs, near-synonym merges) with far higher precision than
    * one-directional top-1 (a hub vector is many points' top-1 but
    * reciprocates only one). Composes [[bruteForceTopK]] at k=1 with
    * the reciprocity self-join; same determinism contract
    * (cos desc, id tie-break).
    */
  def mutualNearest(vecs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val t = bruteForceTopK(vecs, vecs, idCol, vecCol, 1)
      .select(col("query_id").as("a"), col("neighbor_id").as("b"),
        col("cos"))
    t.as("x").join(t.as("y"),
        col("x.a") === col("y.b") && col("x.b") === col("y.a"))
      .filter(col("x.a") < col("x.b"))
      .select(col("x.a").as("id1"), col("x.b").as("id2"),
        round(col("x.cos"), 6).as("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for (table t,
    * plane p, dimension d): a splitmix64-style mix folded into
    * [-1, 1). Computed ONCE at plan time (the hyperplane is a
    * constant) and shipped as an array literal — the per-row work is
    * just the dot product, nothing is hashed at runtime.
    */
  private def planeComponent(t: Int, p: Int, d: Int): Double = {
    var z = t.toLong * 0x9E3779B97F4A7C15L + p.toLong * 0xBF58476D1CE4E5B9L +
      d.toLong * 0x94D049BB133111EBL + 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble
  }

  /** The full hyperplane for (table t, plane p) as plain doubles —
    * public so the q_knn_lsh oracle can pin the IDENTICAL constants
    * as SQL literals (the pHash pinned-basis convention): the
    * projection is a sequential double fold in both engines
    * (`vec_dot` == DuckDB `list_dot_product`), so with shared plane
    * literals the sign bits — and hence the candidate set — replay
    * bit-exactly.
    */
  def lshPlane(t: Int, p: Int, dims: Int = 64): Seq[Double] =
    (0 until dims).map(d => planeComponent(t, p, d))

  /** Sign-LSH bucket id of a vector for hash table `t`: `planes` sign
    * bits of dot(v, hyperplane) packed into a long. `dims` fixes the
    * hyperplane literals' length (vectors beyond it are truncated).
    */
  def lshBucket(v: Column, t: Int, planes: Int, dims: Int = 64): Column =
    (0 until planes).map { p =>
      val plane = typedlit((0 until dims).map(d => planeComponent(t, p, d)))
      // Native vec_dot, not aggregate(zip_with(...)): HOFs are
      // interpreted per element; this is one static call in codegen
      // with the identical sequential fold order.
      val proj = dot(v, plane)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** IVF (inverted-file) ANN — the other classic scale path: cluster
    * the corpus with MLlib KMeans (distributed fit, fixed seed),
    * bucket every vector by nearest centroid, and have each query
    * probe only its `nprobe` closest centroids' buckets, re-ranking
    * candidates with exact cosine. The centroid table is tiny and
    * ships as literals, so probe selection is pure per-row math; the
    * candidate join is an equi-join on centroid id (shuffle ∝
    * corpus/nlist per probe, never all-pairs).
    */
  /** Quantize a float/double vector column to the micro-integer grid
    * (round(x·10⁶) longs) — the repo's micro-quant convention, the
    * same `CAST(round(x*1000000.0) AS BIGINT)` both engines compute.
    */
  def quantizeL(v: Column, scale: Long = 1000000L): Column =
    transform(toDouble(v), x => round(x * scale).cast("long"))

  /** Deterministic INTEGER-state KMeans fit (r13, replacing the MLlib
    * float fit): the fit sample is the lowest `maxFitSample` rows by
    * `md5(salt‖id)` (a content-independent pseudo-random, fully
    * SQL-replayable SET — a distributed TakeOrdered, never a count
    * pass), seeds are farthest-first (Gonzalez 1985) from the hash
    * head with exact integer distances, and Lloyd updates are
    * integer: assignment by the exact ‖c‖²−2·q·c key (ties → lowest
    * centroid id), centroid update by truncated integer division
    * (Long `/` == DuckDB `//`). Every step is order-free integer
    * arithmetic, so ANY engine — and the DuckDB oracle's unrolled
    * CTE chain — reproduces the centroids bit-exactly; this is what
    * flips q_knn_ivf / q_semdedup_auto / q_ann_index from rows-only
    * to full hash oracles.
    *
    * Scale shape: one narrow TakeOrdered job collects ≤ maxFitSample
    * quantized vectors (the FAISS recipe — quantizer quality needs
    * ~1e4–1e5 points, not the corpus); the fit runs driver-local;
    * trained centroids ship as plan literals, so encode/search stay
    * fully distributed with zero fit-time shuffles.
    */
  private[graft] def fitCentersL(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, salt: String,
      maxFitSample: Int): IndexedSeq[Seq[Long]] = {
    val pts = fitSampleL(corpus, idCol, vecCol, salt, maxFitSample)
    lloydFitL(pts, math.min(k, pts.length), iters)
  }

  /** The hash-ordered quantized fit sample (one TakeOrdered job) —
    * shared by the coarse quantizer and the PQ codebooks so their
    * oracles replay ONE `fit` CTE.
    */
  private def fitSampleL(corpus: DataFrame, idCol: String,
      vecCol: String, salt: String,
      maxFitSample: Int): Array[Array[Long]] = {
    val pts = corpus
      .select(col(idCol).cast("string").as("__id"),
        quantizeL(col(vecCol)).as("__q"))
      .withColumn("__h", md5(concat(lit(salt), col("__id"))))
      .orderBy(col("__h"), col("__id"))
      .limit(maxFitSample)
      .select(col("__q")).collect()
      .map(_.getSeq[Long](0).toArray)
    require(pts.nonEmpty, "empty corpus — nothing to fit")
    pts
  }

  /** Integer Lloyd on the hash-ordered point set: farthest-first
    * seeding from index 0, `iters` synchronous updates, empty
    * clusters keep their previous center. Deterministic by
    * construction — all state is Long.
    */
  private def lloydFitL(points: Array[Array[Long]], k: Int,
      iters: Int): IndexedSeq[Seq[Long]] = {
    val n = points.length
    val dim = points.head.length
    def sq(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var t = 0
      while (t < dim) { val d = a(t) - b(t); s += d * d; t += 1 }
      s
    }
    // farthest-first traversal; ties resolve to the lowest hash-order
    // index (strict > keeps the first maximum)
    val seedIdx = scala.collection.mutable.ArrayBuffer(0)
    val minD = Array.fill(n)(Long.MaxValue)
    while (seedIdx.size < k) {
      val last = points(seedIdx.last)
      var best = 0; var bestD = -1L
      var i = 0
      while (i < n) {
        val d = sq(points(i), last)
        if (d < minD(i)) minD(i) = d
        if (minD(i) > bestD) { bestD = minD(i); best = i }
        i += 1
      }
      seedIdx += best
    }
    var centers: Array[Array[Long]] = seedIdx.map(points(_).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var bestJ = 0; var bestKey = Long.MaxValue
        var j = 0
        while (j < k) {
          var key = 0L; var t = 0
          while (t < dim) {
            val c = centers(j)(t); key += c * c - 2L * p(t) * c; t += 1
          }
          if (key < bestKey) { bestKey = key; bestJ = j }
          j += 1
        }
        var t = 0
        while (t < dim) { sums(bestJ)(t) += p(t); t += 1 }
        counts(bestJ) += 1
      }
      centers = centers.zipWithIndex.map { case (c, j) =>
        if (counts(j) == 0) c
        else sums(j).map(_ / counts(j))
      }
    }
    centers.map(_.toSeq).toIndexedSeq
  }

  /** Centroid ids of an integer codebook ordered by the exact
    * ‖c‖²−2·q·c key (ties → lowest cid), built from ONE array of
    * (key, cid) structs — `qv` must be the [[quantizeL]] form. NB: an
    * argmin via reduce(when(a<=b,a,b)) would duplicate the whole
    * distance subtree at every step — exponential expression blowup.
    */
  private[graft] def rankedCidsL(qv: Column, centroids: Seq[Seq[Long]]): Column =
    transform(array_sort(array(centroids.zipWithIndex.map {
      case (c, i) =>
        struct((lit(c.map(x => x * x).sum) - lit(2L) * dotL(qv, typedlit(c)))
          .as("d"), lit(i).as("cid"))
    }: _*)), s => s.getField("cid"))

  private[graft] def argminCodeL(qv: Column, book: Seq[Seq[Long]]): Column =
    element_at(rankedCidsL(qv, book), 1)

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 5, maxFitSample: Int = 10000): DataFrame = {
    // 5 Lloyd iterations by default: inverted-file partition quality
    // plateaus in a handful of iterations; the recall spec vs brute
    // force is the guard on this choice.
    val centroids = fitCentersL(corpus, idCol, vecCol, nlist, iters,
      KmFitSalt, maxFitSample)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("neighbor_v"))
      .withColumn("__qnv", quantizeL(col("neighbor_v")))
      .withColumn("cid", argminCodeL(col("__qnv"), centroids))
      .drop("__qnv")
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("query_v"))
      .withColumn("__qqv", quantizeL(col("query_v")))
      .select(col("query_id"), col("query_v"),
        explode(slice(rankedCidsL(col("__qqv"), centroids),
          1, nprobe)).as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // Broadcast the exploded probe side (|Q|·nprobe rows): the corpus
    // stays unshuffled — a broadcast hash join on cid touches each
    // corpus partition exactly once.
    broadcast(q).join(c, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("query_v"), col("neighbor_v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** The shared coarse-quantizer fit salt: seed 42, the convention
    * every IVF-family operator and its oracle interpolate.
    */
  val KmFitSalt = "kmfit:42:"

  /** EXACT all-pairs cosine join at `threshold`, block-partitioned:
    * each side is hash-assigned to one of `numBlocks` blocks, both
    * sides are replicated to every block pair they participate in
    * (a broadcast join against the tiny block-pair dimension — each
    * row fans out ~(numBlocks+1)/2×), and the candidate join is an
    * equi-join on the COMBINED (ba, bb) key — numBlocks·(numBlocks+1)/2
    * distinct composite keys, so each block pair is an independent
    * task and the n² compute spreads across the cluster instead of
    * funneling into numBlocks join partitions. Same output as a naive
    * self-join — provably complete — and per-task memory is one block
    * per side (corpus/numBlocks rows); numBlocks scales with corpus
    * size to keep per-task memory constant and with cluster size to
    * keep block-pair count ≥ total cores.
    *
    * Why not sign-LSH buckets here: bucketed LSH only beats n² when
    * the threshold is tight. At cos ≥ 0.4 the angle is ~66°, a plane
    * agrees on a qualifying pair w.p. only 0.63, so completeness-
    * preserving parameters need ≤3 planes per table — buckets of
    * n/8 docs whose within-bucket pair count EXCEEDS the all-pairs
    * join, with completeness still only probabilistic (this corpus's
    * qualifying pairs all sit at 0.40–0.60). LSH is the right path
    * for near-dup thresholds (see Dedup.simhashPairs / lshTopK);
    * an exact low-threshold join is inherently quadratic and the
    * right engineering is to distribute it memory-bounded.
    */
  def cosinePairsBlocked(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBlocks: Int = 16): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val v = vecs.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("e"))
      .withColumn("nrm", l2norm(col("e")))
      // hash-blocked, not range-blocked: uniform block sizes no matter
      // how ids are distributed
      .withColumn("blk", pmod(xxhash64(col("vid")), lit(numBlocks.toLong))
        .cast("int"))
    // r16 NEGATIVE RESULT (guide §1 measure-first): materializing v
    // with localCheckpoint(true) here was probed at sf0.1 and LOST
    // (q_embedding_clusters 2.60 → 3.56 s) — caching the fat
    // double-array rows costs more than the duplicate codegen'd
    // columnar scan + l2norm the two join sides pay today. Left
    // recomputed on purpose; see semDedup's materializeVecs for the
    // case where the upstream IS expensive enough to cache.
    val a = v.select(col("blk").as("ba"), col("vid").as("v1"),
      col("e").as("e1"), col("nrm").as("n1"))
    val b = v.select(col("blk").as("bb"), col("vid").as("v2"),
      col("e").as("e2"), col("nrm").as("n2"))
    val blockPairs = (for {
      i <- 0 until numBlocks
      j <- i until numBlocks
    } yield (i, j)).toDF("ba", "bb")
    // replicate each side to its block pairs with a broadcast join
    // (no shuffle), then equi-join on the composite (ba, bb) key —
    // one shuffle per side, partitioned across all block pairs
    val aExp = broadcast(blockPairs).join(a, "ba")
    val bExp = broadcast(blockPairs).join(b, "bb")
    // a same-block pair dedups by id order; a cross-block pair occurs
    // exactly once (ba < bb), in arbitrary id order → normalize ids
    aExp.join(bExp, Seq("ba", "bb"))
      .filter(col("ba") < col("bb") || col("v1") < col("v2"))
      .withColumn("cos0", dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cos0") >= threshold)
      .select(least(col("v1"), col("v2")).as("v1"),
        greatest(col("v1"), col("v2")).as("v2"), col("cos0"))
  }

  /** Approximate top-k: candidates share an LSH bucket in ≥1 of
    * `tables` hash tables; exact cosine re-rank on candidates only.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, tables: Int = 8, planes: Int = 8): DataFrame = {
    def bucketed(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"${side}_id"), toDouble(col(vecCol)).as(s"${side}_v"))
        .select(col(s"${side}_id"), col(s"${side}_v"),
          posexplode(array((0 until tables).map(t =>
            lshBucket(col(s"${side}_v"), t, planes)): _*)))
        .withColumnRenamed("pos", "table_id")
        .withColumnRenamed("col", "bucket")
    val q = bucketed(queries, "query")
    val c = bucketed(corpus, "neighbor")
    // Broadcast the (small) query side: the corpus — the side that is
    // 100 TB in production — is never shuffled. Cosine is computed
    // BEFORE cross-table dedup so the dedup groupBy shuffles only
    // (query_id, neighbor_id, cos) triples, not 64-dim vectors; a pair
    // matching in several tables recomputes a cheap vec_dot and
    // collapses in the map-side partial aggregate.
    val cand = broadcast(q).join(c, Seq("table_id", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("query_v"), col("neighbor_v")))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Product-quantized ANN (IVF's memory-side companion): the vector
    * splits into `m` subspaces, each quantized to one of `ksub`
    * KMeans codewords, so a 64-dim float vector (256 B) becomes `m`
    * small codes (+ one stored norm for cosine) — at m=8/ksub=16
    * that is ~64× less state to scan, the difference between
    * spilling and RAM-resident at 10⁹+ vectors. Search is ADC
    * (asymmetric distance): each query precomputes an m×ksub lookup
    * table of subspace dot products ONCE (plan literals ⋅ query
    * subvectors, before the join), so scoring a corpus row is `m`
    * array lookups — no vector math per pair. The ADC top
    * `k·refine` then re-rank EXACTLY by fetching only those rows'
    * full vectors (an equi-join on id — at scale this touches
    * k·refine·|Q| vectors, not the corpus). Codebooks fit on a
    * corpus sample like [[ivfTopK]]; approximate like it, so the
    * contract is rows-only + the recall spec.
    */
  /** Per-subspace INTEGER codebooks off the shared hash-ordered fit
    * sample (r13 — the same [[lloydFitL]] kernel as the coarse
    * quantizer, run on each subspace's slices): deterministic,
    * engine-independent, and oracle-replayable — what flips
    * q_knn_pq / q_knn_ivfpq to full hash oracles.
    */
  private def pqCodebooksL(sample: Array[Array[Long]], m: Int,
      sub: Int, ksub: Int, iters: Int): IndexedSeq[Seq[Seq[Long]]] =
    (0 until m).map { j =>
      lloydFitL(sample.map(_.slice(j * sub, (j + 1) * sub)),
        math.min(ksub, sample.length), iters)
    }

  /** (codes, lut) column builders over `m` integer sub-space
    * codebooks — `v` must be the [[quantizeL]] form: codes is the
    * per-row array of nearest codeword ids (exact integer argmin);
    * lut is the per-query m×ksub table of INTEGER sub-space dot
    * products, computed once per query row BEFORE any join so
    * per-pair ADC cost is m array lookups. Every lut value is below
    * 2⁵³, so the oracle's double arithmetic replays the Long sums
    * bit-exactly.
    */
  private def pqColumns(codebooks: IndexedSeq[Seq[Seq[Long]]],
      sub: Int): (Column => Column, Column => Column) = {
    def subvec(v: Column, j: Int): Column = slice(v, j * sub + 1, sub)
    val codes = (v: Column) => array(codebooks.indices.map(j =>
      argminCodeL(subvec(v, j), codebooks(j))): _*)
    val lut = (v: Column) => array(codebooks.indices.map { j =>
      array(codebooks(j).map(c =>
        dotL(subvec(v, j), typedlit(c))): _*)
    }: _*)
    (codes, lut)
  }

  private def adcScore(m: Int): Column =
    (0 until m).map(j =>
        element_at(element_at(col("lut"), j + 1),
          element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _) / (col("qnrm") * col("nrm"))

  /** Exact re-rank of an ADC shortlist: fetch full vectors for the
    * (query, neighbor) candidates only — an equi-join on id touching
    * k·refine·|Q| vectors, never the corpus.
    */
  private def exactRerank(cand: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val full = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("nv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(full, Seq("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      refine: Int = 4, maxFitSample: Int = 16384): DataFrame = {
    val dims = corpus.select(size(col(vecCol))).head.getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    val sample = fitSampleL(corpus, idCol, vecCol, KmFitSalt, maxFitSample)
    require(sample.length >= ksub,
      s"need >= ksub=$ksub vectors to train codebooks, got ${sample.length}")
    val codebooks = pqCodebooksL(sample, m, sub, ksub, iters = 8)
    val (codesOf, lutOf) = pqColumns(codebooks, sub)

    // the compressed corpus: codes + norm — all a 100 TB ADC scan reads
    // quantize ONCE into a named column: projection boundaries stop
    // CollapseProject from inlining the interpreted transform into
    // all m*ksub argmin subtrees (measured 6x on the corpus encode)
    val codes = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("cv"))
      .withColumn("qcv", quantizeL(col("cv")))
      .select(col("neighbor_id"), codesOf(col("qcv")).as("codes"),
        l2norm(col("cv")).as("nrm"))
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
      .withColumn("qqv", quantizeL(col("qv")))
      .select(col("query_id"), col("qv"), l2norm(col("qv")).as("qnrm"),
        lutOf(col("qqv")).as("lut"))

    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val cand = broadcast(q).join(codes,
        col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcScore(m))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    exactRerank(cand, corpus, idCol, vecCol, k)
  }

  /** IVF-PQ — the standard 10⁹-vector layout, composing [[ivfTopK]]'s
    * list pruning with [[pqTopK]]'s compressed scan: the corpus is
    * bucketed by nearest coarse centroid AND stored as PQ codes, each
    * query probes its `nprobe` closest lists, and ADC scores only the
    * probed lists' codes (equi-join on list id — per-query work is
    * `nprobe/nlist` of a scan that is itself ~64× smaller than raw
    * vectors). Exact re-rank as in [[pqTopK]]. Codes quantize raw
    * vectors (IVFFlat-PQ hybrid), not per-list residuals — residual
    * encoding buys accuracy at the same code budget but couples the
    * codebooks to the coarse quantizer; the recall spec bounds what
    * this variant gives up.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 8, nprobe: Int = 4,
      m: Int = 16, ksub: Int = 16, refine: Int = 8,
      maxFitSample: Int = 16384): DataFrame = {
    val dims = corpus.select(size(col(vecCol))).head.getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    val sample = fitSampleL(corpus, idCol, vecCol, KmFitSalt, maxFitSample)
    require(sample.length >= math.max(ksub, nlist),
      s"need >= ${math.max(ksub, nlist)} vectors to train, " +
        s"got ${sample.length}")
    val coarse = lloydFitL(sample, math.min(nlist, sample.length),
      iters = 8)
    val codebooks = pqCodebooksL(sample, m, sub, ksub, iters = 8)
    val (codesOf, lutOf) = pqColumns(codebooks, sub)

    val codes = corpus.select(col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("cv"))
      .withColumn("qcv", quantizeL(col("cv")))
      .select(col("neighbor_id"),
        element_at(rankedCidsL(col("qcv"), coarse), 1).as("list_id"),
        codesOf(col("qcv")).as("codes"), l2norm(col("cv")).as("nrm"))
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
      .withColumn("qqv", quantizeL(col("qv")))
      .select(col("query_id"), col("qv"), l2norm(col("qv")).as("qnrm"),
        lutOf(col("qqv")).as("lut"),
        explode(slice(rankedCidsL(col("qqv"), coarse), 1, nprobe))
          .as("list_id"))

    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    // equi-join on list id: the corpus side stays unshuffled under a
    // broadcast of |Q|·nprobe probe rows, like ivfTopK
    val cand = broadcast(q).join(codes, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcScore(m))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("qv"), col("neighbor_id"))
    exactRerank(cand, corpus, idCol, vecCol, k)
  }

  /** Incremental [[semDedup]]: a NEW batch of embeddings checked for
    * near-dups against the EXISTING corpus only — the embedding face
    * of [[Dedup.incrementalNearDupes]] (X23), and the per-ingest form
    * of SemDeDup: corpus vectors are never paired with each other,
    * so per-batch cost is |batch|·(corpus cluster sizes), not a
    * corpus self-join.
    *
    * Output: one row per new vector — (new_id, clusterCol, is_dup,
    * dup_of, cos): dup_of = the best-matching corpus vector (highest
    * cosine ≥ `tau` within the same cluster, ties to the smaller
    * corpus id), null when the vector is novel.
    *
    * Scale shape: the corpus side hash-blocks `numBlocks` ways per
    * cluster and the (small) batch replicates to every block —
    * |clusters|·numBlocks join keys, so parallelism never caps at
    * the cluster count; per-task memory is one corpus block. The
    * best-match window partitions by new id (batch-sized).
    */
  def incrementalSemDedup(newVecs: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, clusterCol: String, tau: Double,
      numBlocks: Int = 8): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val n = newVecs.select(col(idCol).as("new_id"),
      col(clusterCol).as("__c"), toDouble(col(vecCol)).as("__ne"))
      .withColumn("__nn", l2norm(col("__ne")))
    val c = corpus.select(col(idCol).as("dup_of"),
      col(clusterCol).as("__c"), toDouble(col(vecCol)).as("__ce"))
      .withColumn("__cn", l2norm(col("__ce")))
      .withColumn("blk", pmod(xxhash64(col("dup_of")),
        lit(numBlocks.toLong)).cast("int"))
    val blocks = (0 until numBlocks).toDF("blk")
    val matches = n.crossJoin(broadcast(blocks))
      .join(c, Seq("__c", "blk"))
      .withColumn("__cos",
        dot(col("__ne"), col("__ce")) / (col("__nn") * col("__cn")))
      .filter(col("__cos") >= tau)
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("__cos").desc, col("dup_of"))
    val best = matches
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("new_id"), col("dup_of"),
        round(col("__cos"), 6).as("cos"))
    newVecs.select(col(idCol).as("new_id"), col(clusterCol))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col(clusterCol),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"), col("cos"))
  }

  /** Top-`k` embedding outliers per the labeled-centroid model: the
    * vectors FARTHEST (euclidean) from their own label's mean vector —
    * the standard mislabel/contamination screen over an embedded
    * corpus (a "cat" embedding sitting far from the cat centroid is a
    * labeling error, an OOD document, or a poisoned example).
    *
    * Output: (idCol, labelCol, dist, rk), rk in 1..k globally by
    * (dist desc, id) on the 6-dp-rounded distance — rounding before
    * ranking keeps the order identical across engines despite
    * sum-order ulp drift in the centroid means.
    *
    * Scale shape: centroids are one posexplode + (label, dim) mean —
    * map-side combinable, output |labels|·dims rows (metadata-sized,
    * broadcast back); distances are one more exploded join + per-id
    * sum; the global top-k is TakeOrderedAndProject. Two corpus-wide
    * passes, no shuffle wider than (id, dim partial sums).
    */
  /** SemDeDup-style cluster-scoped embedding dedup (Abbas et al.
    * 2023): generate cosine near-dup pairs ONLY within each cluster,
    * resolve connected components, and keep one canonical vector
    * (min id) per component — semantic dedup at corpus scale without
    * the global n² pair join.
    *
    * `clusterCol` is the cluster assignment — a KMeans id in the
    * paper, any partitioning column here (the operator is
    * assignment-agnostic; with the driver data's `label` column the
    * whole pipeline is deterministic and SQL-reproducible).
    *
    * Output: one row per input vector — (idCol, clusterCol,
    * component_id, is_kept); vectors in no pair form their own
    * singleton component and are kept.
    *
    * Scale shape: THE point of SemDeDup — pairs meet through the
    * cluster equi-join, so the quadratic term is Σ_c n_c², bounded by
    * the largest cluster, not the corpus (k is chosen to keep
    * clusters small; the paper uses k≈10⁵ for 10⁸ docs). The join key
    * is (cluster, block-pair), NOT the bare cluster: with few (or
    * skewed) clusters a cluster-only key caps parallelism at
    * |clusters| tasks, so each cluster's vectors are additionally
    * hash-blocked and expanded to block pairs exactly as in
    * [[cosinePairsBlocked]] — |clusters|·numBlocks·(numBlocks+1)/2
    * independent tasks, per-task memory one block per side. Norms
    * are computed once per side before the join; components resolve
    * per cluster ([[Dedup.resolveClustersWithin]]), since no pair
    * crosses one.
    */
  /** Distributed KMeans ASSIGNMENT — the step that makes [[semDedup]]
    * (and IVF-style indexing) self-contained when no cluster column
    * exists: integer centroids train on the bounded driver-side fit
    * sample ([[fitCentersL]]), then ship as PLAN LITERALS into a
    * scan-stage argmin projection. Assignment is therefore a pure
    * map over the corpus: no shuffle, no join, no broadcast variable
    * — the exact-integer ‖c‖²−2·q·c single-array argmin
    * ([[argminCodeL]]).
    *
    * Deterministic by CONSTRUCTION (r13): the whole fit is integer
    * arithmetic over an md5-selected sample, so the assignment — not
    * just "deterministic for a seed" but engine-independent — replays
    * in the DuckDB oracle as an unrolled CTE chain. Ties in the
    * argmin resolve to the lowest center id. k caps at the sample
    * size (degenerate corpora).
    */
  def assignClusters(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 10, seed: Long = 42L, maxFitSample: Int = 10000,
      outCol: String = "cluster_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val centers = fitCentersL(vecs, idCol, vecCol, k, iters,
      s"kmfit:$seed:", maxFitSample)
    vecs.withColumn("__qv", quantizeL(col(vecCol)))
      .withColumn(outCol, argminCodeL(col("__qv"), centers))
      .drop("__qv")
  }

  /** [[semDedup]] with its OWN cluster assignment ([[assignClusters]])
    * — the full Abbas et al. 2023 pipeline for a corpus that arrives
    * without labels: KMeans on a bounded sample, scan-stage argmin
    * assignment, then cluster-scoped near-dup components. Near-
    * identical vectors land in the same cluster by construction
    * (argmin of near-equal points agrees except exactly at Voronoi
    * boundaries), so recall vs an oracle clustering degrades only at
    * boundary-straddling pairs — the paper's own approximation.
    */
  def semDedupAuto(vecs: DataFrame, idCol: String, vecCol: String,
      tau: Double, k: Int, iters: Int = 10, seed: Long = 42L,
      maxFitSample: Int = 10000, numBlocks: Int = 8): DataFrame =
    semDedup(
      assignClusters(vecs, idCol, vecCol, k, iters, seed, maxFitSample,
        "cluster_id"),
      idCol, vecCol, "cluster_id", tau, numBlocks,
      materializeVecs = true)

  /** `materializeVecs` checkpoints the normed+blocked vector table so
    * its THREE consumers (both self-join sides + the readout) share
    * one computation. r16 probes (guide §1 measure-first): a WIN when
    * the input carries an expensive per-row projection —
    * [[semDedupAuto]]'s KMeans argmin assignment (q_semdedup_auto
    * 2.78 → 2.12 s) — and a LOSS for a plain columnar scan + l2norm
    * (q_semdedup 4.55 → 6.03 s when forced on): caching fat
    * double-array rows costs more than recomputing a cheap codegen
    * scan. Default off; flip it when the input plan is expensive.
    */
  def semDedup(vecs: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, tau: Double, numBlocks: Int = 8,
      materializeVecs: Boolean = false): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val v0 = vecs.select(col(idCol).as("vid"), col(clusterCol).as("__c"),
      toDouble(col(vecCol)).as("__e"))
      .withColumn("__n", l2norm(col("__e")))
      .withColumn("blk", pmod(xxhash64(col("vid")), lit(numBlocks.toLong))
        .cast("int"))
    val v = if (materializeVecs) Materialize.cut(v0) else v0
    val a = v.select(col("__c"), col("blk").as("ba"), col("vid").as("v1"),
      col("__e").as("e1"), col("__n").as("n1"))
    val b = v.select(col("__c"), col("blk").as("bb"), col("vid").as("v2"),
      col("__e").as("e2"), col("__n").as("n2"))
    val blockPairs = (for {
      i <- 0 until numBlocks
      j <- i until numBlocks
    } yield (i, j)).toDF("ba", "bb")
    val pairs = broadcast(blockPairs).join(a, "ba")
      .join(broadcast(blockPairs).join(b, "bb"), Seq("__c", "ba", "bb"))
      .filter(col("ba") < col("bb") || col("v1") < col("v2"))
      .filter(dot(col("e1"), col("e2")) / (col("n1") * col("n2")) >= tau)
      .select(col("__c"), least(col("v1"), col("v2")).as("d1"),
        greatest(col("v1"), col("v2")).as("d2"))
    // pairs never cross a cluster, so components resolve per cluster
    val vidType = v.schema("vid").dataType
    val comps = Dedup.resolveClustersWithin(pairs, "__c")
      .select(col("__c"), col("doc_id").cast(vidType).as("vid"),
        col("cluster_id").cast(vidType).as("__comp"))
    // readout from v, not vecs: (vid, __c) are straight projections
    // of (idCol, clusterCol), so values are identical and a recompute
    // of the input disappears when v is cut
    v.select(col("vid"), col("__c"))
      .join(comps, Seq("vid", "__c"), "left")
      .select(col("vid").as(idCol), col("__c").as(clusterCol),
        coalesce(col("__comp"), col("vid")).as("component_id"),
        (coalesce(col("__comp"), col("vid")) === col("vid"))
          .as("is_kept"))
  }

  /** X91 — simplified (centroid-form) silhouette per label: for each
    * vector, a = distance to its own label's centroid, b = distance
    * to the nearest OTHER centroid, s = (b−a)/max(a,b); reported as
    * the per-label mean. The O(n²) pairwise silhouette collapses to
    * the centroid form every large-scale clustering report actually
    * uses — cost is \|vectors\|·dim·\|labels\| through a broadcast
    * centroid join, never vector×vector. s → 1 means tight,
    * well-separated labels; s ≤ 0 means the label's vectors sit
    * closer to a foreign centroid (mislabeled or overlapping).
    *
    * Scale shape: one (label, dim) centroid agg (map-side combined,
    * vocab-of-labels-sized output, broadcast back), one per-(vector,
    * candidate-label) distance agg, one per-label mean.
    */
  def centroidSilhouette(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val exploded = vecs.select(col(idCol), col(labelCol).as("__lab"),
      posexplode(toDouble(col(vecCol))).as(Seq("dim", "x")))
    val centroids = exploded.groupBy(col("__lab").as("__lab2"), col("dim"))
      .agg(avg(col("x")).as("m"))
    val dists = exploded.join(broadcast(centroids), Seq("dim"))
      .groupBy(col(idCol), col("__lab"), col("__lab2"))
      .agg(sqrt(sum((col("x") - col("m")) * (col("x") - col("m"))))
        .as("__d"))
    val ab = dists.groupBy(col(idCol), col("__lab"))
      .agg(max(when(col("__lab") === col("__lab2"), col("__d"))).as("__a"),
        min(when(col("__lab") =!= col("__lab2"), col("__d"))).as("__b"))
    ab.withColumn("__s",
        when(greatest(col("__a"), col("__b")) > 0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)))
      .groupBy(col("__lab").as(labelCol))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("__s")), 6).as("mean_silhouette"))
  }

  /** X96 — Davies-Bouldin clustering-quality index in the centroid
    * form (Davies & Bouldin 1979), the companion report to
    * [[centroidSilhouette]]: per label l, scatter s_l = mean distance
    * to own centroid; similarity to label m, R_lm = (s_l+s_m)/d(c_l,c_m);
    * the per-label score is max_{m≠l} R_lm (lower = better separated;
    * the corpus-level index is the mean of these — derivable from the
    * output). Catches the failure silhouette under-reports: two tight
    * clusters sitting on top of each other.
    *
    * Scale shape: one posexplode scan → per-label centroid agg
    * (\|labels\|·dim rows), scatters via one broadcast join back, and
    * the R matrix lives on the \|labels\|² centroid pair table —
    * vectors are touched exactly twice, never pairwise.
    */
  def daviesBouldin(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val exploded = vecs.select(col(idCol), col(labelCol).as("__lab"),
      posexplode(toDouble(col(vecCol))).as(Seq("dim", "x")))
    val centroids = exploded.groupBy(col("__lab"), col("dim"))
      .agg(avg(col("x")).as("m"))
    val scatter = exploded.join(broadcast(centroids), Seq("__lab", "dim"))
      .groupBy(col(idCol), col("__lab"))
      .agg(sqrt(sum((col("x") - col("m")) * (col("x") - col("m"))))
        .as("__d"))
      .groupBy(col("__lab"))
      .agg(count(lit(1)).as("n_vectors"), avg(col("__d")).as("__s"))
    val a = centroids.select(col("__lab").as("__la"), col("dim"),
      col("m").as("__ma"))
    val b = centroids.select(col("__lab").as("__lb"), col("dim"),
      col("m").as("__mb"))
    val cdist = a.join(b, Seq("dim")).filter(col("__la") =!= col("__lb"))
      .groupBy(col("__la"), col("__lb"))
      .agg(sqrt(sum((col("__ma") - col("__mb")) * (col("__ma") - col("__mb"))))
        .as("__cd"))
    val sa = scatter.select(col("__lab").as("__la"), col("__s").as("__sa"))
    val sb = scatter.select(col("__lab").as("__lb"), col("__s").as("__sb"))
    cdist.join(sa, Seq("__la")).join(sb, Seq("__lb"))
      .groupBy(col("__la"))
      .agg(max((col("__sa") + col("__sb")) / col("__cd")).as("__r"))
      .join(scatter.withColumnRenamed("__lab", "__la"), Seq("__la"))
      .select(col("__la").as(labelCol), col("n_vectors"),
        round(col("__s"), 6).as("scatter"),
        round(col("__r"), 6).as("db_score"))
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix —
    * deterministic (fixed sweep order, fixed sweep count, convergence
    * on off-diagonal mass), driver-side: the input here is a dim×dim
    * covariance (dim ≤ a few hundred), never data-sized.
    */
  private[operators] def jacobiEigen(aIn: Array[Array[Double]],
      maxSweeps: Int = 50): (Array[Double], Array[Array[Double]]) = {
    val n = aIn.length
    val a = aIn.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-14) {
      off = 0.0
      for (p <- 0 until n; q <- p + 1 until n) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-18) {
          val theta = 0.5 * (a(q)(q) - a(p)(p)) / a(p)(q)
          val t = (if (theta >= 0) 1.0 else -1.0) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until n) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (i <- 0 until n) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
          }
          for (i <- 0 until n) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)),
      Array.tabulate(n)(j => Array.tabulate(n)(i => v(i)(j)))) // rows = eigvecs
  }

  /** X116 — PCA whitening of an embedding column (Jung et al. 2021
    * "Whitening Sentence Representations"; the standard pre-step
    * before cosine dedup/ANN when embeddings have anisotropic
    * variance): project onto the top-`k` covariance eigenvectors and
    * rescale each to unit variance, so downstream cosine/L2 treats
    * every retained direction equally.
    *
    * Architecture — the [[semDedupAuto]] layout: the distributed part
    * computes the (dim, dim) covariance moments (one posexplode
    * self-join on the row id, map-side combined to dim² sums — the
    * irreducible covariance work), the dim²-bounded moment table
    * collects to the driver where cyclic Jacobi (deterministic) takes
    * eigenpairs, and the whitening matrix returns to the plan as
    * LITERAL coefficients — projection is a zero-exchange scan.
    * Eigenvectors sort by eigenvalue desc (ties by index) and fix
    * sign (first max-|coeff| component positive), so output is
    * deterministic across runs and partitionings; the query contract
    * is rows-only (no closed-form oracle for eigenvectors), with the
    * whitening guarantees spec-asserted instead.
    */
  def pcaWhiten(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      eps: Double = 1e-9): DataFrame = {
    val dims = vecs.select(size(col(vecCol))).head.getInt(0)
    require(k >= 1 && k <= dims, s"need 1 <= k <= $dims, got $k")
    // Upper-triangle second moments + first moments via ONE
    // mapPartitions accumulator pass — a per-partition dim²/2 long
    // array, one skinny row per partition to the driver (the
    // treeAggregate-covariance shape; a posexplode self-join measured
    // ~10× the wall time for the same sums). Per-term nano-unit
    // quantization before the sums: integer sums commute, so the
    // covariance — and therefore the eigenbasis and every whitened
    // output — is identical under any partitioning (a raw double
    // sum's order-dependent ulps would leak through Jacobi into
    // round(6)-visible differences; spec-asserted).
    val d = dims
    val tri = d * (d + 1) / 2
    // the accumulator pass is CPU-bound (d²/2 rint+multiply per row);
    // a small parquet can arrive as one partition and serialize it —
    // spread to the cluster's parallelism first (integer sums commute,
    // so the result is partitioning-invariant by construction)
    val proj = vecs.select(toDouble(col(vecCol)).as("__v"))
    val para = vecs.sparkSession.sparkContext.defaultParallelism
    val projRdd = {
      val r = proj.rdd
      if (r.getNumPartitions < para) r.repartition(para) else r
    }
    val parts = projRdd.mapPartitions { it =>
        val sxy = new Array[Long](tri)
        val sx = new Array[Long](d)
        var n = 0L
        // overflow guard with ZERO cost in the d²/2 hot loop (an
        // addExact there blocks JIT vectorization — measured ~7×):
        // track max(|x|, x²) per row, and at partition end PROVE
        // n·maxTerm fits Long; at ~10⁹ rows × few-unit coordinates
        // the nano-quantized tri-sum could otherwise silently wrap.
        var maxTerm = 0L
        it.foreach { row =>
          val v = row.getSeq[Double](0)
          n += 1
          var rowMax = 0.0
          var i = 0; var t = 0
          while (i < d) {
            val xi = v(i)
            val a = math.abs(xi)
            if (a > rowMax) rowMax = a
            sx(i) += math.rint(xi * 1e9).toLong
            var j = i
            while (j < d) {
              sxy(t) += math.rint(xi * v(j) * 1e9).toLong
              j += 1; t += 1
            }
            i += 1
          }
          val tb = math.rint(math.max(rowMax, rowMax * rowMax) * 1e9)
            .toLong + 1L
          if (tb > maxTerm) maxTerm = tb
        }
        require(maxTerm == 0L || n <= Long.MaxValue / maxTerm,
          s"pcaWhiten: nano-quantized covariance sums could exceed " +
            s"Long range in one partition (n=$n rows, max per-term " +
            s"magnitude ~$maxTerm); rescale the input coordinates or " +
            s"repartition finer")
        Iterator.single((n, sx, sxy))
      }.collect()
    require(parts.exists(_._1 > 0), "empty input")
    val n = parts.map(_._1).sum.toDouble
    // cross-partition merge in BigInt: exact at any cluster size (the
    // per-partition sums are Long-guarded above; their sum across
    // thousands of partitions need not be)
    val sx = Array.fill(d)(BigInt(0))
    val sxy = Array.fill(tri)(BigInt(0))
    parts.foreach { case (_, px, pxy) =>
      var i = 0
      while (i < d) { sx(i) += px(i); i += 1 }
      var t = 0
      while (t < tri) { sxy(t) += pxy(t); t += 1 }
    }
    val mean = Array.tabulate(d)(i => sx(i).toDouble / 1e9 / n)
    val cov = Array.ofDim[Double](dims, dims)
    var ci = 0; var ct = 0
    while (ci < d) {
      var cj = ci
      while (cj < d) {
        val c = sxy(ct).toDouble / 1e9 / n - mean(ci) * mean(cj)
        cov(ci)(cj) = c; cov(cj)(ci) = c
        cj += 1; ct += 1
      }
      ci += 1
    }
    val (eig, vecRows) = jacobiEigen(cov)
    val order = eig.indices.sortBy(i => (-eig(i), i)).take(k)
    val w = order.map { r =>
      val ev = vecRows(r)
      // sign convention: the largest-|coeff| component is positive
      val piv = ev.indices.maxBy(i => (math.abs(ev(i)), -i))
      val sgn = if (ev(piv) < 0) -1.0 else 1.0
      val scale = sgn / math.sqrt(math.max(eig(r), 0.0) + eps)
      ev.map(_ * scale)
    }
    // component r = (x − μ)·w_r = vec_dot(x, w_r) − μ·w_r: the native
    // codegen vec_dot (one tight loop per component) replaces a
    // 512-term element_at expression tree that re-cast the vector per
    // term and fell out of efficient codegen (measured ~7× slower);
    // μ·w_r folds to a driver-side constant.
    val vArr = toDouble(col(vecCol))
    val comps = w.zipWithIndex.map { case (row, r) =>
      val meanDot = (0 until dims).map(d => mean(d) * row(d)).sum
      (dot(vArr, typedlit(row.toSeq)) - lit(meanDot)).as(s"__w$r")
    }
    vecs.select(col(idCol) +: comps: _*)
      .select(col(idCol),
        array((0 until k).map(r => round(col(s"__w$r"), 6)): _*)
          .as("whitened"))
  }

  /** X107 — margin-based candidate mining (Artetxe & Schwenk 2019,
    * the LASER/CCMatrix bitext-mining scorer): a raw cosine threshold
    * over-selects in dense "hubness" regions, so each candidate pair
    * (x, y) is rescored by the RATIO margin
    * `cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2)` — cosine relative
    * to each side's average top-k neighborhood — and each left vector
    * keeps its best-margin right match, with `is_mutual` marking the
    * pairs that are also the right vector's best (the
    * intersection-strategy output mined corpora actually ship).
    *
    * Exactness: the neighborhood mean is a LEFT FOLD over the top-k
    * cosines in rank order (`aggregate` over a rank-sorted array ≡
    * DuckDB `list_reduce`), not an unordered SUM agg — double
    * addition doesn't commute, and a 1-ulp neighborhood difference
    * would flip which pair wins the argmax. With the fold, margins
    * are bit-identical cross-engine and the picks are stable.
    *
    * Scale shape: `pairs` is the bipartite candidate table — here the
    * exact hash-blocked cross form (one broadcast block-pair
    * replication + one equi-join, the [[cosinePairsBlocked]] layout);
    * at 10⁹ vectors feed it from [[ivfTopK]]/[[lshTopK]] candidates
    * instead, the published recipe (margin only ever rescores a
    * candidate set). Downstream of pairs: two windowed top-k passes
    * (shuffle by left / by right id — skinny triples, never vectors),
    * two skinny per-id fold aggs joined back, one argmax window per
    * side. Nothing is ever all-pairs-materialized-to-driver.
    */
  def marginMining(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, k: Int, numBlocks: Int = 8): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val l = left.select(col(idCol).as("left_id"),
      toDouble(col(vecCol)).as("el"))
      .withColumn("nl", l2norm(col("el")))
      .withColumn("bl", pmod(xxhash64(col("left_id")), lit(numBlocks.toLong))
        .cast("int"))
    val r = right.select(col(idCol).as("right_id"),
      toDouble(col(vecCol)).as("er"))
      .withColumn("nr", l2norm(col("er")))
      .withColumn("br", pmod(xxhash64(col("right_id")), lit(numBlocks.toLong))
        .cast("int"))
    val bp = left.sparkSession.createDataFrame(
      for { i <- 0 until numBlocks; j <- 0 until numBlocks } yield (i, j))
      .toDF("bl", "br")
    // replicate each side across the other side's blocks with a
    // broadcast join (no shuffle), then equi-join on the composite
    // (bl, br) key — every (left, right) pair meets exactly once,
    // spread over numBlocks² partitions (the cosinePairsBlocked
    // layout, bipartite so no self-pair or orientation dedup needed)
    // one skinny (left, right, cos) triple per pair; three consumers
    // read it (two neighborhood passes + the rescore join) but the
    // pair exchange is computed once — Spark's ReusedExchange dedupes
    // the identical subtree (verified: an explicit localCheckpoint
    // here measured no faster)
    val pairs = broadcast(bp).join(l, "bl")
      .join(broadcast(bp).join(r, "br"), Seq("bl", "br"))
      .select(col("left_id"), col("right_id"),
        (dot(col("el"), col("er")) / (col("nl") * col("nr"))).as("cos"))
    def foldAvg(partCol: String, otherCol: String): DataFrame = {
      val w = Window.partitionBy(col(partCol))
        .orderBy(col("cos").desc, col(otherCol))
      pairs.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k)
        .groupBy(col(partCol))
        .agg(sort_array(collect_list(struct(col("__rk"), col("cos"))))
          .as("__topk"))
        .select(col(partCol),
          (aggregate(col("__topk"), lit(0.0d),
            (acc, s) => acc + s.getField("cos")) / size(col("__topk")))
            .as(s"__avg_$partCol"))
    }
    val scored = pairs
      .join(foldAvg("left_id", "right_id"), Seq("left_id"))
      .join(foldAvg("right_id", "left_id"), Seq("right_id"))
      .withColumn("margin", col("cos") /
        ((col("__avg_left_id") + col("__avg_right_id")) / 2.0d))
    val wf = Window.partitionBy(col("left_id"))
      .orderBy(col("margin").desc, col("right_id"))
    val wb = Window.partitionBy(col("right_id"))
      .orderBy(col("margin").desc, col("left_id"))
    val forward = scored.withColumn("__rf", row_number().over(wf))
      .filter(col("__rf") === 1)
    val backward = scored.withColumn("__rb", row_number().over(wb))
      .filter(col("__rb") === 1)
      .select(col("left_id"), col("right_id"), lit(true).as("__mut"))
    forward.join(backward, Seq("left_id", "right_id"), "left")
      .select(col("left_id"), col("right_id"),
        round(col("cos"), 6).as("cos"),
        round(col("margin"), 6).as("margin"),
        coalesce(col("__mut"), lit(false)).as("is_mutual"))
  }

  /** X106 — Calinski-Harabasz (variance-ratio) index (Caliński &
    * Harabasz 1974): CH = (BCSS/(k−1)) / (WCSS/(n−k)), the third leg
    * of the cluster-validity family next to [[centroidSilhouette]]
    * (per-vector margins) and [[daviesBouldin]] (worst-neighbor
    * overlap) — CH is the one that rewards global variance explained,
    * the scree-style score used to pick k. Output is ONE row
    * (n_vectors, n_labels, wcss, bcss, ch_index) plus the per-label
    * decomposition is derivable from the two sums.
    *
    * Scale shape: identical to the siblings — one posexplode scan,
    * a (label, dim) centroid agg and a (dim) grand-centroid agg (both
    * map-side combined, label/dim-sized outputs), WCSS via one
    * broadcast centroid join back over the scan, BCSS entirely on the
    * \|labels\|·dim centroid table. Vectors are touched twice, never
    * pairwise; no global sort, no single-partition stage.
    */
  def calinskiHarabasz(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val exploded = vecs.select(col(idCol), col(labelCol).as("__lab"),
      posexplode(toDouble(col(vecCol))).as(Seq("dim", "x")))
    val centroids = exploded.groupBy(col("__lab"), col("dim"))
      .agg(avg(col("x")).as("m"), count(lit(1)).as("__nl"))
    val grand = exploded.groupBy(col("dim")).agg(avg(col("x")).as("g"))
    val wcss = exploded.join(broadcast(centroids), Seq("__lab", "dim"))
      .agg(sum((col("x") - col("m")) * (col("x") - col("m"))).as("wcss"))
    val bcss = centroids.join(broadcast(grand), Seq("dim"))
      .agg(sum(col("__nl") * (col("m") - col("g")) * (col("m") - col("g")))
        .as("bcss"))
    val counts = vecs.agg(count(lit(1)).as("n_vectors"),
      count_distinct(col(labelCol)).as("n_labels"))
    counts.crossJoin(wcss).crossJoin(bcss)
      .select(col("n_vectors"), col("n_labels"),
        round(col("wcss"), 6).as("wcss"), round(col("bcss"), 6).as("bcss"),
        round((col("bcss") / (col("n_labels") - 1)) /
          (col("wcss") / (col("n_vectors") - col("n_labels"))), 6)
          .as("ch_index"))
  }

  def centroidOutliers(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val exploded = vecs.select(col(idCol), col(labelCol),
      posexplode(toDouble(col(vecCol))).as(Seq("dim", "x")))
    val centroids = exploded.groupBy(col(labelCol), col("dim"))
      .agg(avg(col("x")).as("m"))
    exploded.join(broadcast(centroids), Seq(labelCol, "dim"))
      .groupBy(col(idCol), col(labelCol))
      .agg(round(sqrt(sum((col("x") - col("m")) * (col("x") - col("m")))), 6)
        .as("dist"))
      .orderBy(col("dist").desc, col(idCol))
      .limit(k)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("dist").desc, col(idCol))))
  }

  /** X138 — embedding centroid drift monitor: per label, the cosine
    * between the REFERENCE slice's centroid and the CURRENT slice's
    * centroid (plus the centroid L2 gap) — the production check that
    * an embedding model upgrade or a data-mix shift hasn't moved a
    * class's semantic center. Slices come from any boolean
    * `refCol` (deploy A/B, time window, snapshot id).
    *
    * Exactness: coordinates quantize to nano-unit integers
    * (round(x*1e9), the covariance-pass convention) and all sums run
    * in exact decimal arithmetic — dot products and squared norms of
    * the integer centroid-sum vectors, so cosine and the gap see
    * IDENTICAL doubles in any engine and under any partitioning
    * (cosine is scale-invariant, so the integer sums stand in for
    * the centroids directly; the L2 gap clears denominators with
    * (sA*nB - sB*nA) before squaring).
    *
    * Scale shape: one (label, slice, dim) map-side-combined sum agg
    * over the posexploded scan -> a |labels|*2*d table; everything
    * after is arithmetic on that tiny table. Nothing else moves.
    */
  def embeddingDrift(vecs: DataFrame, vecCol: String, labelCol: String,
      refCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val q = round(col("x") * 1e9, 0).cast("decimal(18,0)")
    val sums = vecs
      .select(col(labelCol), col(refCol).as("__ref"),
        posexplode(toDouble(col(vecCol))).as(Seq("dim", "x")))
      .groupBy(col(labelCol), col("__ref"), col("dim"))
      // decimal(28,0) per-dim sum (the CentroidStore width): unit-
      // scale nano coordinates stay exact out to ~10¹⁸ rows per
      // slice, where the old decimal(18,0) wrapped to NULL at ~10⁹
      .agg(sum(q).cast("decimal(28,0)").as("s"),
        count(lit(1)).as("n"))
    val a = sums.filter(col("__ref"))
      .select(col(labelCol), col("dim"), col("s").as("sa"), col("n").as("na"))
    val b = sums.filter(!col("__ref"))
      .select(col(labelCol), col("dim"), col("s").as("sb"), col("n").as("nb"))
    val joined = a.join(b, Seq(labelCol, "dim"))
    // Magnitude bounds against decimal(38,0): with |coord| ≤ c and n
    // rows/slice, |s| ≤ c·1e9·n, so s·s needs (c·1e9·n)² ≤ 1e38
    // (n ≲ 3e9 at c=1) and the cleared-denominator g2 term
    // (sa·nb − sb·na)² needs (2c·1e9·n²)² ≤ 1e38 (n ≲ 5e4 at c=1).
    // Products are materialized per-dim so an out-of-range slice is
    // COUNTED (__ovf) and reported as NULL — never a silently
    // dim-dropped cosine.
    val prods = joined.select(col(labelCol), col("na"), col("nb"),
      (col("sa") * col("sb")).cast(dec).as("__pab"),
      (col("sa") * col("sa")).cast(dec).as("__paa"),
      (col("sb") * col("sb")).cast(dec).as("__pbb"),
      ((col("sa") * col("nb") - col("sb") * col("na")) *
        (col("sa") * col("nb") - col("sb") * col("na"))).cast(dec)
        .as("__pg2"))
    prods.groupBy(col(labelCol))
      .agg(max(col("na")).as("n_ref"), max(col("nb")).as("n_cur"),
        sum(col("__pab")).as("__ab"),
        sum(col("__paa")).as("__aa"),
        sum(col("__pbb")).as("__bb"),
        sum(col("__pg2")).as("__g2"),
        sum(when(col("__pab").isNull || col("__paa").isNull ||
          col("__pbb").isNull || col("__pg2").isNull, 1L).otherwise(0L))
          .as("__ovf"))
      .select(col(labelCol), col("n_ref"), col("n_cur"),
        // a slice whose centroid cancels to the zero vector has no
        // direction — cosine is undefined, reported as NULL (as is
        // any label whose products overflowed decimal(38,0))
        when(col("__ovf") === 0L && col("__aa") > 0 && col("__bb") > 0,
          round(col("__ab").cast("double") /
            (sqrt(col("__aa").cast("double")) *
              sqrt(col("__bb").cast("double"))), 6)).as("centroid_cos"),
        when(col("__ovf") === 0L,
          round(sqrt(col("__g2").cast("double")) /
            (col("n_ref").cast("double") * col("n_cur").cast("double") *
              1e9), 6)).as("centroid_l2_gap"))
  }
  /** X159 — deterministic stochastic-greedy facility-location coreset
    * selection (Mirzasoleiman et al. 2015 shape): pick k exemplars
    * maximizing Σ_docs max-cosine-to-a-pick — the diversity-aware
    * data-selection step between scoring and mixing (choose the k
    * docs/templates that best COVER the corpus, not the k best
    * scores). Exact greedy is O(k·n²); stochastic-greedy draws a
    * bounded candidate set per round (md5-deterministic, so the whole
    * selection is content-stable and replayable) and keeps the
    * (1−1/e−ε) guarantee.
    *
    * Per round: one bounded candidate draw (TakeOrdered on the md5
    * key — no global sort), one single-pass aggregate computing EVERY
    * candidate's marginal gain Σ max(cos−cov, 0) simultaneously
    * (candidate vectors ride the plan as literals — the semDedupAuto
    * zero-exchange trick, no join), one coverage-column update +
    * `Materialize.cut` (the PageRank lineage-truncation shape). Driver
    * state is candidatesPerRound·dim doubles + the k picks — bounded
    * and loud. Total cost O(k·c·n) dots, embarrassingly parallel.
    */
  def coresetSelect(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, candidatesPerRound: Int = 32, salt: String = "coreset")
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(candidatesPerRound >= 1, s"bad candidatesPerRound")
    val spark = vecs.sparkSession
    import spark.implicits._
    // r12: the greedy state is EXACT integer end to end — components
    // micro-quantize, each point↔candidate cosine NANO-quantizes
    // (one fixed-shape double from exact integer dot and norms, then
    // round to a long), coverage is a max of longs and every round's
    // gain a sum of longs — so the whole selection replays as an
    // unrolled SQL CTE chain (the geoMedianSql convention) and the
    // query carries a full hash oracle.
    var state = vecs.select(col(idCol).cast("long").as("id"),
        transform(toDouble(col(vecCol)),
          x => round(x * 1e6, 0).cast("long")).as("__q"))
      .withColumn("__n2", dotL(col("__q"), col("__q")))
      .filter(col("__n2") > 0L)
      .withColumn("__cov", lit(0L))
      .transform(Materialize.cut)
    def cosqTo(vec: Seq[Long], n2c: Long): Column =
      round(lit(1e9) * dotL(col("__q"), typedlit(vec)).cast("double") /
        (sqrt(col("__n2").cast("double")) *
          sqrt(lit(n2c).cast("double"))), 0).cast("long")
    val picks = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    var rnd = 1
    while (rnd <= k) {
      val chosen = picks.map(_._2)
      val notPicked = if (chosen.isEmpty) state
        else state.filter(!col("id").isin(chosen.toSeq: _*))
      val candIds = notPicked
        .select(col("id"), CorpusOps.md5Band(
          concat(lit(rnd.toString), lit(":"), col("id").cast("string")),
          salt).as("__r"))
        .orderBy(col("__r"), col("id"))
        .limit(candidatesPerRound)
        .collect().map(_.getLong(0))
      if (candIds.isEmpty) { rnd = k + 1 } // corpus exhausted
      else {
        val candVecs = state
          .filter(col("id").isin(candIds.toSeq: _*))
          .select(col("id"), col("__q"), col("__n2"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
          .sortBy(_._1)
        val gainAggs = candVecs.map { case (cid, vec, n2) =>
          sum(greatest(cosqTo(vec, n2) - col("__cov"), lit(0L)))
            .cast("long").as(s"g_$cid")
        }
        val extras = Seq(sum(col("__cov")).cast("long").as("__covsum"),
          count(lit(1)).as("__cnt"))
        val row = state.agg((gainAggs ++ extras).head,
          (gainAggs ++ extras).tail: _*).head()
        val (bestId, bestGain) = candVecs.map { case (cid, _, _) =>
          cid -> row.getAs[Long](s"g_$cid")
        }.maxBy { case (cid, g) => (g, -cid) } // tie -> smaller id
        val n = row.getAs[Long]("__cnt").toDouble
        val covAfter =
          (row.getAs[Long]("__covsum") + bestGain).toDouble / (n * 1e9)
        picks += ((rnd.toLong, bestId, bestGain, covAfter))
        val (_, bv, bn2) = candVecs.find(_._1 == bestId).get
        state = state.withColumn("__cov",
            greatest(col("__cov"), cosqTo(bv, bn2)))
          .transform(Materialize.cut)
        rnd += 1
      }
    }
    picks.toSeq.toDF("selection_rank", "vec_id", "__g", "__c")
      .select(col("selection_rank"), col("vec_id"),
        round(col("__g").cast("double") / 1e9, 6).as("marginal_gain"),
        round(col("__c"), 6).as("mean_coverage"))
  }

  /** X235 — Johnson-Lindenstrauss random projection with a ±1 sign
    * matrix (Achlioptas 2003: the dense Rademacher variant preserves
    * pairwise distances within 1±ε at k = O(ln n/ε²) — no Gaussian
    * needed): y_j = Σ_i sign(i,j)·x_i / √k. The dimensionality
    * squeezer in front of every embedding operator here — at 100 TB,
    * dropping d=1024 floats to k=64 cuts the X1/X32/X209 pair-join
    * shuffle volume 16× while keeping near-dup cosine decisions
    * intact (and unlike X116's PCA whitening it needs NO fitted
    * model, so it runs on the first byte of a new corpus).
    *
    * Determinism: the sign matrix is the PARITY of
    * md5("<salt>:" ‖ i ‖ "_" ‖ j) — derived, never stored, identical
    * in any engine with md5; components quantize to micro-units so
    * the per-(id, j) fold is an exact integer sum (order-free),
    * divided back once by 1e6·√k, round(6). Scale shape: posexplode
    * + an equi-join on the dim index against the d·k sign table
    * (broadcast — it is built from a range, bytes not gigabytes) +
    * one map-side-combined groupBy; fanout is k× the component
    * count, the price of the squeeze, paid once per corpus.
    */
  /** X257 — maximal marginal relevance (Carbonell & Goldstein 1998):
    * pick k results balancing RELEVANCE to a query vector against
    * REDUNDANCY with what's already picked — score(c) = λ·cos(c, q)
    * − (1−λ)·max_{s∈picked} cos(c, s). The query-relative diversity
    * selector beside [[coresetSelect]] (global coverage, no query):
    * retrieval feeds dedup'd-looking near-identical top hits without
    * it.
    *
    * Two stages: (1) DISTRIBUTED relevance top-`poolSize`
    * (TakeOrdered — per-partition heaps, never a global sort) — the
    * only stage that touches the corpus; (2) exact greedy MMR over
    * the pool on the driver — poolSize·dim doubles of bounded, loud
    * state, the lshPlan/planner-class compute (k·poolSize² dots on
    * ≤10³ rows). Deterministic: cosine ties break by id at both
    * stages. Rows-only contract (the greedy loop has no SQL twin).
    */
  def mmrSelect(vecs: DataFrame, idCol: String, vecCol: String,
      queryVec: Array[Double], k: Int, lambda: Double = 0.7,
      poolSize: Int = 100): DataFrame = {
    require(k >= 1 && poolSize >= k, s"bad k=$k poolSize=$poolSize")
    require(lambda >= 0 && lambda <= 1, s"bad lambda $lambda")
    val spark = vecs.sparkSession
    import spark.implicits._
    // r12: relevance and redundancy NANO-quantize to longs (one
    // fixed-shape double each from exact integer dots/norms, rounded
    // half-away like every engine's round()), so the greedy replays
    // as an unrolled SQL CTE chain and the query carries a full hash
    // oracle. The λ-mix stays a fixed-shape double on the two longs
    // — spelled identically in the oracle.
    def halfAway(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
    val qv: Seq[Long] = queryVec.map(x => halfAway(x * 1e6)).toSeq
    val n2q = qv.map(x => x * x).sum
    require(n2q > 0, "zero query vector")
    val pool = vecs.select(col(idCol).cast("long").as("id"),
        transform(toDouble(col(vecCol)),
          x => round(x * 1e6, 0).cast("long")).as("__q"))
      .withColumn("__n2", dotL(col("__q"), col("__q")))
      .filter(col("__n2") > 0L)
      .withColumn("__rel",
        round(lit(1e9) * dotL(col("__q"), typedlit(qv)).cast("double") /
          (sqrt(col("__n2").cast("double")) *
            sqrt(lit(n2q).cast("double"))), 0).cast("long"))
      .orderBy(col("__rel").desc, col("id"))
      .limit(poolSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray,
        r.getLong(2), r.getLong(3)))
    def cosq(a: Array[Long], n2a: Long, b: Array[Long],
        n2b: Long): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      halfAway(1e9 * s.toDouble /
        (math.sqrt(n2a.toDouble) * math.sqrt(n2b.toDouble)))
    }
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    val chosen = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Long], Long)]
    var rnd = 1L
    while (rnd <= k && picked.length < pool.length) {
      val best = pool.iterator
        .filter(c => !picked.exists(_._2 == c._1))
        .map { case (id, v, n2, rel) =>
          val red = if (chosen.isEmpty) 0L
            else chosen.map { case (sv, sn2) => cosq(v, n2, sv, sn2) }
              .max
          (id, v, n2, rel,
            lambda * rel.toDouble - (1 - lambda) * red.toDouble)
        }
        .reduceLeft { (a, b) =>
          if (b._5 > a._5 || (b._5 == a._5 && b._1 < a._1)) b else a
        }
      picked += ((rnd, best._1, best._4, best._5))
      chosen += ((best._2, best._3))
      rnd += 1L
    }
    picked.toSeq.toDF("selection_rank", "vec_id", "__r", "__m")
      .select(col("selection_rank"), col("vec_id"),
        round(col("__r").cast("double") / 1e9, 6).as("relevance"),
        round(col("__m") / 1e9, 6).as("mmr_score"))
  }

  /** X272 — geometric median (Weiszfeld, bounded iterations): the
    * point minimizing Σ‖x − y‖ — the ROBUST corpus centroid (one
    * adversarial or corrupt embedding moves the mean by ε·outlier
    * but the geometric median by at most ε·diameter), the anchor
    * X138's drift and X167's centroid store should use when the feed
    * can contain garbage. Each round is one distributed weighted
    * mean with weights 1/‖x − y‖ against the BROADCAST current point
    * (zero-exchange, the coreset trick); `iters` bounded rounds keep
    * it replayable.
    *
    * Determinism — EXACT integer state end to end (r12, which is
    * what buys the SQL hash oracle): components micro-quantize to
    * longs; the CENTER itself lives in micro longs, re-rounded after
    * every iteration by the sign-aware half-away integer division
    * `(2a ± b) quot 2b`; per-point distances are exact integer
    * Σ(qᵢ−cᵢ)² folds, so the weight `round(10¹⁵/√D)` is one
    * correctly-rounded sqrt + one division on an exact integer —
    * identical in any IEEE engine (D = 0, a point ON the center,
    * takes the 10¹⁸ cap — the old ε-floor's exact value). Weighted
    * sums fold in decimal (order-free). The whole iteration is
    * replayable as an unrolled SQL CTE chain.
    */
  def geometricMedian(vecs: DataFrame, idCol: String, vecCol: String,
      iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 64, s"bad iters $iters")
    val spark = vecs.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val base = vecs.select(col(idCol).as("__id"),
        transform(toDouble(col(vecCol)),
          x => round(x * 1e6, 0).cast("long")).as("__q"))
      .transform(Materialize.cut)
    val d = base.select(size(col("__q"))).head().getInt(0)
    val nPts = base.count()
    // sign-aware round-half-away integer division — BigInt `/`
    // truncates toward zero, exactly like DuckDB's `//`
    def roundDiv(a: BigInt, b: BigInt): Long = {
      val num = 2 * a + (if (a.signum < 0) -b else b)
      (num / (2 * b)).toLong
    }
    // init: component-wise mean, rounded INTO micro longs
    var cur: Array[Long] = {
      val sums = base
        .select(posexplode(col("__q")).as(Seq("__i", "__x")))
        .groupBy(col("__i"))
        .agg(sum(col("__x").cast(dec)).cast(dec).as("__s"))
        .collect().map(r => r.getAs[Int]("__i") ->
          r.getDecimal(1).toBigInteger).toMap
      Array.tabulate(d)(i => roundDiv(BigInt(sums(i)), BigInt(nPts)))
    }
    var it = 0
    while (it < iters) {
      val c = cur
      // exact integer squared distance to the current center
      val dist2 = sqDistL(col("__q"), typedlit(c.toSeq))
      // w = round(10⁹ / max(dist, 10⁻⁹)) with dist = √D/10⁶:
      // D ≥ 1 ⇒ dist ≥ 10⁻⁶ ⇒ w = round(10¹⁵/√D); D = 0 hits the
      // ε floor exactly ⇒ w = 10¹⁸
      val wq = when(col("__d2") === 0L, lit(1000000000000000000L))
        .otherwise(round(lit(1e15) / sqrt(col("__d2").cast("double")),
          0).cast("long"))
      val folded = base
        .withColumn("__d2", dist2)
        .withColumn("__w", wq)
        .select(col("__w"), posexplode(col("__q")).as(Seq("__i", "__x")))
        .groupBy(col("__i"))
        .agg(sum((col("__w").cast(dec) * col("__x")).cast(dec))
          .cast(dec).as("__swx"),
          sum(col("__w").cast(dec)).cast(dec).as("__sw"))
        .collect().map(r => r.getAs[Int]("__i") ->
          (r.getDecimal(1).toBigInteger, r.getDecimal(2).toBigInteger))
        .toMap
      cur = Array.tabulate(d)(i =>
        roundDiv(BigInt(folded(i)._1), BigInt(folded(i)._2)))
      it += 1
    }
    cur.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toSeq
      .toDF("dim", "__m")
      .select(col("dim"),
        round(col("__m").cast("double") / 1e6, 6).as("median_component"),
        lit(nPts).as("n_points"), lit(iters.toLong).as("iters"))
  }

  /** X258 — effective rank (participation ratio) of the embedding
    * covariance: PR = tr(C)²/tr(C²) — "how many dimensions does this
    * embedding REALLY use" without an eigendecomposition (tr(C²) =
    * ΣᵢⱼCᵢⱼ² needs only the covariance cells). An anisotropy-collapsed
    * encoder (effective rank ≪ d) wrecks every cosine operator here
    * (X1/X2/X209 — everything looks similar to everything); this is
    * the one-row diagnostic that says so BEFORE the dedup pass runs,
    * and the before/after check for X116's whitening (which should
    * push PR toward d).
    *
    * Exactness: components micro-quantize; all d² covariance cells
    * come from exact decimal (n, Σqᵢ, Σqᵢqⱼ); each cell Cᵢⱼ is one
    * fixed-shape double, quantized to nano BEFORE the trace/Frobenius
    * folds so those sums are exact integers. Scale shape: the (i, j)
    * component self-join is a d²-cell aggregate over an n·d explode —
    * the d² blow-up is the documented cost knob (at d = 1024 run it
    * AFTER [[jlProject]], which is the point of having both).
    */
  /** X259 — Hopkins statistic: clusterability BEFORE clustering.
    * Compare nearest-neighbor distances of m uniform PROBE points
    * (synthetic, drawn in the data's bounding box) against m real
    * points' NN distances: H = Σu/(Σu + Σw) on squared euclidean NN
    * distances — ≈0.5 for structureless data, →1 for clustered. The
    * "should I even run KMeans/SemDeDup here" gate in front of
    * X80/X91/X96 (whose scores all assume clusters exist).
    *
    * Determinism — EXACT integer arithmetic end to end (r12, which
    * is what buys the SQL hash oracle): components micro-quantize to
    * longs; per-dim bounds are integer min/max; each probe
    * coordinate is `lo + (h+1)·(hi−lo) ≫round 2³²` where h is the
    * 32-bit md5 head of `salt:p_i` — a pure integer rounded
    * division, no double in sight; the probe/sample choice is
    * content-stable md5 order; NN distances are exact integer
    * Σ(qᵢ−pᵢ)² folds in micro² units. Only the three OUTPUT columns
    * touch doubles (one division + round(6) on exact integers —
    * identical in any engine). Scale shape: bounds are a d-cell agg;
    * the NN pass is a (2m)×n broadcast-probe sweep — m is the knob,
    * the corpus is never self-joined.
    */
  def hopkins(vecs: DataFrame, idCol: String, vecCol: String,
      m: Int = 20, salt: String = "hop"): DataFrame = {
    require(m >= 2 && m <= 1000, s"bad m $m")
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = vecs.select(col(idCol).cast("long").as("__id"),
      transform(toDouble(col(vecCol)),
        x => round(x * 1e6, 0).cast("long")).as("__q"))
    // per-dim integer bounds (d-bounded collect)
    val bounds = base
      .select(posexplode(col("__q")).as(Seq("__i", "__x")))
      .groupBy(col("__i"))
      .agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
      .collect().map(r => (r.getAs[Int]("__i"),
        r.getAs[Long]("__lo"), r.getAs[Long]("__hi")))
      .sortBy(_._1)
    val d = bounds.length
    // 32-bit md5 head of salt:tag — the uniform driving each probe
    // coordinate (h+1 ∈ [1, 2³²], the u01 numerator)
    def h32(tag: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$tag".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val probes = (1 to m).map { p =>
      (p.toLong, bounds.map { case (i, lo, hi) =>
        // lo + round((h+1)·(hi−lo) / 2³²): numerator ≤ 2³²·(hi−lo)
        // stays far under 2⁶³; non-negative, so truncating division
        // after the +2³¹ offset IS round-half-up — the same integer
        // every engine computes
        lo + ((h32(s"${p}_$i") + 1L) * (hi - lo) + 2147483648L) /
          4294967296L
      }.toSeq)
    }
    // m real sample points by md5 order (content-stable)
    val sampleIds = base.select(col("__id"),
        CorpusOps.md5Band(col("__id").cast("string"), s"$salt-s:")
          .as("__r"))
      .orderBy(col("__r"), col("__id")).limit(m)
      .collect().map(_.getLong(0)).toSet
    val samples = base.filter(col("__id").isin(sampleIds.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    // one probe table: synthetic probes exclude nothing; data probes
    // exclude themselves
    val probeDf = (probes.map { case (p, v) => (p, -1L, v) } ++
      samples.map { case (id, v) => (id, id, v.toSeq) })
      .toDF("__p", "__self", "__pq")
    val d2 = sqDistL(col("__q"), col("__pq"))
    val nn = base.join(broadcast(probeDf), col("__id") =!= col("__self"))
      .select(col("__p"), col("__self"), d2.as("__d2"))
      .groupBy(col("__p"), col("__self"))
      .agg(min(col("__d2")).as("__nn"))
    nn.agg(
        sum(when(col("__self") === -1L, col("__nn")).otherwise(0L))
          .cast("long").as("__u"),
        sum(when(col("__self") =!= -1L, col("__nn")).otherwise(0L))
          .cast("long").as("__w"),
        sum(when(col("__self") === -1L, 1L).otherwise(0L)).cast("long")
          .as("n_probes"))
      .select(col("n_probes"), lit(d.toLong).as("dim"),
        round(col("__u").cast("double") / 1e12, 6).as("u_sum"),
        round(col("__w").cast("double") / 1e12, 6).as("w_sum"),
        when(col("__u") + col("__w") > 0L,
          round(col("__u").cast("double") /
            (col("__u") + col("__w")).cast("double"), 6))
          .as("hopkins"))
  }

  /** Spectral-shape summary of the component covariance matrix in ONE
    * pass: `graft.functions.GramAgg` holds the d² exact integer sums
    * (micro-quantized components; Σqᵢqⱼ in 128-bit limbs — the same
    * ≥38-digit headroom the former decimal(38,0) sums had) and replays
    * the old cells pipeline's IEEE op order at finish, so the output
    * is hash-identical to the exploded-self-join form it replaces.
    * That form shuffled N·d rows twice and emitted N·d² join rows;
    * this is a map-side-combinable aggregate whose exchange carries
    * one d²-cell buffer per partition.
    */
  def effectiveRank(vecs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val gram = udaf(new graft.functions.GramAgg)
    vecs.agg(gram(toDouble(col(vecCol))).as("__g"))
      .select(col("__g.dim").as("dim"), col("__g.trace").as("trace"),
        col("__g.frobenius_sq").as("frobenius_sq"),
        col("__g.effective_rank").as("effective_rank"))
  }

  /** X368 — pair-cosine histogram: the distribution of cosine
    * similarity over a deterministic half-shift pairing (rank i with
    * rank i + n/2 by id order — a fixed, content-independent sample
    * of n/2 "random" pairs) — the corpus semantic-DIVERSITY
    * fingerprint: a mass near 1 says the corpus is semantically
    * collapsed (upstream near-dup leakage X67 missed), a wide spread
    * says healthy coverage; track it per snapshot next to X138's
    * centroid drift.
    *
    * Exactness: components micro-quantize to longs; per-pair dot and
    * norms are in-row integer folds (no shuffle beyond the one
    * rank-pairing join); cosine is one double expression, binned on
    * [−1, 1] into `bins` equal cells (top edge closed). The pairing
    * rank comes from [[CorpusOps.globalRank]] — no single-task sort.
    * An odd corpus leaves the last vector unpaired by construction.
    */
  def pairCosineHistogram(vecs: DataFrame, idCol: String,
      vecCol: String, bins: Int = 20): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bad bins $bins")
    val q = transform(toDouble(col(vecCol)),
      x => round(x * 1e6, 0).cast("long"))
    val ranked = CorpusOps.globalRank(
      vecs.select(col(idCol).as("__id"), q.as("__q")),
      Seq(col(idCol))).select(col("__rank"), col("__q"))
    val tot = ranked.agg((count(lit(1)) / 2).cast("long").as("__half"))
    val a = ranked.crossJoin(broadcast(tot))
      .filter(col("__rank") < col("__half"))
      .select(col("__rank").as("__r"), col("__q").as("__qa"),
        col("__half"))
    val b = ranked.select(col("__rank").as("__rb"),
      col("__q").as("__qb"))
    val pairs = a.join(b, col("__rb") === col("__r") + col("__half"))
    def fold(c: Column) = aggregate(c, lit(0L), (acc, v) => acc + v)
    val dot = fold(zip_with(col("__qa"), col("__qb"), (x, y) => x * y))
    val na = fold(transform(col("__qa"), x => x * x))
    val nb = fold(transform(col("__qb"), x => x * x))
    val cosv = col("__dot").cast("double") /
      (sqrt(col("__na").cast("double")) *
        sqrt(col("__nb").cast("double")))
    val bin = least(lit(bins - 1),
      floor((cosv + 1.0) / 2.0 * bins)).cast("int")
    // a zero-norm quantized vector yields NaN cosine; Spark's
    // floor(NaN).cast bins it at 0 while DuckDB's least(19, NaN)
    // bins it at 19 — exclude undefined-cosine pairs on BOTH sides
    // (oracle carries the matching na > 0 AND nb > 0 predicate)
    pairs.select(dot.as("__dot"), na.as("__na"), nb.as("__nb"))
      .filter(col("__na") > 0L && col("__nb") > 0L)
      .select(bin.as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .select(col("bin").cast("long").as("bin"),
        round(lit(-1.0) + col("bin") * (2.0 / bins), 6).as("cos_lo"),
        round(lit(-1.0) + (col("bin") + 1) * (2.0 / bins), 6)
          .as("cos_hi"),
        col("n_pairs"))
      .orderBy(col("bin"))
  }

  def jlProject(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, dims: Int, salt: String = "jl"): DataFrame = {
    require(k >= 1 && k <= 4096, s"bad k $k")
    require(dims >= 1, s"bad dims $dims")
    val spark = vecs.sparkSession
    import spark.implicits._
    val signs = (0 until dims).flatMap { i =>
      (0 until k).map(j => (i, j))
    }.toDF("__i", "__j")
      .withColumn("__sign", when(
        pmod(conv(substring(md5(concat(lit(s"$salt:"), col("__i"),
          lit("_"), col("__j"))), 1, 8), 16, 10).cast("long"),
          lit(2L)) === 0L, 1L).otherwise(-1L))
    val comps = vecs.select(col(idCol),
        posexplode(toDouble(col(vecCol))).as(Seq("__i", "__x")))
      .withColumn("__q", round(col("__x") * 1e6, 0).cast("long"))
    comps.join(broadcast(signs), Seq("__i"))
      .groupBy(col(idCol), col("__j").as("dim"))
      .agg(sum(col("__sign") * col("__q")).cast("long").as("__s"))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        round(col("__s").cast("double") / 1e6 /
          math.sqrt(k.toDouble), 6).as("component"))
  }

  /** X328 — embedding anisotropy (Ethayarajh 2019): the expected
    * cosine between two RANDOM vectors of the set, via the one-pass
    * identity E_{i≠j}[cos] = (‖Σu‖² − n)/(n(n−1)) over the
    * normalized vectors u — near 0 is an isotropic (healthy) space,
    * near 1 is the collapsed cone where every cosine looks high and
    * X2/X67's thresholds stop meaning anything. THE cheap health
    * gate to run before trusting any cosine-based dedup/ANN pass.
    *
    * Exactness: components micro-quantize, each row's ‖q‖² is an
    * exact integer fold IN ARRAY ORDER (order-independent — integer
    * adds), u_d = q_d/√‖q‖² is one fixed-shape double, nano-quantized
    * per (row, dim) before the per-dim sums, and ‖Σu‖² folds the
    * DIM-bounded sum table in decimal. One scan + a dim-bounded agg.
    */
  def anisotropy(vecs: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val q = expr(
      s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1e6)" +
        " AS BIGINT))")
    val base = vecs.select(col(idCol).as("__id"), q.as("__q"))
      .withColumn("__n2", expr(
        "aggregate(__q, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
      .filter(col("__n2") > 0L)
    val comps = base
      .select(col("__id"), col("__n2"),
        posexplode(col("__q")).as(Seq("__d", "__qd")))
      .withColumn("__un",
        round(col("__qd").cast("double") /
          sqrt(col("__n2").cast("double")) * 1e9, 0).cast("long"))
    val dims = comps.groupBy(col("__d"))
      .agg(sum(col("__un").cast(dec)).cast(dec).as("__sd"))
    val folded = dims.agg(count(lit(1)).cast("long").as("dim"),
      sum((col("__sd") * col("__sd")).cast(dec)).cast(dec).as("__ss"))
    val n = base.agg(count(lit(1)).cast("long").as("n"))
    n.crossJoin(broadcast(folded))
      .select(col("n"), col("dim"),
        when(col("n") > 1L,
          round((col("__ss").cast("double") / 1e18 -
            col("n").cast("double")) /
            (col("n").cast("double") * (col("n") - 1L)), 6))
          .as("mean_cosine"))
  }

  /** X327 — linear CKA between two embedding VIEWS of the same rows
    * (two models' vectors, or two halves of one vector):
    * CKA = ‖C_xy‖²_F / (‖C_xx‖_F·‖C_yy‖_F) over the centered
    * cross-covariance blocks — the representation-similarity
    * standard (Kornblith et al. 2019): "did the new embedding model
    * actually change the geometry, or just rotate it" (CKA is
    * invariant to rotation/scale — a plain per-dim correlation
    * isn't). Covariance cells come from the X258 pair machinery on
    * TAGGED dims — (d₁+d₂)²-bounded, never row pairs; cells
    * nano-quantize before the three Frobenius folds.
    */
  def ckaLinear(vecs: DataFrame, idCol: String, aCol: Column,
      bCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def side(c: Column, tag: Int) = vecs.select(col(idCol).as("__id"),
        posexplode(toDouble(c)).as(Seq("__i", "__x")))
      .select(col("__id"), (lit(tag) * 100000 + col("__i")).as("__d"),
        lit(tag).as("__t"),
        round(col("__x") * 1e6, 0).cast("long").as("__q"))
    val comps = side(aCol, 0).unionAll(side(bCol, 1))
    val pairs = comps.as("a").join(comps.as("b"),
        col("a.__id") === col("b.__id"))
      .groupBy(col("a.__d").as("__di"), col("b.__d").as("__dj"),
        col("a.__t").as("__ti"), col("b.__t").as("__tj"))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("a.__q").cast(dec)).cast(dec).as("__si"),
        sum(col("b.__q").cast(dec)).cast(dec).as("__sj"),
        sum((col("a.__q").cast(dec) * col("b.__q")).cast(dec))
          .cast(dec).as("__sij"))
    val nd = col("__n").cast("double")
    val cij = (col("__sij").cast("double") / nd -
      (col("__si").cast("double") / nd) *
        (col("__sj").cast("double") / nd)) / 1e12
    val cells = pairs.select(col("__ti"), col("__tj"),
      round(cij * 1e9, 0).cast("long").as("__cn"))
    val blocks = cells.groupBy(col("__ti"), col("__tj"))
      .agg(sum((col("__cn").cast(dec) * col("__cn")).cast(dec))
        .cast(dec).as("__f2"))
    val folded = blocks.agg(
      sum(when(col("__ti") === 0 && col("__tj") === 1, col("__f2")))
        .cast(dec).as("__cxy2"),
      sum(when(col("__ti") === 0 && col("__tj") === 0, col("__f2")))
        .cast(dec).as("__cxx2"),
      sum(when(col("__ti") === 1 && col("__tj") === 1, col("__f2")))
        .cast(dec).as("__cyy2"))
    def d(c: Column) = c.cast("double")
    val denom = sqrt(d(col("__cxx2")) * d(col("__cyy2")))
    folded.select(
      round(d(col("__cxy2")) / 1e18, 6).as("cross_frob2"),
      when(denom > 0.0, round(d(col("__cxy2")) / denom, 6)).as("cka"))
  }

  /** X329 — hubness of the kNN graph (Radovanović 2010): in high
    * dimensions a few "hub" vectors appear in EVERYONE's top-k while
    * antihubs appear in no one's — the in-degree skew that silently
    * wrecks kNN-based dedup (X67) and retrieval evaluation. Reports
    * the in-degree distribution's moments (skewness via the X283
    * machinery), max, hub count (≥ 2k) and antihub count (0).
    *
    * The kNN join here uses a QUANTIZED integer dot product (exact
    * decimal folds → one fixed-shape cosine double), so ranks —
    * unlike the float-path `q_knn_brute` — replay exactly in any
    * engine; the n² candidate sweep is the declared brute-force cost
    * (the ANN family is the scale path). Zero-in-degree vectors are
    * completed from the id table, never dropped.
    */
  def hubness(vecs: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    require(k >= 1, s"bad k $k")
    val dec = "decimal(38,0)"
    val q = expr(
      s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1e6)" +
        " AS BIGINT))")
    val base = vecs.select(col(idCol).as("__id"), q.as("__q"))
      .withColumn("__n2", expr(
        "aggregate(__q, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
      // the hot-path dot runs through the NATIVE vec_dot codegen
      // expression on the quantized values as doubles: every product
      // (≤ ~9e12) and the 64-term sum (≤ ~6e14) sit far inside
      // double's 2^53 exact-integer range, so the value is the exact
      // integer dot in ANY summation order — same result as a
      // zip_with integer fold, ~100× faster per pair
      .withColumn("__qd", expr(
        "transform(__q, v -> CAST(v AS DOUBLE))"))
    val a = base.select(col("__id").as("__qa"), col("__qd").as("__va"),
      col("__n2").as("__na"))
    val b = base.select(col("__id").as("__qb"), col("__qd").as("__vb"),
      col("__n2").as("__nb"))
    // per-query top-k via the X49 bounded Aggregator, NOT a window:
    // the window form shuffle-sorts all n² candidate rows (measured:
    // a single spilling TimSort task at sf1); the Aggregator forwards
    // at most k pairs per query per map task, so the exchange is
    // k·n·partitions — the n² work stays in the scan stage where it
    // parallelizes. Ordering (cos desc, id asc) matches the window
    // form exactly, so ranks — and the oracle — are unchanged.
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKAgg(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    val top = broadcast(a).join(b, col("__qa") =!= col("__qb"))
      .withColumn("__cos", dot(col("__va"), col("__vb")) /
        (sqrt(col("__na").cast("double")) *
          sqrt(col("__nb").cast("double"))))
      .groupBy(col("__qa"))
      .agg(topk(col("__cos"), col("__qb").cast("long")).as("__tk"))
      .select(explode(col("__tk")).as("__pair"))
      .select(col("__pair._2").as("__qb"))
    val indeg = base.select(col("__id"))
      .join(top.groupBy(col("__qb").cast(base.schema("__id").dataType)
          .as("__id"))
        .agg(count(lit(1)).as("__in")), Seq("__id"), "left")
      .withColumn("__in", coalesce(col("__in"), lit(0L)))
    val sums = indeg.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__in").cast(dec)).cast(dec).as("__s1"),
      sum((col("__in").cast(dec) * col("__in")).cast(dec)).cast(dec)
        .as("__s2"),
      sum((col("__in").cast(dec) * col("__in") * col("__in"))
        .cast(dec)).cast(dec).as("__s3"),
      max(col("__in")).cast("long").as("max_indegree"),
      sum(when(col("__in") >= 2L * k, 1L).otherwise(0L)).cast("long")
        .as("n_hubs"),
      sum(when(col("__in") === 0L, 1L).otherwise(0L)).cast("long")
        .as("n_antihubs"))
    def d(c: Column) = c.cast("double")
    val nd = d(col("n"))
    val m1 = d(col("__s1")) / nd
    val m2 = d(col("__s2")) / nd - m1 * m1
    val m3 = d(col("__s3")) / nd - lit(3.0) * m1 * (d(col("__s2")) / nd) +
      lit(2.0) * m1 * m1 * m1
    sums.select(col("n"), lit(k.toLong).as("k"),
      round(m1, 6).as("mean_indegree"),
      when(m2 > 0.0, round(sqrt(m2), 6)).as("sd_indegree"),
      when(m2 > 0.0, round(m3 / sqrt(m2 * m2 * m2), 6))
        .as("skewness"),
      col("max_indegree"), col("n_hubs"), col("n_antihubs"))
  }
}
