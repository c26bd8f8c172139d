package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs around the dedup/quality core: deterministic content
  * sampling and token-budget sharding. Pure Column expressions /
  * single-window plans — no UDFs, no driver state.
  */
object CorpusOps {

  /** Deterministic hash sampling: keep a row iff the top 32 bits of
    * md5(salt ‖ key) fall under `fraction`. Properties production
    * pipelines rely on:
    *   - reproducible across runs/engines (md5 is everywhere — the
    *     DuckDB oracle computes the identical predicate),
    *   - content-stable: adding/removing other rows never changes a
    *     row's fate (unlike reservoir/Bernoulli on row position),
    *   - nested samples: fraction 0.1 ⊂ fraction 0.2 for equal salt.
    */
  /** Top 32 bits of md5(salt ‖ key) as a long in [0, 2³²) — the ONE
    * definition of the deterministic band hash behind every
    * sampling/splitting operator here, so the cross-engine contract
    * (DuckDB: `('0x' || substr(md5(...), 1, 8))::BIGINT`) cannot
    * diverge per caller.
    */
  private[graft] def md5Band(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key)), 1, 8), 16, 10)
      .cast("long")

  /** A fraction's band boundary on the md5Band scale. */
  private[graft] def bandThreshold(fraction: Double): Long =
    math.round(fraction * 4294967296.0)

  def hashSampleCol(key: Column, fraction: Double,
      salt: String = ""): Column =
    md5Band(key, salt) < bandThreshold(fraction)

  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
      salt: String = ""): DataFrame =
    df.filter(hashSampleCol(col(keyCol), fraction, salt))

  /** Weighted deterministic sampling: each row keeps with its OWN
    * probability `weightCol` (a [0,1] column — e.g. a quality score,
    * or a per-source rate joined on), decided by the same md5
    * threshold trick as [[hashSample]]: keep iff
    * hash(salt ‖ key) < weight · 2³². Same guarantees — content-
    * stable, reproducible cross-engine, still a pure scan-stage
    * predicate (the weight is just another column in the comparison,
    * no join, no RNG) — upgraded from one global fraction to
    * per-row rates: quality-proportional corpus thinning in one
    * filter. Weights outside [0,1] clamp (≥1 always keeps).
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      salt: String = ""): DataFrame =
    df.filter(md5Band(col(keyCol), salt) <
      round(least(greatest(col(weightCol), lit(0.0)), lit(1.0)) *
        4294967296.0))

  /** Stratified deterministic sampling: per-stratum fractions (e.g.
    * downsample English, keep all of a low-resource language), same
    * md5 determinism as `hashSample` — the sample for a stratum at
    * fraction f equals `hashSample(f)` restricted to that stratum,
    * so cross-run/nested properties carry over. Strata absent from
    * `fractions` default to 0 (dropped) — explicit allowlisting, the
    * safe default for corpus mixing. The fractions ship as a map
    * literal: no join, the predicate stays codegen'd in the scan
    * stage.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
      fractions: Map[String, Double], salt: String = ""): DataFrame = {
    val thresholds = map(fractions.toSeq.flatMap { case (k, f) =>
      Seq(lit(k), lit(bandThreshold(f)))
    }: _*)
    df.filter(md5Band(col(keyCol), salt) <
      coalesce(element_at(thresholds, col(stratumCol)), lit(0L)))
  }

  /** X85 — temperature-based corpus mixing (the mT5/Pile sampling
    * rule): stratum s is sampled at a rate ∝ n_s^(α-1), i.e. its
    * share of the output is n_s^α / Σ n^α — α=1 keeps natural
    * proportions, α→0 equalizes sources, α=0.5 is the common
    * up-weight-the-tail setting. Rates derive from the corpus's OWN
    * counts (one skinny agg) and rows keep via the shared md5 band,
    * so the mix is deterministic and content-stable like every other
    * sampler here.
    *
    * Cross-engine exactness: w_s = round(n_s^α · 10⁶) is quantized to
    * an INTEGER before summing — float Σ order across strata would
    * otherwise drift a ulp between engines and flip band-boundary
    * rows. Every later product/division is a fixed-shape expression
    * over exact integers, so both engines compute identical doubles.
    *
    * `targetFraction` is the desired overall keep rate; per-stratum
    * rates cap at 1 (a tail source smaller than its allocation keeps
    * everything — the capped mass is NOT redistributed, matching the
    * published samplers, which renormalize offline).
    *
    * Scale shape: one map-side-combinable count agg (|strata| rows) →
    * one single-row total → rates broadcast-join back to the scan;
    * the keep predicate stays codegen'd. No driver-side state.
    */
  def temperatureMix(df: DataFrame, keyCol: String, stratumCol: String,
      alpha: Double, targetFraction: Double, salt: String = "")
      : DataFrame = {
    require(alpha > 0 && alpha <= 1, s"need 0 < alpha <= 1, got $alpha")
    require(targetFraction > 0 && targetFraction <= 1,
      s"need 0 < targetFraction <= 1, got $targetFraction")
    // α=0.5 goes through sqrt, which IEEE 754 requires to be
    // correctly rounded — bit-identical across engines. pow carries
    // no such guarantee (a 1-ulp drift could flip the quantization),
    // so the exact-oracle contract pins α=0.5.
    val weight =
      if (alpha == 0.5) sqrt(col("__n").cast("double"))
      else pow(col("__n").cast("double"), lit(alpha))
    val sizes = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", round(weight * 1e6, 0).cast("long"))
    val tot = sizes.agg(sum(col("__n")).as("__tn"), sum(col("__w")).as("__tw"))
    val rates = sizes.crossJoin(broadcast(tot))
      .withColumn("__rate",
        least(lit(1.0),
          lit(targetFraction) * col("__tn").cast("double") * col("__w") /
            (col("__tw").cast("double") * col("__n"))))
      .withColumn("__thr",
        round(col("__rate") * 4294967296.0, 0).cast("long"))
      .select(col(stratumCol), col("__rate").as("mix_rate"), col("__thr"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(md5Band(col(keyCol).cast("string"), salt) < col("__thr"))
      .drop("__thr")
  }

  /** Token-budget sharding: pack an ordered document stream into
    * training shards of ≈`budgetTokens` each — shard id = ⌊cumulative
    * tokens before the doc / budget⌋, per `partitionCol` (e.g.
    * source/language), docs in `orderCol` order. One window (= one
    * shuffle by partition + in-partition sort) produces the whole
    * assignment; a doc larger than the budget gets its own shard
    * rather than splitting (the common packing policy; splitting is
    * a tokenizer-level concern).
    *
    * The cumulative sort is per-PARTITION, not global — shards of
    * different sources build in parallel; skewed sources are the
    * partitionCol's responsibility (salt it upstream if one source
    * is half the corpus).
    */
  def tokenShards(df: DataFrame, partitionCol: String, orderCol: String,
      tokenCountCol: String, budgetTokens: Long): DataFrame = {
    val w = Window.partitionBy(col(partitionCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("tokens_before",
        coalesce(sum(col(tokenCountCol)).over(w), lit(0L)))
      // integral div: long `/` would detour through doubles and lose
      // exactness past 2^53 cumulative tokens (reachable at 100 TB)
      .withColumn("shard_id", expr(s"tokens_before div $budgetTokens"))
  }

  /** Context-window chunking: split each doc's token stream into
    * fixed-size overlapping windows — the sequence-assembly step
    * between cleaning and tokenizer-side packing in an LLM pipeline.
    * Chunk j covers tokens [j·stride, j·stride + chunkSize); the last
    * chunk may be shorter; chunk starts run to the first start
    * covering the tail (so every token lands in ≥1 chunk); docs with
    * zero tokens produce zero chunks.
    *
    * Output: (docCol, chunk_id, n_chunk_tokens, chunk_text).
    *
    * Per-doc array work then explode — embarrassingly parallel, no
    * shuffle; output cardinality ≈ n_tokens/stride per doc. The
    * slice/join HOFs are interpreted, but chunking is inherently
    * array assembly — there is no cheaper representation to hand a
    * tokenizer.
    */
  def chunkDocs(docs: DataFrame, docCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val n = size(col("__w"))
    val nChunks = lit(1) + when(n <= chunkSize, 0)
      .otherwise(expr(s"(size(__w) - $chunkSize + $stride - 1) div $stride"))
    // sequence(0, -1) yields a DESCENDING sequence, not an empty one —
    // the zero-token case must produce an explicit empty array so
    // explode drops the doc
    val chunkIds = when(n === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), (nChunks - 1).cast("int")))
    docs.select(col(docCol), Dedup.tokens(col(textCol)).as("__w"))
      .withColumn("chunk_id", explode(chunkIds))
      .select(col(docCol), col("chunk_id"),
        slice(col("__w"), col("chunk_id") * stride + 1, lit(chunkSize))
          .as("__c"))
      .select(col(docCol), col("chunk_id"),
        size(col("__c")).as("n_chunk_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** X81 — concat-and-split sequence packing (the GPT-style packing
    * step between chunking and the trainer): all docs' token streams
    * concatenate in `docCol` order into one virtual stream, and
    * training sequence s owns tokens [s·seqLen, (s+1)·seqLen). No
    * padding waste, deterministic, every token lands in exactly one
    * sequence; the final sequence may be short.
    *
    * Output: (seq_id, n_tokens, seq_text), one row per sequence.
    *
    * Scale shape, three exchanges: (1) the prefix sum runs on a
    * SKINNY (docCol, n) projection — never on token arrays — as a
    * TRUE two-phase distributed scan (see [[prefixStarts]]): no
    * single-partition stage anywhere. (2) offsets join back to the
    * token arrays by docCol. (3) reassembly groups each token once by
    * its owning seq_id — a doc's tokens spread over ≤ n/seqLen + 1
    * sequences, so no hot key regardless of doc-length skew.
    */
  def packSequences(docs: DataFrame, docCol: String, textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"need seqLen > 0, got $seqLen")
    // coalesce: legacy size(NULL) = -1 would silently shift every later
    // sequence's global offset (DuckDB treats a NULL doc as 0 tokens).
    val toks = docs.select(col(docCol),
      coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))
        .as("__w"))
    val skinny = toks.select(col(docCol), size(col("__w")).cast("long").as("__n"))
    val offs = prefixStarts(skinny, docCol)
    toks.join(offs, Seq(docCol))
      .select(col("__start"), posexplode(col("__w")).as(Seq("__i", "__t")))
      .withColumn("__gpos", col("__start") + col("__i"))
      .groupBy(expr(s"__gpos div $seqLen").as("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("__gpos"), col("__t")))),
            p => p.getField("__t")), " ").as("seq_text"))
      .select(col("seq_id"), col("n_tokens"), col("seq_text"))
  }

  /** X100 — packed-sequence attention boundaries: the per-sequence
    * document-span map [[packSequences]]' output needs before a
    * trainer can mask cross-document attention (block-diagonal
    * attention inside packed sequences — the Llama-3/T5 packing
    * hygiene that stops doc B's tokens attending into doc A). For
    * every (sequence, document) intersection: where the doc's slice
    * sits in the sequence AND where it sits in the doc, so both the
    * mask and exact slice reconstruction derive from this one table.
    *
    * Output: (seq_id, docCol, start_in_seq, start_in_doc, len).
    *
    * Scale shape: STRICTLY SKINNIER than packing itself — the whole
    * computation runs on the (doc, token-count) table via the same
    * two-phase prefix sum, then a bounded explode (a doc spans
    * ≤ n/seqLen + 1 sequences); token arrays are never touched, so
    * the operator is metadata-sized at any corpus scale.
    */
  def packBoundaries(docs: DataFrame, docCol: String, textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"need seqLen > 0, got $seqLen")
    val skinny = docs.select(col(docCol),
      size(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).cast("long").as("__n"))
      .filter(col("__n") > 0)
    val offs = prefixStarts(skinny, docCol)
    skinny.join(offs, Seq(docCol))
      .select(col(docCol), col("__n"), col("__start"),
        explode(sequence(expr(s"__start div $seqLen"),
          expr(s"(__start + __n - 1) div $seqLen"))).as("seq_id"))
      .select(col("seq_id"), col(docCol),
        greatest(col("__start") - col("seq_id") * seqLen, lit(0L))
          .as("start_in_seq"),
        greatest(col("seq_id") * seqLen - col("__start"), lit(0L))
          .as("start_in_doc"),
        (least(col("__start") + col("__n"), (col("seq_id") + 1) * seqLen) -
          greatest(col("__start"), col("seq_id") * seqLen)).as("len"))
  }

  /** X89 — vocabulary growth curve (the Heaps-law diagnostic a
    * tokenizer budget is planned against): after each doc in docCol
    * order, the cumulative token count and cumulative DISTINCT
    * vocabulary size. The sequential-looking "distinct so far" is
    * fully distributed: a type's first occurrence is min(docCol) per
    * token (one agg), so vocab after doc d = # types whose first doc
    * ≤ d — two [[prefixStarts]] scans over skinny per-doc counts, no
    * single-partition stage.
    *
    * Output: (docCol, n_tokens, new_types, cum_tokens, vocab_size).
    */
  def vocabGrowth(docs: DataFrame, docCol: String, textCol: String)
      : DataFrame = {
    val tok = docs.select(col(docCol),
      explode(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).as("__t"))
    val cnts = tok.groupBy(col(docCol)).agg(count(lit(1)).as("__n"))
    val news = tok.groupBy(col("__t")).agg(min(col(docCol)).as("__d0"))
      .groupBy(col("__d0").as(docCol)).agg(count(lit(1)).as("__nv"))
    val base = docs.select(col(docCol)).distinct()
      .join(cnts, Seq(docCol), "left")
      .join(news, Seq(docCol), "left")
      .select(col(docCol), coalesce(col("__n"), lit(0L)).as("__n"),
        coalesce(col("__nv"), lit(0L)).as("__nv"))
    // ONE two-phase pass for both masses: the inclusive prefix IS
    // cum_tokens/vocab_size directly, so the old layout's second
    // prefixStarts scan, the persist, and both start+mass join-backs
    // (r13: measured ~2× the job count of this form — per-job
    // scheduler latency is the whole cost at sub-second scale) all
    // collapse into this single cumSums call.
    cumSums(base, Seq(col(docCol)), Seq("__n", "__nv"))
      .select(col(docCol), col("__n").as("n_tokens"),
        col("__nv").as("new_types"),
        col("__cum__n").cast("long").as("cum_tokens"),
        col("__cum__nv").cast("long").as("vocab_size"))
  }

  /** X89b — Heaps-law fit V = k·nᵝ by exact least squares on the
    * log-log growth curve. Cross-engine exactness: ln values are
    * QUANTIZED to integer nano-units (round(ln·10⁹) — a 1-ulp libm
    * log discrepancy is ~10⁻⁶ quanta, far under the rounding
    * boundary) and every Σ runs in exact decimal arithmetic, so both
    * engines feed identical integers into the closed form; the final
    * doubles round to 6 dp. Output: one row (n_points, beta, k).
    */
  def heapsFit(growth: DataFrame): DataFrame =
    quantizedLogFit(growth
        .filter(col("cum_tokens") > 0 && col("vocab_size") > 0),
      col("cum_tokens"), col("vocab_size"))

  /** X90 — Zipf rank-frequency fit f(r) = c·r^(−s) over the corpus
    * unigram table: rank by (count desc, token), exact least squares
    * on the quantized log-log points (same cross-engine arithmetic as
    * [[heapsFit]]). Output: (n_points, beta, k) with s = −beta. The
    * ranking window is global over the VOCABULARY table (types, not
    * tokens) — bounded like every vocab-sized stage here.
    */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(Dedup.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    // rank by (count desc, token) via the two-phase distributed rank —
    // vocabulary-bounded either way, but no single-partition window
    val ranked = globalRank(counts, Seq(col("__c").desc, col("__t")))
      .withColumn("__r", col("__rank") + 1)
    quantizedLogFit(ranked, col("__r"), col("__c"))
  }

  /** Exact least squares of ln(y) on ln(x): ln values quantized to
    * integer nano-units (1-ulp libm log drift ≈ 10⁻⁶ quanta — both
    * engines round to the same integer) and summed in exact decimal
    * arithmetic, so the closed form sees identical inputs everywhere.
    * Output: (n_points, beta, k) for y = k·x^beta, rounded to 6 dp.
    */
  private def quantizedLogFit(df: DataFrame, x: Column, y: Column)
      : DataFrame = {
    val dec = "decimal(20,0)"
    val pts = df.select(
      round(log(x.cast("double")) * 1e9, 0).cast(dec).as("__x"),
      round(log(y.cast("double")) * 1e9, 0).cast(dec).as("__y"))
    val m = pts.agg(count(lit(1)).as("n_points"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val n = col("n_points").cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val sxy = col("__sxy").cast("double"); val sxx = col("__sxx").cast("double")
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    m.select(col("n_points"), round(beta, 6).as("beta"),
      round(exp((sy - beta * sx) / (n * lit(1e9))), 6).as("k"))
  }

  /** Distributed exclusive prefix sum of `__n` in `docCol` order —
    * the textbook two-phase scan, with NO single-partition stage:
    * range-partition + in-partition sort by docCol (deterministic for
    * a given input), phase 1 reduces each partition to ONE subtotal
    * row (collected: ≤ numShufflePartitions rows, driver-bounded by
    * config, not data), phase 2 re-reads the SAME shuffle output (the
    * stage is reused across the two jobs — the exchange runs once)
    * adding the broadcast partition offset to a narrow running sum.
    * Compare the windowed form (`Window.orderBy(docCol)`), which
    * funnels the whole table through one task at 100 TB.
    *
    * Input must be (docCol, __n: long); output is (docCol, __start).
    */
  private[graft] def prefixStarts(skinny: DataFrame, docCol: String)
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = skinny.sparkSession
    val ranged = skinny
      .repartitionByRange(col(docCol)).sortWithinPartitions(col(docCol))
    val rdd = ranged.rdd // one RDD object -> the shuffle is reused below
    val subtotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(1))
      Iterator.single((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(
      subtotals.scanLeft(0L)(_ + _))
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = offsets.value(pid)
      it.map { r =>
        val start = s
        s += r.getLong(1)
        Row(r.get(0), start)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      skinny.schema.head, StructField("__start", LongType, nullable = false))))
  }

  /** X218 — budget-constrained greedy selection: keep the best
    * quality-per-token documents until a token budget is spent — the
    * fractional-knapsack greedy (optimal up to the single boundary
    * doc), which is THE shape of "fill a 10B-token training budget
    * from a 10T-token pool". Ratio quantizes to nano-units
    * (round(q·1e9/tokens) — deterministic), ranking is the two-phase
    * [[globalRank]] (ratio desc, id tie-break), and the running
    * token total is a second two-phase [[prefixStarts]] pass over
    * the rank order — NO single-partition cumulative window
    * anywhere. Output: selected rows with (sel_rank, cum_tokens),
    * cum ≤ budget.
    */
  def budgetSelect(df: DataFrame, idCol: String, qualityCol: String,
      tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"bad budget $budget")
    val base = df.select(col(idCol), col(qualityCol),
        col(tokensCol).cast("long").as("__tok"))
      .filter(col("__tok") > 0L)
      .withColumn("__ratio",
        round(col(qualityCol).cast("double") * 1e9 /
          col("__tok").cast("double"), 0).cast("long"))
    val ranked = globalRank(base,
      Seq(col("__ratio").desc, col(idCol)))
    val starts = prefixStarts(
      ranked.select(col("__rank"), col("__tok").as("__n")), "__rank")
    ranked.join(starts, Seq("__rank"))
      .withColumn("cum_tokens", col("__start") + col("__tok"))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col(qualityCol),
        col("__tok").as("tokens"),
        (col("__rank") + 1L).as("sel_rank"), col("cum_tokens"))
  }

  /** X108 — competence-based curriculum schedule (Platanios et al.
    * 2019): each document gets a RARITY difficulty — the corpus
    * negative log-likelihood of its unigrams, Σ_w (ln N − ln c_w) —
    * then the corpus is cut into `nStages` equal-population
    * competence stages (easy → hard) and deterministically shuffled
    * WITHIN each stage (md5 draw — content-stable like every sampler
    * here), yielding the (stage, pos_in_stage) feed order a
    * curriculum trainer consumes.
    *
    * Exactness: difficulty lives in integer nano-log units (the
    * [[quantizedLogFit]] convention — both engines round 1-ulp libm
    * drift to the same integer), so stage comparisons against the
    * interpolated percentile boundaries and the reported
    * `difficulty = dq/1e9` are bit-identical cross-engine.
    *
    * Scale shape: one token explode → vocab-sized word-count agg →
    * token⋈counts equi-join (shuffle by word, then by doc — never a
    * broadcast of the vocabulary), ONE tiny boundary agg broadcast
    * back, and the stage positions via the two-phase distributed rank
    * (range-partition on the full (stage, draw, doc) sort key + one
    * subtotal collect ≤ numShufflePartitions rows) — a global
    * `Window.orderBy` or per-stage ntile would funnel a stage through
    * one task at 100 TB; this never does.
    */
  def curriculumSchedule(docs: DataFrame, docCol: String, textCol: String,
      nStages: Int, salt: String = "curriculum"): DataFrame = {
    require(nStages >= 2, s"need nStages >= 2, got $nStages")
    def lnq(v: Column): Column =
      round(log(v.cast("double")) * 1e9, 0).cast("long")
    val toks = docs.select(col(docCol),
      explode(Dedup.tokens(col(textCol))).as("__w"))
    val wf = toks.groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val total = wf.agg(sum(col("__c")).as("__n"))
    val perDoc = toks.join(wf, "__w")
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_tokens"), sum(lnq(col("__c"))).as("__slc"))
    val diffs = docs.select(col(docCol))
      .join(perDoc, Seq(docCol), "left")
      .crossJoin(broadcast(total))
      .select(col(docCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("n_tokens"), lit(0L)) * lnq(col("__n")) -
          coalesce(col("__slc"), lit(0L))).as("__dq"))
    val probs = (1 until nStages).map(_.toDouble / nStages)
    val boundAggs = probs.zipWithIndex.map { case (p, i) =>
      percentile(col("__dq"), lit(p)).as(s"__b$i")
    }
    val bounds = diffs.agg(boundAggs.head, boundAggs.tail: _*)
    val stage = (0 until nStages - 1)
      .map(i => when(col("__dq") > col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _) + 1
    val staged = diffs.crossJoin(broadcast(bounds))
      .withColumn("stage", stage)
      .drop((0 until nStages - 1).map(i => s"__b$i"): _*)
      .withColumn("__k", md5Band(col(docCol).cast("string"), salt))
    val ranked = globalRank(staged,
      Seq(col("stage"), col("__k"), col(docCol)))
    val stageStarts = ranked.groupBy(col("stage"))
      .agg(min(col("__rank")).as("__s0"))
    ranked.join(broadcast(stageStarts), Seq("stage"))
      .select(col(docCol), col("n_tokens"),
        round(col("__dq") / 1e9, 6).as("difficulty"), col("stage"),
        (col("__rank") - col("__s0")).as("pos_in_stage"))
  }

  /** Distributed 0-based dense row rank over `sortCols` — the
    * [[prefixStarts]] two-phase scan with a unit count and a
    * composite sort key: range-partition + in-partition sort, one
    * per-partition subtotal collect (≤ numShufflePartitions rows),
    * re-read of the SAME shuffle output with broadcast offsets. No
    * single-partition stage; appends `__rank`.
    */
  private[graft] def globalRank(df: DataFrame, sortCols: Seq[Column])
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val ranged = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = ranged.rdd // one RDD object -> the shuffle is reused below
    val subtotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single((pid, it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(
      subtotals.scanLeft(0L)(_ + _))
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = offsets.value(pid)
      it.map { r => val rk = s; s += 1L; Row.fromSeq(r.toSeq :+ rk) }
    }
    spark.createDataFrame(out, StructType(
      df.schema.fields :+ StructField("__rank", LongType, nullable = false)))
  }

  /** Distributed inclusive prefix sums over `sortCols` order — the
    * [[globalRank]] two-phase scan generalized from a unit count to
    * arbitrary long/decimal mass columns: range-partition +
    * in-partition sort, one per-partition subtotal collect (≤
    * numShufflePartitions × \|sumCols\| values), re-read of the SAME
    * shuffle output with broadcast offsets. Replaces the single-task
    * `sum(c).over(Window.orderBy(v))` shape in the rank-statistics
    * family (every caller feeds a DISTINCT-value grid, so sort-key
    * ties — whose intra-order range partitioning doesn't preserve —
    * cannot occur). NULL masses count as 0 (callers pass non-null
    * aggregate counts). Appends `__cum<name>` per sum column;
    * integer/decimal accumulation is exact, so values are identical
    * to the window form's.
    */
  private[graft] def cumSums(df: DataFrame, sortCols: Seq[Column],
      sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    val spark = df.sparkSession
    val schema = df.schema
    val idxs = sumCols.map(schema.fieldIndex).toArray
    val isDec = idxs.map(i =>
      schema.fields(i).dataType.isInstanceOf[DecimalType])
    val k = idxs.length
    val ranged = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = ranged.rdd // one RDD object -> the shuffle is reused below
    val subtotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = Array.fill[java.math.BigDecimal](k)(
        java.math.BigDecimal.ZERO)
      it.foreach { r =>
        var c = 0
        while (c < k) {
          if (!r.isNullAt(idxs(c))) {
            val v = if (isDec(c)) r.getDecimal(idxs(c))
              else java.math.BigDecimal.valueOf(r.getLong(idxs(c)))
            acc(c) = acc(c).add(v)
          }
          c += 1
        }
      }
      Iterator.single((pid, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(
      subtotals.scanLeft(Array.fill[java.math.BigDecimal](k)(
        java.math.BigDecimal.ZERO)) { (a, b) =>
        Array.tabulate(k)(c => a(c).add(b(c)))
      })
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = offsets.value(pid).clone()
      it.map { r =>
        var c = 0
        val extra = new Array[Any](k)
        while (c < k) {
          if (!r.isNullAt(idxs(c))) {
            val v = if (isDec(c)) r.getDecimal(idxs(c))
              else java.math.BigDecimal.valueOf(r.getLong(idxs(c)))
            acc(c) = acc(c).add(v)
          }
          extra(c) = if (isDec(c)) acc(c) else acc(c).longValueExact()
          c += 1
        }
        Row.fromSeq(r.toSeq ++ extra)
      }
    }
    spark.createDataFrame(out, StructType(schema.fields ++
      idxs.indices.map(c => StructField("__cum" + sumCols(c),
        schema.fields(idxs(c)).dataType, nullable = false))))
  }

  /** Length-bucketed batch assembly: group rows into `numBuckets`
    * quantile buckets of `countCol` (equal-population boundaries),
    * then pack each bucket into batches of `batchSize` in
    * (countCol, docCol) order — the padding-efficiency batching every
    * sequence-model trainer runs (batch members have similar lengths,
    * so pad-to-longest waste is bounded by the bucket width).
    *
    * Output: input row + (bucket 1..numBuckets, batch_id 0-based
    * within bucket, pos_in_batch 0-based).
    *
    * Scale shape: boundaries are ONE tiny agg row broadcast to the
    * scan (swap `percentile` for `approx_percentile` at 100 TB — the
    * established exact/sketch twin); the packing window partitions by
    * bucket, so buckets sort independently. A global ntile would need
    * a single-partition window — this is the distributed form.
    */
  def assembleBatches(docs: DataFrame, docCol: String, countCol: String,
      numBuckets: Int, batchSize: Int): DataFrame = {
    require(numBuckets >= 2 && batchSize > 0)
    val probs = (1 until numBuckets).map(_.toDouble / numBuckets)
    val boundAggs = probs.zipWithIndex.map { case (p, i) =>
      percentile(col(countCol), lit(p)).as(s"__b$i")
    }
    val bounds = docs.agg(boundAggs.head, boundAggs.tail: _*)
    val bucket = (0 until numBuckets - 1)
      .map(i => when(col(countCol) > col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _) + 1
    val win = Window.partitionBy(col("bucket"))
      .orderBy(col(countCol), col(docCol))
    docs.crossJoin(broadcast(bounds))
      .withColumn("bucket", bucket)
      .drop((0 until numBuckets - 1).map(i => s"__b$i"): _*)
      .withColumn("__rn", row_number().over(win))
      .withColumn("batch_id", expr(s"(__rn - 1) div $batchSize"))
      .withColumn("pos_in_batch", expr(s"(__rn - 1) % $batchSize"))
      .drop("__rn")
  }

  /** Token-budget corpus mixing: down-sample each source to its
    * target token share. `targetTokens(source)` is the token budget
    * a source may contribute (caller computes budget × weight);
    * sources absent from the map drop (allowlist semantics, as in
    * [[stratifiedSample]]). The keep fraction is
    * min(1, target / source_total_tokens) and rows are kept by the
    * same content-stable md5 predicate as [[hashSample]] — so the
    * realized token count concentrates on target · (1 ± O(1/√n)),
    * and re-running on a grown corpus keeps prior decisions for
    * unchanged rows.
    *
    * Output: kept rows + (source_tokens, keep_frac).
    *
    * Scale shape: per-source totals are one tiny agg broadcast back;
    * the keep predicate is scan-stage codegen. The fraction→threshold
    * arithmetic (floor(frac · 2³²)) is reproducible in any engine
    * computing IEEE doubles.
    */
  def mixCorpus(docs: DataFrame, keyCol: String, sourceCol: String,
      tokenCountCol: String, targetTokens: Map[String, Double],
      salt: String = ""): DataFrame = {
    val targets = map(targetTokens.toSeq.flatMap { case (s, t) =>
      Seq(lit(s), lit(t))
    }: _*)
    val totals = docs.groupBy(col(sourceCol))
      .agg(sum(col(tokenCountCol)).as("source_tokens"))
    // NB: least() IGNORES null operands in Spark and DuckDB alike —
    // least(1.0, null) is 1.0, which would KEEP unlisted sources.
    // The null check must come first.
    val tgt = element_at(targets, col(sourceCol))
    val frac = when(tgt.isNull, lit(0.0))
      .otherwise(least(lit(1.0), tgt / col("source_tokens")))
    val hash = conv(substring(md5(concat(lit(salt), col(keyCol))), 1, 8),
      16, 10).cast("long")
    docs.join(broadcast(totals), sourceCol)
      .withColumn("keep_frac", frac)
      .filter(hash < floor(col("keep_frac") * 4294967296.0).cast("long"))
  }

  /** Deterministic training-order shuffle + shard assignment: every
    * row gets a shard (`pmod` of the md5 top-32-bits over `numShards`
    * — uniform regardless of key distribution) and a position within
    * its shard (rank by the full md5 digest, key as tiebreaker for
    * the astronomically-unlikely digest tie). The "global shuffle"
    * every training run needs, without a global sort: one hash
    * shuffle into shards + an in-shard sort, each shard independent —
    * the only scalable way to materialize a randomized epoch order
    * over 100 TB. Same md5 determinism as [[hashSample]]: the order
    * is reproducible across runs, engines, and corpus growth (a new
    * doc lands in its hash slot; existing relative orders are
    * preserved within a shard).
    *
    * Output: input columns + (shard, pos). Downstream writes
    * `partitionBy("shard")` sorted by pos — readers stream shards
    * round-robin for a well-mixed epoch.
    */
  def deterministicShuffle(df: DataFrame, keyCol: String,
      numShards: Int, salt: String = ""): DataFrame = {
    val digest = md5(concat(lit(salt), col(keyCol)))
    val shard = pmod(
      conv(substring(digest, 1, 8), 16, 10).cast("long"),
      lit(numShards.toLong)).cast("int")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__digest"), col(keyCol))
    df.withColumn("__digest", digest)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .drop("__digest")
  }

  /** Gopher-style repetition quality signals, one row per doc:
    *   - `ttr`: type-token ratio (distinct / total tokens — low =
    *     repetitive vocabulary),
    *   - `top_frac`: most-frequent-token share (high = degenerate
    *     repetition),
    *   - `dup_bigram_frac`: 1 − distinct/total bigrams (high =
    *     repeated phrasing — the strongest boilerplate signal).
    * The standard filters alongside [[cleanCorpus]]'s gates for
    * catching machine-generated or template text that passes
    * length/language checks.
    *
    * Two exploded aggregates (tokens, bigrams) joined on the doc key
    * — both map-side combinable, shuffle carries (doc, term) counts.
    * Docs with < 2 tokens report dup_bigram_frac = 0.0. All ratios
    * are IEEE-exact divisions of exact integers, so results reproduce
    * bit-identically in an external SQL engine.
    */
  def repetitionStats(docs: DataFrame, docCol: String,
      textCol: String): DataFrame = {
    val uni = InvertedIndex.termCounts(docs, docCol, textCol, n = 1)
      .groupBy(col(docCol))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("__top"))
    val bi = InvertedIndex.termCounts(docs, docCol, textCol, n = 2)
      .groupBy(col(docCol))
      .agg(sum(col("tf")).as("__n_bi"), count(lit(1)).as("__n_bi_d"))
    uni.join(bi, Seq(docCol), "left")
      .select(col(docCol), col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
        (col("__top").cast("double") / col("n_tokens")).as("top_frac"),
        coalesce(
          lit(1.0) - col("__n_bi_d").cast("double") / col("__n_bi"),
          lit(0.0)).as("dup_bigram_frac"))
  }

  /** The composed corpus-cleaning stage — what a C4-style pipeline
    * runs as its first pass over raw documents: exact-dup
    * canonicalization, length gate, composite quality gate, and
    * language allowlist, annotated per doc with the FIRST failing
    * rule (fixed priority: duplicate → too_short → low_quality →
    * language) so rejection stats aggregate cleanly. Everything is
    * Column expressions plus ONE window (the content-hash duplicate
    * group — an 8-byte shuffle key, never raw text); quality and
    * lang-ID formulas are exactly the contracted `q_quality_score` /
    * `q_lang_id` math, so the whole stage reproduces in an external
    * SQL engine.
    *
    * `stopwords` drives both the quality stopword ratio (head list)
    * and lang-ID (argmax of per-list hit counts, ties to the earlier
    * list). Output: doc rows + (n_tokens, quality, predicted,
    * is_canonical, reject_reason, kept).
    */
  def cleanCorpus(docs: DataFrame, docCol: String, textCol: String,
      stopwords: Seq[(String, Seq[String])], keepLangs: Seq[String],
      minTokens: Int, minQuality: Double): DataFrame = {
    require(stopwords.nonEmpty, "need at least one stopword list")
    val toksCol = filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")
    def hitsOf(ws: Seq[String]) =
      size(filter(toksCol, t => t.isin(ws.map(lit): _*)))
    val langs = stopwords.map(_._1)
    val scored = docs.select(
      Seq(col(docCol), col(textCol)) ++
        stopwords.map { case (l, ws) => hitsOf(ws).as(s"__s_$l") } ++ Seq(
          size(toksCol).as("n_tokens"),
          length(regexp_replace(col(textCol), "[^A-Za-z0-9]", ""))
            .as("__n_alnum"),
          length(col(textCol)).as("__n_chars")): _*)
    // argmax with ties to the earlier list — same cascade as q_lang_id
    val predicted = langs.init.foldLeft(Option.empty[Column]) { (acc, l) =>
      val later = langs.drop(langs.indexOf(l) + 1)
      val cond = later.map(o => col(s"__s_$l") >= col(s"__s_$o"))
        .reduce(_ && _)
      Some(acc.fold(when(cond, l))(_.when(cond, l)))
    }.get.otherwise(langs.last)
    val quality =
      lit(0.4) * least(col("n_tokens") / 100.0, lit(1.0)) +
      lit(0.3) * (col("__n_alnum").cast("double") / col("__n_chars")) +
      lit(0.3) * least(
        lit(3) * col(s"__s_${langs.head}").cast("double") / col("n_tokens"),
        lit(1.0))
    val dupW = Window.partitionBy(xxhash64(lower(col(textCol))))
    val annotated = scored
      .withColumn("predicted", predicted)
      .withColumn("quality", quality)
      .withColumn("is_canonical", col(docCol) === min(col(docCol)).over(dupW))
    val reason =
      when(!col("is_canonical"), "duplicate")
        .when(col("n_tokens") < minTokens, "too_short")
        .when(col("quality") < minQuality, "low_quality")
        .when(!col("predicted").isin(keepLangs.map(lit): _*), "language")
    annotated
      .withColumn("reject_reason", reason)
      .withColumn("kept", col("reject_reason").isNull)
      .drop(annotated.columns.filter(_.startsWith("__s_")).toSeq ++
        Seq("__n_alnum", "__n_chars"): _*)
  }

  /** Deterministic fixed-COUNT per-stratum sample ("n docs per
    * language"), the companion to [[stratifiedSample]]'s fixed
    * FRACTIONS: rank rows inside each stratum by md5(salt ‖ key) and
    * keep the first `n` — reproducible across runs/engines, no RNG
    * state. Unlike fraction sampling, membership is not
    * content-stable under corpus growth (a new row can displace the
    * rank-n row — inherent to any exact-count contract).
    *
    * One window (shuffle by stratum + sort). For 100 TB strata,
    * pre-filter with [[hashSample]] at a few×n/|stratum| to shrink
    * the sorted set, or feed (hash-rank, id) through
    * [[graft.functions.TopKAgg]] for a map-side-bounded exchange —
    * this exact-SQL form is the oracle-matching reference.
    */
  def sampleNPerGroup(df: DataFrame, keyCol: String, stratumCol: String,
      n: Int, salt: String = "",
      tiebreak: Seq[Column] = Nil): DataFrame = {
    // duplicate keyCol values tie on (md5, key) — pass a unique
    // `tiebreak` (e.g. the id column) to keep the rank-n boundary
    // deterministic when keys can repeat
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(concat(lit(salt), col(keyCol))) +: col(keyCol) +:
        tiebreak: _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Corpus snapshot diff: per key, `added` / `removed` / `changed` /
    * `unchanged` between two corpus versions — the audit step before
    * promoting a new training snapshot. Content comparison is by
    * md5 of the content column, so the full outer join carries
    * (key, 32-char hash), never the documents themselves; at 100 TB
    * both sides shuffle once on the key. (md5, not xxhash64, so an
    * external SQL engine reproduces the verdicts bit-for-bit.)
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCol: String,
      contentCol: String): DataFrame = {
    // presence flags, not hash nullness, decide added/removed:
    // md5(NULL content) is null, and a null-content doc present in
    // both versions is 'unchanged', not 'added'
    val a = before.select(col(keyCol), md5(col(contentCol)).as("__ha"),
      lit(true).as("__ina"))
    val b = after.select(col(keyCol), md5(col(contentCol)).as("__hb"),
      lit(true).as("__inb"))
    a.join(b, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__ina").isNull, "added")
          .when(col("__inb").isNull, "removed")
          .when(!(col("__ha") <=> col("__hb")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Leak-proof train/val/test splitting: assign every document to a
    * split by hashing its near-dup CLUSTER id, not its own id — all
    * members of a component land in the same split, so a near-dup of
    * a training doc can never sit in the eval split (the train/test
    * leak every benchmark audit hunts for; splitting by doc hash
    * alone re-creates it at exactly the near-dup rate).
    *
    * `clusters` is (docCol, cluster_id) from [[Dedup.resolveClusters]]
    * over whatever pair predicate the pipeline trusts; docs absent
    * from it are singleton components (their own id). `fractions`
    * are (name, fraction) in band order, summing to 1.0; assignment
    * is the [[hashSampleCol]] md5-threshold band — deterministic,
    * content-stable, engine-reproducible.
    *
    * Output: (docCol, cluster_id, split).
    *
    * Scale shape: one left join against the skinny cluster table +
    * a scan-stage hash expression — no shuffle beyond the join; the
    * cluster table is the already-computed dedup artifact.
    */
  def leakProofSplit(docs: DataFrame, docCol: String, clusters: DataFrame,
      fractions: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0) &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must be positive and sum to 1.0: $fractions")
    // the key stays in its OWN type (coalesce analysis-errors loudly
    // on mismatched doc/cluster id types) and hashes via its string
    // form — never a numeric cast, which would null out non-numeric
    // ids and silently dump every doc into the last band
    val key = coalesce(col("cluster_id"), col(docCol))
    val h = md5Band(key.cast("string"), salt)
    val cums = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
      .tail.map(bandThreshold)
    val split = fractions.init.zip(cums.init)
      .foldRight(lit(fractions.last._1): Column) {
        case (((name, _), cum), rest) => when(h < cum, name).otherwise(rest)
      }
    docs.select(col(docCol))
      .join(clusters.select(col(docCol), col("cluster_id")), Seq(docCol),
        "left")
      .select(col(docCol), key.as("cluster_id"), split.as("split"))
  }

  /** Deterministic negative sampling for contrastive training: for
    * every anchor, up to `k` pseudo-random negatives (rows with a
    * DIFFERENT label), chosen with no RNG state — the md5 rank makes
    * the sample reproducible across runs, engines, and resumed jobs
    * (the property hashSample gives flat sampling, extended to
    * per-anchor draws).
    *
    * Candidate generation is bucket-probed, never all-pairs: each row
    * hashes into one of `buckets` buckets, each anchor probes
    * `probes` pseudo-random buckets (md5 of anchor ‖ probe index), so
    * the candidate join is an equi-join on the bucket id with
    * ~probes·n/buckets candidates per anchor. SIZE `buckets` WITH THE
    * CORPUS: at fixed `buckets` total join width is Θ(n²·probes/
    * buckets) — choose buckets ≈ n·probes/poolSize to hold the
    * per-anchor pool (and total cost, Θ(n·poolSize)) constant as the
    * corpus grows (measured: 10× corpus at fixed buckets=64 ran
    * ~80× slower; buckets scaled 10× restored the linear trend —
    * SCALING.md). An anchor receives fewer than `k` rows when its
    * probed buckets run dry (raise `probes`).
    *
    * Output: (anchor_id, neg_id, rk), rk in 1..k by the md5 draw.
    */
  /** X123 — grouped k-fold assignment (scikit-learn's GroupKFold
    * hygiene on [[leakProofSplit]]'s foundation): every doc in the
    * same near-dup cluster lands in the same fold, so no CV fold ever
    * trains on a near-copy of its own validation data — the
    * cross-validation form of the X69 leak-proof split. Fold =
    * md5(cluster) % k: content-stable, no fold-size bookkeeping, and
    * folds are ~balanced by the hash (exactly the sampler
    * convention). Singleton docs key on their own id.
    *
    * Scale shape: one left join onto the (skinny) cluster table +
    * scan-stage hash — nothing else moves.
    */
  def groupedKFold(docs: DataFrame, docCol: String, clusters: DataFrame,
      k: Int, salt: String = "fold"): DataFrame = {
    require(k >= 2, s"need k >= 2 folds, got $k")
    val key = coalesce(col("cluster_id"), col(docCol))
    docs.select(col(docCol))
      .join(clusters.select(col(docCol), col("cluster_id")), Seq(docCol),
        "left")
      .select(col(docCol), key.as("cluster_id"),
        (md5Band(key.cast("string"), salt) % k).cast("int").as("fold"))
  }

  def negativeSample(vecs: DataFrame, idCol: String, labelCol: String,
      k: Int, probes: Int = 4, buckets: Int = 64,
      salt: String = ""): DataFrame = {
    require(probes >= 1 && buckets >= probes,
      s"need 1 <= probes <= buckets, got probes=$probes buckets=$buckets")
    val cand = vecs.select(col(idCol).as("neg_id"),
      col(labelCol).as("__nl"))
      .withColumn("__b",
        pmod(md5Band(col("neg_id").cast("string"), salt),
          lit(buckets.toLong)))
    val anchors = vecs.select(col(idCol).as("anchor_id"),
      col(labelCol).as("__al"))
      .withColumn("__p", explode(array((0 until probes).map(i =>
        pmod(md5Band(concat(col("anchor_id").cast("string"), lit("#"),
          lit(i.toString)), salt), lit(buckets.toLong))): _*)))
      .dropDuplicates("anchor_id", "__p") // two probes, same bucket
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(md5(concat(lit(salt), col("anchor_id").cast("string"),
        lit("|"), col("neg_id").cast("string"))), col("neg_id"))
    anchors.join(cand, col("__p") === col("__b"))
      .filter(col("__nl") =!= col("__al") &&
        col("anchor_id") =!= col("neg_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("anchor_id"), col("neg_id"), col("rk"))
  }

  /** Per-group coverage of a fixed top-`vocabSize` token vocabulary —
    * the sizing query behind every tokenizer decision: "if the vocab
    * is the corpus's V most frequent tokens, what fraction of each
    * language's (or source's) token OCCURRENCES does it cover, and
    * what is the OOV rate?" Skewed per-group OOV is the standard
    * signal that a corpus slice needs its own tokenizer or more
    * vocab budget.
    *
    * Vocabulary selection is deterministic: rank by (count desc,
    * token asc) and keep the first `vocabSize` — the tie at the
    * boundary resolves identically in any engine.
    *
    * Output: (groupCol, n_tokens, n_covered, oov_rate) with oov_rate
    * = round(1 − covered/total, 6).
    *
    * Scale shape: token counts are one map-side-combined aggregate;
    * the top-V cut is TakeOrderedAndProject (per-partition heaps of
    * V, no vocabulary sort); the vocab is broadcast back against the
    * exploded token stream (V entries — metadata-sized), so the
    * coverage pass is scan + broadcast probe + per-group agg. No
    * quadratic stage, one corpus-wide shuffle (the count agg).
    */
  def vocabCoverage(docs: DataFrame, textCol: String, groupCol: String,
      vocabSize: Int): DataFrame = {
    // `toks` is consumed twice (vocab aggregate + probe join) and
    // deliberately NOT cached: it is the widest stream in the plan (the
    // fully exploded token column), while its recompute is a codegen'd
    // scan-stage explode with no shuffle — re-scanning is cheaper than
    // pinning corpus-sized rows in executor storage
    val toks = docs.select(col(groupCol),
      explode(Dedup.tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(vocabSize)
      .select(col("token"), lit(1).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__in_vocab")).as("n_covered"))
      .withColumn("oov_rate",
        round(lit(1.0) - col("n_covered").cast("double") / col("n_tokens"), 6))
  }

  /** Within-word adjacent character-pair counts — the statistic that
    * seeds byte-pair encoding: BPE's first merge is exactly the
    * most frequent adjacent pair, and the full pair histogram is the
    * standard corpus diagnostic for vocabulary fit (which merges a
    * tokenizer trained HERE would learn first). Words are whitespace
    * tokens; pairs never cross word boundaries (the BPE convention).
    *
    * Output: (pair, n) — the `k` most frequent 2-character pairs,
    * ties on pair text.
    *
    * Scale shape: explode tokens → explode per-word pair lists → one
    * map-side-combined count + TakeOrderedAndProject top-k. The pair
    * alphabet is bounded (|charset|²), so the final aggregate is
    * tiny no matter the corpus size.
    */
  /** X83 — the Gopher/MassiveText hard-threshold quality rules (Rae
    * et al. 2021, appendix A1.1), as one declarative pass: word-count
    * bounds, mean-word-length band, symbol-to-word ratio (counting
    * '#' chars plus both ellipsis forms, '…' and ASCII '...'),
    * bullet-start / ellipsis-end line ratios, alphabetic-word ratio,
    * and a minimum distinct-stopword count. Unlike `q_quality_score`'s
    * soft 0–1 blend, every rule is a hard boolean and `keep` is their
    * conjunction — the form the published web-corpus filters actually
    * run.
    *
    * Output: per-doc metrics + one boolean per rule + `keep`.
    *
    * Scale shape: pure per-row Column math over the scan — no
    * shuffle, no UDF, whole-stage codegen; ratios divide exact ints
    * so the oracle reproduces bit-identically.
    */
  def gopherRules(docs: DataFrame, docCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletRatio: Double = 0.9, maxEllipsisRatio: Double = 0.3,
      minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Int = 2,
      stopwords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with",
          "a", "in")): DataFrame = {
    val w = Dedup.tokens(col(textCol))
    val lines = split(col(textCol), "\n")
    val t = docs.select(col(docCol), col(textCol),
      w.as("__w"), lines.as("__l"))
      .select(col(docCol),
        size(col("__w")).as("n_words"),
        aggregate(col("__w"), lit(0L), (acc, x) => acc + length(x))
          .as("__wchars"),
        // '#' count and non-overlapping '...'/'…' counts via length
        // arithmetic (replace removes left-to-right non-overlapping
        // occurrences — same count regexp_count would produce, without
        // a regex pass over every char; the two ellipsis forms share
        // no characters so counting from the original text is exact)
        ((length(col(textCol)) -
            length(replace(col(textCol), lit("#"), lit("")))) +
          ((length(col(textCol)) -
            length(replace(col(textCol), lit("..."), lit("")))) / 3)
            .cast("long") +
          (length(col(textCol)) -
            length(replace(col(textCol), lit("…"), lit("")))))
          .as("__symbols"),
        size(filter(col("__l"), l =>
          trim(l).startsWith("•") || trim(l).startsWith("- ") ||
            trim(l).startsWith("* "))).as("__bullets"),
        size(filter(col("__l"), l =>
          l.endsWith("...") || l.endsWith("…"))).as("__ellipses"),
        size(col("__l")).as("__nlines"),
        size(filter(col("__w"), x => x.rlike("[a-z]"))).as("__alpha"),
        size(array_intersect(array_distinct(col("__w")),
          array(stopwords.map(lit): _*))).as("stop_hits"))
    t.select(col(docCol), col("n_words"),
        round(col("__wchars").cast("double") / col("n_words"), 6)
          .as("mean_word_len"),
        round(col("__symbols").cast("double") / col("n_words"), 6)
          .as("symbol_ratio"),
        round(col("__bullets").cast("double") / col("__nlines"), 6)
          .as("bullet_ratio"),
        round(col("__ellipses").cast("double") / col("__nlines"), 6)
          .as("ellipsis_ratio"),
        round(col("__alpha").cast("double") / col("n_words"), 6)
          .as("alpha_word_ratio"),
        col("stop_hits"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .as("pass_words"),
        (col("__wchars") >= col("n_words") * minMeanWordLen &&
          col("__wchars") <= col("n_words") * maxMeanWordLen)
          .as("pass_word_len"),
        (col("__symbols") <= col("n_words") * maxSymbolRatio)
          .as("pass_symbols"),
        (col("__bullets") <= col("__nlines") * maxBulletRatio &&
          col("__ellipses") <= col("__nlines") * maxEllipsisRatio)
          .as("pass_lines"),
        (col("__alpha") >= col("n_words") * minAlphaWordRatio)
          .as("pass_alpha"),
        (col("stop_hits") >= minStopwordHits).as("pass_stopwords"))
      .withColumn("keep",
        col("pass_words") && col("pass_word_len") && col("pass_symbols") &&
          col("pass_lines") && col("pass_alpha") && col("pass_stopwords"))
  }

  /** `__g`: one row per unigram and per `Dedup.Sep`-joined bigram of
    * a token array — the hashed-feature stream of [[dsirWeights]] and
    * [[qualityClassifier]].
    */
  private def unigramsAndBigrams(toks: Column): Column =
    explode(concat(toks, Dedup.ngrams(toks, 2, Dedup.Sep))).as("__g")

  /** X93 — DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed n-gram distribution is,
    *
    *   log w(doc) = Σ_grams [ln p_target(bucket(g)) − ln p_raw(bucket(g))]
    *
    * with unigram+bigram features hashed into `buckets` buckets and
    * add-one smoothing on both bag-of-buckets models. The published
    * recipe for "give me web data that looks like Wikipedia" at
    * pretraining scale — resampling by these weights is a downstream
    * [[weightedSample]] call.
    *
    * Cross-engine exactness: bucket assignment is the repo's one
    * md5Band hash (mod `buckets`); all counts are exact integers; each
    * bucket's log-ratio is one fixed-shape double expression and the
    * per-doc Σ adds counts·ratio in ulp-absorbable order (round 6).
    *
    * Scale shape: one scan of each row's unigrams and bigrams, one
    * bucket-count agg (output ≤ `buckets` rows — CONSTANT-bounded,
    * smaller than a vocabulary), broadcast of that tiny table back to
    * the doc-gram scan, one map-side-combinable per-doc sum. The
    * hashing is exactly why DSIR scales: model size is `buckets`, not
    * vocab.
    */
  def dsirWeights(docs: DataFrame, docCol: String, textCol: String,
      isTarget: Column, buckets: Int = 1024, salt: String = "dsir")
      : DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    val grams = docs
      .select(col(docCol), isTarget.as("__t"),
        Dedup.tokens(col(textCol)).as("__w"))
      .select(col(docCol), col("__t"), unigramsAndBigrams(col("__w")))
      .withColumn("__b", md5Band(col("__g"), salt) % buckets)
    // `grams` (gram scan + md5) feeds BOTH the bucket-count aggregate
    // and the final per-doc join. Pre-aggregate once to (doc, target,
    // bucket) multiplicities — a skinny long-only frame — and
    // checkpoint it; every downstream count is an exact integer fold
    // over __n, and the per-doc log-weight Σ lr(b)·n_b is the same
    // multiset sum the per-instance join produced.
    val g2 = grams.groupBy(col(docCol), col("__t"), col("__b"))
      .agg(count(lit(1)).as("__n"))
      .transform(Materialize.cut)
    val bucketCounts = g2.groupBy(col("__b"))
      .agg(sum(col("__n")).as("__cr"),
        sum(when(col("__t"), col("__n")).otherwise(0L)).as("__ct"))
    val totals = bucketCounts.agg(sum(col("__cr")).as("__tr"),
      sum(col("__ct")).as("__tt"))
    val ratios = bucketCounts.crossJoin(broadcast(totals))
      .withColumn("__lr",
        log((col("__ct") + 1L).cast("double") /
          (col("__tt") + buckets)) -
          log((col("__cr") + 1L).cast("double") /
            (col("__tr") + buckets)))
      .select(col("__b"), col("__lr"))
    g2.join(broadcast(ratios), Seq("__b"))
      .groupBy(col(docCol))
      .agg(sum(col("__n")).as("n_grams"),
        round(sum(col("__lr") * col("__n")), 6).as("log_weight"))
  }

  /** X131 — Population Stability Index between a BASELINE slice and
    * a CURRENT slice of a numeric column (the standard model/data
    * monitoring drift score next to X126's χ²: banded
    * Σ (p−q)·ln(p/q), with the conventional <0.1 stable / <0.25
    * moderate / else major reading): bands are the baseline's
    * equal-population quantile cuts, so PSI measures how far the
    * current distribution drifted from where the baseline put its
    * mass. Counts take add-one smoothing (an empty band would
    * otherwise 0-divide / ln(0) — the standard PSI practice), so
    * every term derives from exact integers; ln on identical doubles
    * + round(6) is the established convention.
    *
    * Scale shape: one tiny boundary agg over the baseline broadcast
    * back (the assembleBatches shape; swap percentile for
    * approx_percentile at 100 TB), one (band, side) count agg —
    * buckets-sized output — and a one-row fold.
    */
  def psi(df: DataFrame, valueCol: String, isBaseline: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val sided = df.select(col(valueCol).cast("double").as("__v"),
      isBaseline.as("__b"))
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val boundAggs = probs.zipWithIndex.map { case (p, i) =>
      percentile(col("__v"), lit(p)).as(s"__c$i")
    }
    val bounds = sided.filter(col("__b")).agg(boundAggs.head,
      boundAggs.tail: _*)
    val band = (0 until buckets - 1)
      .map(i => when(col("__v") > col(s"__c$i"), 1).otherwise(0))
      .reduce(_ + _)
    val counts = sided.crossJoin(broadcast(bounds))
      .withColumn("__band", band)
      .groupBy(col("__band"))
      .agg(sum(when(col("__b"), 1L).otherwise(0L)).as("__cb"),
        sum(when(!col("__b"), 1L).otherwise(0L)).as("__cc"))
    val tot = counts.agg(sum(col("__cb")).as("__nb"),
      sum(col("__cc")).as("__nc"))
    val withP = counts.crossJoin(broadcast(tot))
      .withColumn("__p", (col("__cb") + 1L).cast("double") /
        (col("__nb") + buckets))
      .withColumn("__q", (col("__cc") + 1L).cast("double") /
        (col("__nc") + buckets))
    withP.agg(max(col("__nb")).as("n_baseline"),
        max(col("__nc")).as("n_current"),
        sum((col("__p") - col("__q")) * log(col("__p") / col("__q")))
          .as("__psi"))
      .select(col("n_baseline"), col("n_current"),
        round(col("__psi"), 6).as("psi"),
        when(col("__psi") < 0.1, "stable")
          .when(col("__psi") < 0.25, "moderate")
          .otherwise("major").as("verdict"))
  }

  /** X128 — per-source corpus quality dashboard: the one-query
    * composition report a curation run publishes per mixture
    * component — size (docs, tokens, mean length), exact-duplicate
    * ratio (distinct content hashes / docs), the X109 classifier's
    * keep rate, and language entropy (nano-log integer form) — so
    * mixture decisions (X85/X95) read one table instead of five
    * queries. Every column is integer-derived → hash-exact.
    *
    * Scale shape: the X109 gram pass (the dominant linear cost) plus
    * one per-doc and one per-(source, lang) agg — all map-side
    * combined; the final table is \|sources\|-sized.
    */
  def qualityDashboard(docs: DataFrame, docCol: String, textCol: String,
      sourceCol: String, langCol: String, buckets: Int = 1024,
      salt: String = "qclf"): DataFrame = {
    def lnq(v: Column): Column =
      round(log(v.cast("double")) * 1e9, 0).cast("long")
    val base = docs.select(col(docCol), col(sourceCol), col(langCol),
      size(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).cast("long").as("__nt"),
      md5(col(textCol)).as("__h"))
    val keep = qualityClassifier(docs, docCol, textCol, buckets, salt)
      .select(col(docCol), col("keep"))
    val perSource = base.join(keep, Seq(docCol))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        count_distinct(col("__h")).as("__uniq"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("__kept"))
    val langCounts = base.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(sourceCol))
      .agg(sum(col("__c") * lnq(col("__c"))).as("__slc"),
        sum(col("__c")).as("__n"))
      .select(col(sourceCol),
        round(lnq(col("__n")) / 1e9 -
          col("__slc").cast("double") / (col("__n") * 1e9), 6)
          .as("lang_entropy"))
    perSource.join(langCounts, Seq(sourceCol))
      .select(col(sourceCol), col("n_docs"), col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 6)
          .as("mean_tokens"),
        round(col("__uniq").cast("double") / col("n_docs"), 6)
          .as("uniq_ratio"),
        round(col("__kept").cast("double") / col("n_docs"), 6)
          .as("keep_rate"),
        col("lang_entropy"))
  }

  /** X126 — χ² test of independence between two categorical columns
    * (Pearson 1900), the corpus-composition DRIFT alarm: if language
    * (or length band, or quality verdict) is not independent of
    * source, the mixture changed — the monitoring statistic a corpus
    * pipeline tracks between snapshots. Reports χ², degrees of
    * freedom, and Cramér's V (the [0,1] effect size that stays
    * comparable as the corpus grows).
    *
    * The sum runs over ALL r×c cells including zero-observed ones
    * (the standard definition — skipping empty cells understates
    * χ²): the full grid is the ROW-TOTALS × COL-TOTALS cross join —
    * category-cardinality-sized, never data-sized — left-joined to
    * observed counts. Integer counts → identical expected values and
    * χ² terms cross-engine; round(6) absorbs the cell-sum order.
    *
    * Scale shape: one (r, c) count agg (map-side combined), two
    * marginal aggs over it, and everything downstream lives on
    * category-sized tables.
    */
  def contingencyChi2(df: DataFrame, rowCol: String, colCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(rowCol).as("__r"), col(colCol).as("__c"))
      .agg(count(lit(1)).as("__o"))
    val rowT = cells.groupBy(col("__r")).agg(sum(col("__o")).as("__rt"))
    val colT = cells.groupBy(col("__c")).agg(sum(col("__o")).as("__ct"))
    val tot = cells.agg(sum(col("__o")).as("__n"),
      count_distinct(col("__r")).as("__nr"),
      count_distinct(col("__c")).as("__nc"))
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq("__r", "__c"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__e",
        col("__rt").cast("double") * col("__ct") / col("__n"))
    grid.agg(
        max(col("__n")).as("n"), max(col("__nr")).as("n_rows_cat"),
        max(col("__nc")).as("n_cols_cat"),
        sum((col("__o") - col("__e")) * (col("__o") - col("__e")) /
          col("__e")).as("__chi2"))
      .select(col("n"), col("n_rows_cat"), col("n_cols_cat"),
        ((col("n_rows_cat") - 1) * (col("n_cols_cat") - 1)).as("dof"),
        round(col("__chi2"), 6).as("chi2"),
        round(sqrt(col("__chi2") / (col("n") *
          least(col("n_rows_cat") - 1, col("n_cols_cat") - 1))), 6)
          .as("cramers_v"))
  }

  /** X119 — Poisson-bootstrap confidence interval for a per-row
    * statistic's mean (Chamandy et al. 2012, "Estimating Uncertainty
    * for Massive Data Streams" — THE bootstrap that works distributed:
    * each row draws an independent Poisson(1) replication weight per
    * replicate, so no replicate ever needs a global resample pass).
    * Weights come from the md5 inverse-CDF (fixed integer thresholds
    * on the 2³² band grid — deterministic, content-stable,
    * cross-engine exact like every sampler here). Output is one row:
    * the full-sample mean plus the [2.5%, 97.5%] band of the
    * replicate means.
    *
    * Scale shape: one bounded explode (rows × `replicates`) feeding a
    * map-side-combinable (replicate) agg — `replicates` rows out —
    * then a one-row percentile agg. No shuffle wider than the
    * replicate table.
    */
  def bootstrapCI(df: DataFrame, keyCol: String, valueCol: String,
      replicates: Int = 64, salt: String = "boot"): DataFrame = {
    require(replicates >= 4, s"need replicates >= 4, got $replicates")
    // P(X<=k) for Poisson(1), k=0..6, scaled to the 2^32 band grid
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L, 4294609777L)
    // values quantize to integer MICRO-units (the calibrateScores
    // convention) so fractional statistics — a quality score in
    // [0, 1], a ratio — survive exactly instead of truncating to 0:
    // all sums are exact longs, and the one double division per
    // replicate replays identically in any engine. Exactness
    // contract: |value| must fit 6 dp (values beyond ~9.2e12
    // micro-units per row would risk Long overflow in the sums).
    val spine = df.select(col(keyCol),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"),
      explode(sequence(lit(0), lit(replicates - 1))).as("__r"))
    val u = md5Band(concat(col(keyCol).cast("string"), lit(":"),
      col("__r").cast("string")), salt)
    val w = thresholds.zipWithIndex
      .foldRight(lit(thresholds.size): Column) { case ((t, k), rest) =>
        when(u < t, lit(k)).otherwise(rest)
      }.cast("long")
    val perRep = spine.withColumn("__w", w)
      .groupBy(col("__r"))
      .agg(sum(col("__w") * col("__v")).as("__sv"),
        sum(col("__w")).as("__sw"))
      .select(col("__r"),
        (col("__sv").cast("double") / col("__sw") / lit(1e6)).as("__m"))
    val full = df.agg(count(lit(1)).as("n_rows"),
      sum(round(col(valueCol) * 1e6, 0).cast("long")).as("__s"))
    full.crossJoin(perRep.agg(
        count(lit(1)).as("n_replicates"),
        percentile(col("__m"), lit(0.025)).as("__lo"),
        percentile(col("__m"), lit(0.975)).as("__hi")))
      .select(col("n_rows"), col("n_replicates"),
        round(col("__s").cast("double") / col("n_rows") / lit(1e6), 6)
          .as("point_mean"),
        round(col("__lo"), 6).as("ci_lo"), round(col("__hi"), 6).as("ci_hi"))
  }

  /** X313 — Poisson-bootstrap CI for a DIFFERENCE of group means:
    * the same md5 inverse-CDF Poisson(1) weights as [[bootstrapCI]]
    * (derived per (key, replicate) — never stored, replayable in any
    * engine), but each replicate reports mean_A − mean_B — the
    * uncertainty band to print BESIDE X289's point effect size and
    * X149's t (the t assumes near-normal sampling; the bootstrap
    * band doesn't). Exact long weight·value sums per (replicate,
    * side); one double division each; percentile band over the
    * replicate diffs. Replicates with an empty side yield NULL and
    * drop from the band (both engines' percentile skips NULLs).
    */
  def diffBootstrapCI(df: DataFrame, keyCol: String, valueCol: String,
      isA: Column, replicates: Int = 64, salt: String = "dboot")
      : DataFrame = {
    require(replicates >= 4, s"need replicates >= 4, got $replicates")
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L, 4294609777L)
    val spine = df.select(col(keyCol).as("__k"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"),
      isA.as("__a"),
      explode(sequence(lit(0), lit(replicates - 1))).as("__r"))
    val u = md5Band(concat(col("__k").cast("string"), lit(":"),
      col("__r").cast("string")), salt)
    val w = thresholds.zipWithIndex
      .foldRight(lit(thresholds.size): Column) { case ((t, i), rest) =>
        when(u < t, lit(i)).otherwise(rest)
      }.cast("long")
    val perRep = spine.withColumn("__w", w)
      .groupBy(col("__r"))
      .agg(sum(when(col("__a"), col("__w") * col("__v"))).as("__sva"),
        sum(when(col("__a"), col("__w"))).as("__swa"),
        sum(when(!col("__a"), col("__w") * col("__v"))).as("__svb"),
        sum(when(!col("__a"), col("__w"))).as("__swb"))
      .select(col("__r"),
        (when(col("__swa") > 0L,
          col("__sva").cast("double") / col("__swa") / lit(1e6)) -
          when(col("__swb") > 0L,
            col("__svb").cast("double") / col("__swb") / lit(1e6)))
          .as("__d"))
    val full = df.agg(
      sum(when(isA, 1L).otherwise(0L)).cast("long").as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).cast("long").as("n_b"),
      sum(when(isA, round(col(valueCol) * 1e6, 0).cast("long")))
        .as("__sa"),
      sum(when(!isA, round(col(valueCol) * 1e6, 0).cast("long")))
        .as("__sb"))
    full.crossJoin(perRep.agg(
        count(col("__d")).cast("long").as("n_replicates"),
        percentile(col("__d"), lit(0.025)).as("__lo"),
        percentile(col("__d"), lit(0.975)).as("__hi")))
      .select(col("n_a"), col("n_b"), col("n_replicates"),
        round(col("__sa").cast("double") / col("n_a") / lit(1e6) -
          col("__sb").cast("double") / col("n_b") / lit(1e6), 6)
          .as("point_diff"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"))
  }

  /** X113 — contrastive span-pair prep (the DeCLUTR recipe, Giorgi
    * et al. 2021): two overlapping-or-adjacent token crops of the
    * same document form a positive pair for contrastive pretraining
    * (in-batch negatives come free at training time). Crop length is
    * `ceil(n·cropFraction)`; the two start offsets are independent
    * md5 draws over the slack `n − L + 1` — content-stable like every
    * sampler here (RNG-free: the same doc yields the same pair in any
    * run, batch, or engine), which also makes resumed jobs and
    * train/eval reproductions exact. `overlap_tokens` (interval
    * intersection) is reported because the contrastive signal
    * weakens as views converge — trainers bucket or reweight by it.
    * Docs under `minTokens` are dropped (no meaningful second view).
    *
    * Scale shape: pure scan — tokens, draws, slices, and the overlap
    * are per-row column math; zero shuffles, embarrassingly parallel.
    */
  def contrastivePairs(docs: DataFrame, docCol: String, textCol: String,
      cropFraction: Double = 0.6, minTokens: Int = 4,
      salt: String = "contrast"): DataFrame = {
    require(cropFraction > 0 && cropFraction <= 1,
      s"need 0 < cropFraction <= 1, got $cropFraction")
    def start(side: String): Column =
      (md5Band(concat(col(docCol).cast("string"), lit(side)), salt)
        % (col("n_tokens") - col("__l") + 1L)).cast("int")
    docs.select(col(docCol), Dedup.tokens(col(textCol)).as("__w"))
      .withColumn("n_tokens", size(col("__w")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("__l", ceil(col("n_tokens") * cropFraction).cast("int"))
      .withColumn("__sa", start("a")).withColumn("__sb", start("b"))
      .select(col(docCol), col("n_tokens"),
        col("__sa").cast("long").as("start_a"),
        col("__sb").cast("long").as("start_b"),
        col("__l").cast("long").as("crop_len"),
        concat_ws(" ", slice(col("__w"), col("__sa") + 1, col("__l")))
          .as("view_a"),
        concat_ws(" ", slice(col("__w"), col("__sb") + 1, col("__l")))
          .as("view_b"),
        greatest(lit(0L),
          least(col("__sa") + col("__l"), col("__sb") + col("__l"))
            .cast("long") -
            greatest(col("__sa"), col("__sb")).cast("long"))
          .as("overlap_tokens"))
  }

  /** X111 — content-defined chunking (the FastCDC/LBFS family,
    * Muthitacharoen et al. 2001): cut each document where a rolling
    * hash of the trailing `window` characters hits `h % mask == 0`,
    * so chunk boundaries are CONTENT-anchored — an insertion early in
    * a document shifts byte offsets but re-synchronizes at the next
    * content boundary, which is why storage/transfer dedup uses CDC
    * instead of fixed-size blocks. Output is the chunk table
    * (doc, idx, start, len, md5) plus each chunk's corpus-wide copy
    * count — the dedup-ratio primitive.
    *
    * The hash is the plain polynomial Σ code(c_{p−j})·31^j mod 2³¹
    * over the trailing window — pure integer math (integer sums
    * commute, so no fold-order concerns), identical in both engines.
    * Codes are UTF-16 units (`charAt`), which equal codepoints on the
    * BMP; a corpus with astral-plane chars would need a codepoint
    * walk to keep the DuckDB `unicode()` twin exact. Docs shorter
    * than `window` form one whole-doc chunk; empty docs emit no rows.
    *
    * Scale shape: boundary detection and segment assembly are
    * per-document column math inside the scan (no explode of the
    * character stream — positions live in per-doc arrays, segments
    * substring the original text); the only shuffle is the skinny
    * (hash → copies) window. Linear in corpus bytes, embarrassingly
    * parallel.
    */
  def cdcChunks(docs: DataFrame, docCol: String, textCol: String,
      window: Int = 8, mask: Int = 64): DataFrame = {
    require(window >= 2 && mask >= 2, s"bad window=$window mask=$mask")
    val P = Array.iterate(1L, window)(_ * 31L)
    val M = 2147483648L
    // Boundary detection is one sequential rolling scan per document —
    // a JIT-compiled loop in a UDF (the Bpe.encodeDocs precedent):
    // the per-position hash needs the trailing `window` codepoints,
    // and every declarative spelling (a transform() over positions, or
    // an exploded char stream + 8 lag windows) either pays the
    // interpreted-HOF per-element tax or shuffles the whole character
    // stream by doc. The loop is exact integer math identical to the
    // oracle's and measured ~3× faster than the HOF form.
    val w = window; val m = mask
    val cuts = udf { text: String =>
      val n = if (text == null) 0 else text.length
      val out = mutable.ArrayBuffer(0)
      if (n >= w) {
        var p = w - 1 // 0-based index of the window's newest char
        while (p < n - 1) {
          var h = 0L; var j = 0
          while (j < w) { h += text.charAt(p - j).toLong * P(j); j += 1 }
          if (h % M % m == 0) out += p + 1
          p += 1
        }
      }
      if (n > 0) out += n
      out.toArray
    }
    val prepared = docs
      .select(col(docCol), col(textCol).as("__t"))
      .withColumn("__cuts", cuts(col("__t")))
      .filter(size(col("__cuts")) >= 2)
    prepared
      .select(col(docCol), col("__t"),
        posexplode(transform(sequence(lit(1), size(col("__cuts")) - 1),
          i => struct(element_at(col("__cuts"), i).as("s"),
            (element_at(col("__cuts"), i + 1) -
              element_at(col("__cuts"), i)).as("l")))))
      .select(col(docCol), col("pos").cast("long").as("chunk_idx"),
        col("col.s").cast("long").as("start_pos"),
        col("col.l").cast("long").as("chunk_len"),
        md5(col("__t").substr(col("col.s") + 1, col("col.l")))
          .as("chunk_hash"))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy(col("chunk_hash"))))
  }

  /** X109 — hashed linear quality classifier (the fastText-style
    * filter inference of the LLaMA/CCNet recipe — Joulin et al. 2017
    * model shape): score = mean over the doc's hashed unigram+bigram
    * features of a per-bucket weight, keep = sign. Weights here are
    * the md5-derived fixed vector `w_b = band(b) − 2³¹` (a stand-in
    * for trained weights — the INFERENCE plumbing is the operator;
    * swap the weight expression for a broadcast trained table in
    * production), so the whole scorer is integer arithmetic until the
    * final reported ratio and is bit-identical cross-engine. The
    * probability form is monotone in `score` (sigmoid), so keep/rank
    * decisions need no float.
    *
    * Scale shape: no weight-table or vocabulary join — the weight is
    * a pure function of the bucket, evaluated inline in the gram scan
    * (codegen md5), so scoring is one scan of each row's unigrams and
    * bigrams → one map-side-combinable per-doc agg; the only join is
    * the skinny per-doc score reattach (empty docs). Model size is
    * `buckets`, independent of vocabulary; nothing driver-side at all.
    */
  def qualityClassifier(docs: DataFrame, docCol: String, textCol: String,
      buckets: Int = 1024, salt: String = "qclf"): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    val grams = docs
      .select(col(docCol), Dedup.tokens(col(textCol)).as("__w"))
      .select(col(docCol), unigramsAndBigrams(col("__w")))
    val wq = md5Band((md5Band(col("__g"), salt) % buckets).cast("string"),
      s"${salt}w") - 2147483648L
    val scored = grams
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_grams"), sum(wq).as("__sq"))
    docs.select(col(docCol))
      .join(scored, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(col("__sq").cast("double") /
          (col("n_grams") * 2147483648.0d), 6).as("score"),
        coalesce(col("__sq") >= 0L, lit(false)).as("keep"))
  }

  /** X115 — per-group score calibration: z-score and percentile of a
    * quality score WITHIN its group (source / language), the
    * calibration step before any global keep-threshold — raw scores
    * are not comparable across sources (CCNet thresholds perplexity
    * per language for exactly this reason), so the gate runs on the
    * calibrated values. Rows with a null score are dropped (they
    * carry no rank; callers route them to the suppression path).
    *
    * Exactness: scores quantize to integer micro-units before the
    * group Σ/Σ² (identical doubles round identically), so mean/var/z
    * are bit-exact in any accumulation order; the percentile is
    * rank-based ((r−1)/(n−1), ties by key) — pure integers.
    *
    * Scale shape: one skinny per-group moment agg broadcast back
    * (groups ≪ rows), one per-group rank window — the window
    * partitions by group; a group hot enough to bottleneck one task
    * gets the same mitigation as every per-key window here.
    */
  def calibrateScores(scored: DataFrame, groupCol: String, keyCol: String,
      scoreCol: String): DataFrame = {
    val q = round(col(scoreCol) * 1e6, 0).cast("long")
    val base = scored.filter(col(scoreCol).isNotNull)
      .select(col(keyCol), col(groupCol), col(scoreCol), q.as("__q"))
    val moments = base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s1"),
        sum(col("__q") * col("__q")).as("__s2"))
    val n = col("__n").cast("double")
    val s1 = col("__s1").cast("double")
    val varNum = col("__s2").cast("double") - s1 * s1 / n
    val z = (col("__q") - s1 / n) / sqrt(varNum / n)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__q"), col(keyCol))
    base.join(broadcast(moments), Seq(groupCol))
      .withColumn("__r", row_number().over(w))
      .select(col(keyCol), col(groupCol), col(scoreCol),
        when(col("__n") >= 2 && varNum > 0, round(z, 6)).as("z_in_group"),
        round(when(col("__n") > 1,
          (col("__r") - 1).cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)), 6).as("pct_in_group"))
  }

  /** X94 — pairwise source-overlap matrix: exact Jaccard similarity
    * of the distinct k-word shingle sets of every source pair — the
    * corpus-composition diagnostic run before mixing (two "different"
    * web crawls sharing half their shingles double-count against the
    * token budget; X33 decontaminates against a benchmark, this
    * measures bulk overlap between corpus components).
    *
    * Scale shape: one distinct-(source, shingle) agg (map-side
    * combined), then per-shingle source SETS (≤ \|sources\|, a
    * constant) pair-exploded in the scan — the candidate work is
    * Σ_g \|sources(g)\|², never doc×doc or source-table×source-table;
    * sizes join back on the tiny \|sources\|² pair table. The same
    * witness-style trick as Self-BLEU's top-2: nothing big ever
    * self-joins.
    */
  def sourceOverlap(docs: DataFrame, sourceCol: String, textCol: String,
      k: Int): DataFrame = {
    // shingles come from the row-local `token_ngrams` kernel
    // (Dedup.shingleRun), carrying source alongside.
    // distinct() FIRST, deliberately: the codegen'd hash-distinct
    // shrinks the raw gram stream before anything touches the
    // object-hash collect_set agg (measured: folding the dedup into
    // collect_set itself is ~1.4× slower at sf1 — partial set state
    // over the full stream costs more than the extra exchange saves)
    val grams = docs
      .select(col(sourceCol).as("__s"),
        explode(array_distinct(Dedup.shingleRun(col(textCol), k)))
          .as("__g"))
      .distinct()
    val sizes = grams.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    // per-shingle sorted source set → all (a < b) pairs, in the scan
    val pairs = grams.groupBy(col("__g"))
      .agg(sort_array(collect_set(col("__s"))).as("__ss"))
      .filter(size(col("__ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(__ss, (a, i) ->
             transform(slice(__ss, i + 2, size(__ss)), b -> struct(a, b))))"""
      )).as("__p"))
      .groupBy(col("__p.a").as("source_a"), col("__p.b").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    val sa = sizes.select(col("__s").as("source_a"), col("__n").as("n_a"))
    val sb = sizes.select(col("__s").as("source_b"), col("__n").as("n_b"))
    sa.crossJoin(sb).filter(col("source_a") < col("source_b"))
      .join(pairs, Seq("source_a", "source_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard"))
  }

  /** X95 — UniMax budget allocation (Chung et al. 2023): distribute a
    * token budget across sources as uniformly as possible subject to
    * a per-source epoch cap — the principled fix for temperature
    * mixing's "high temperature epochs tiny languages to death"
    * failure. Classic waterfilling: sources fill to a common level L,
    * capped at capacity c_s = n_s·maxEpochs; L solves
    * Σ min(c_s, L) = budget (all capped when the budget exceeds total
    * capacity).
    *
    * `budgetFraction` expresses the budget as a fraction of total
    * corpus tokens so the operator stays collect-free at any scale
    * (an absolute budget is fraction = budget / Σ n_s).
    *
    * Cross-engine exactness: capacities and prefix sums are exact
    * (integer tokens × one double multiply of fixed shape); the
    * waterline is picked by FIRST sorted row whose tentative level
    * fits under its capacity (min_by on the rank — deterministic sort
    * on (capacity, source)); outputs round to 6.
    *
    * Scale shape: everything after the one token-count agg operates
    * on the \|sources\|-row table — the window sort is over sources
    * (bounded metadata), never over documents.
    */
  def unimaxAllocation(docs: DataFrame, sourceCol: String,
      tokenCountCol: String, budgetFraction: Double,
      maxEpochs: Double): DataFrame = {
    require(budgetFraction > 0, s"need budgetFraction > 0")
    require(maxEpochs > 0, s"need maxEpochs > 0")
    val sizes = docs.groupBy(col(sourceCol))
      .agg(sum(col(tokenCountCol)).as("n_tokens"))
      .withColumn("capacity", col("n_tokens").cast("double") * maxEpochs)
    val w = Window.orderBy(col("capacity"), col(sourceCol))
    val ranked = sizes
      .withColumn("__i", row_number().over(w))
      .withColumn("__k", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("__tot", sum(col("n_tokens")).over(
        Window.partitionBy(lit(1))))
      .withColumn("__pre", coalesce(sum(col("capacity")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("__tent",
        (col("__tot").cast("double") * budgetFraction - col("__pre")) /
          (col("__k") - col("__i") + 1).cast("double"))
    val level = ranked.filter(col("__tent") <= col("capacity"))
      .agg(min_by(col("__tent"), col("__i")).as("__level"))
    ranked.crossJoin(broadcast(level))
      .withColumn("allocation",
        when(col("__level").isNull, col("capacity"))
          .otherwise(least(col("capacity"), col("__level"))))
      .select(col(sourceCol), col("n_tokens"),
        round(col("capacity"), 6).as("capacity"),
        round(col("allocation"), 6).as("allocation"),
        round(col("allocation") / col("n_tokens").cast("double"), 6)
          .as("epochs"))
  }

  /** X99 — T5-style span corruption (Raffel et al. 2020 §3.1.4) with
    * DETERMINISTIC span placement: the denoising-objective prep step
    * that turns a document into an (input with sentinel gaps, target
    * of masked spans) pair. The token stream splits into fixed blocks
    * of `blockSize`; block b of doc d masks the `spanLen` tokens
    * starting at offset md5(salt‖d‖b) mod (blockSize−spanLen+1) —
    * giving exactly T5's noise density spanLen/blockSize and mean
    * span length with the repo's reproducible-everywhere hashing
    * instead of an RNG (content-stable, cross-engine, resumable — the
    * property every sampler here shares). Masked span k reads
    * `<extra_id_k>` in the input; the target lists each sentinel with
    * its span and closes with the final sentinel, the T5 convention.
    *
    * Defaults give T5's published 15% density / mean span 3.
    *
    * Output: (docCol, n_tokens, n_corrupted, input_text, target_text).
    *
    * Scale shape: one per-doc token window for the block/offset math
    * (all scan-stage Column arithmetic), a skinny per-(doc, block)
    * rank for sentinel numbering, one per-doc reassembly agg — linear
    * in tokens, nothing quadratic, no RNG state.
    */
  def spanCorruption(docs: DataFrame, docCol: String, textCol: String,
      blockSize: Int = 20, spanLen: Int = 3, salt: String = "span")
      : DataFrame = {
    require(spanLen >= 1, s"need spanLen >= 1, got $spanLen")
    require(blockSize > spanLen,
      s"need blockSize > spanLen, got $blockSize <= $spanLen")
    val nOff = blockSize - spanLen + 1
    val toks = docs.select(col(docCol),
      posexplode(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).as(Seq("__pos", "__t")))
      .withColumn("__blk", expr(s"__pos div $blockSize"))
      .withColumn("__off",
        md5Band(concat(col(docCol).cast("string"), lit("#"),
          col("__blk")), salt) % nOff)
      .withColumn("__corr",
        col("__pos") % blockSize >= col("__off") &&
          col("__pos") % blockSize < col("__off") + spanLen)
    val bw = Window.partitionBy(col(docCol), col("__blk"))
    val marked = toks.withColumn("__fc",
      min(when(col("__corr"), col("__pos"))).over(bw))
    val kw = Window.partitionBy(col(docCol)).orderBy(col("__blk"))
    val ks = marked.filter(col("__corr"))
      .select(col(docCol), col("__blk")).distinct()
      .withColumn("__k", row_number().over(kw) - 1)
    val joined = marked.join(ks, Seq(docCol, "__blk"), "left")
    def sentinel(k: Column) = concat(lit("<extra_id_"), k, lit(">"))
    def reassemble(tok: Column) = array_join(
      transform(array_sort(collect_list(struct(col("__pos"),
        tok.as("o")))), x => x.getField("o")), " ")
    val agg = joined.groupBy(col(docCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__corr"), 1L).otherwise(0L)).as("n_corrupted"),
        (max(col("__k")) + 1).as("__nspans"),
        reassemble(
          when(!col("__corr"), col("__t"))
            .when(col("__pos") === col("__fc"), sentinel(col("__k")))
            .otherwise(lit(null))).as("input_text"),
        reassemble(
          when(col("__corr") && col("__pos") === col("__fc"),
            concat(sentinel(col("__k")), lit(" "), col("__t")))
            .when(col("__corr"), col("__t"))
            .otherwise(lit(null))).as("__tgt"))
    docs.select(col(docCol)).distinct()
      .join(agg, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_corrupted"), lit(0L)).as("n_corrupted"),
        coalesce(col("input_text"), lit("")).as("input_text"),
        when(col("__nspans").isNull, lit(""))
          .otherwise(concat(col("__tgt"), lit(" "),
            sentinel(col("__nspans")))).as("target_text"))
  }

  /** X103 — BERT-style whole-word masking (Devlin et al. 2019 §3.1)
    * with DETERMINISTIC choices: the MLM-objective prep companion to
    * [[spanCorruption]]'s T5 form. Each token position draws three
    * independent 32-bit values from ONE md5 digest of
    * (salt ‖ doc ‖ pos ‖ word): select the position iff
    * h1 mod 100 < maskPercent (BERT's 15%), then act by h2 mod 10 —
    * 0-7 replace with `[MASK]`, 8 replace with a corpus word, 9 keep
    * the original (the published 80/10/10 split). No RNG: the same
    * content masks the same way on any engine, any cluster, any rerun
    * — the property every sampler in this repo shares.
    *
    * The "random" replacement word never touches a vocabulary-sized
    * index: the corpus vocabulary folds into `vocabBuckets` constant
    * buckets (md5 of the word), each represented by its
    * digest-minimal member, and h3 picks a bucket. An empty bucket
    * (tiny vocab) falls back to keeping the original word —
    * deterministic and documented.
    *
    * Output: (docCol, n_tokens, n_masked, masked_text, targets) where
    * `targets` lists `pos:original` for each selected position in
    * order — the label stream an MLM trainer consumes.
    *
    * Scale shape: one scan-stage pass for the per-token hash math, a
    * vocabulary agg folded to `vocabBuckets` rows broadcast back, one
    * per-doc reassembly agg. Linear in tokens; driver state is nil.
    */
  def mlmMask(docs: DataFrame, docCol: String, textCol: String,
      maskPercent: Int = 15, vocabBuckets: Int = 64,
      salt: String = "mlm"): DataFrame = {
    require(maskPercent >= 1 && maskPercent <= 100,
      s"maskPercent=$maskPercent out of [1,100]")
    require(vocabBuckets >= 1, s"vocabBuckets=$vocabBuckets must be >= 1")
    val toks = docs.select(col(docCol),
      posexplode(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).as(Seq("__pos", "__t")))
      .withColumn("__dig", md5(concat(lit(s"$salt:"),
        col(docCol).cast("string"), lit("#"), col("__pos"), lit("#"),
        col("__t"))))
      .withColumn("__h1",
        conv(substring(col("__dig"), 1, 8), 16, 10).cast("long"))
      .withColumn("__h2",
        conv(substring(col("__dig"), 9, 8), 16, 10).cast("long"))
      .withColumn("__h3",
        conv(substring(col("__dig"), 17, 8), 16, 10).cast("long"))
      .withColumn("__sel", col("__h1") % 100 < maskPercent)
      .withColumn("__act", col("__h2") % 10)
    // vocabulary folded to constant buckets; representative = the
    // digest-minimal word, recovered from the min over digest‖word
    val reps = toks.select(col("__t").as("__w")).distinct()
      .withColumn("__vdig", md5(concat(lit(s"$salt-v:"), col("__w"))))
      .groupBy((conv(substring(col("__vdig"), 1, 8), 16, 10).cast("long")
        % vocabBuckets).as("__bkt"))
      .agg(substring(min(concat(col("__vdig"), lit(":"), col("__w"))),
        34, 1000000).as("__rep"))
    val joined = toks.join(broadcast(reps),
      toks("__h3") % vocabBuckets === reps("__bkt"), "left")
    def reassemble(tok: Column) = array_join(
      transform(array_sort(collect_list(struct(col("__pos"),
        tok.as("o")))), x => x.getField("o")), " ")
    val agg = joined.groupBy(col(docCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__sel"), 1L).otherwise(0L)).as("n_masked"),
        reassemble(
          when(!col("__sel"), col("__t"))
            .when(col("__act") < 8, lit("[MASK]"))
            .when(col("__act") === 8, coalesce(col("__rep"), col("__t")))
            .otherwise(col("__t"))).as("masked_text"),
        reassemble(
          when(col("__sel"),
            concat(col("__pos"), lit(":"), col("__t")))
            .otherwise(lit(null))).as("targets"))
    docs.select(col(docCol)).distinct()
      .join(agg, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("masked_text"), lit("")).as("masked_text"),
        coalesce(col("targets"), lit("")).as("targets"))
  }

  /** X105 — reproducible release manifest (the Dolma/RedPajama data
    * card's integrity table): token-budget shard assignment via
    * [[tokenShards]] plus, per (partition, shard), the counts and an
    * ORDER-INDEPENDENT content checksum any consumer can re-derive
    * with one SQL query — sum over member docs of the top-32-bits of
    * md5(text). 32-bit summands keep 2⁶³ headroom to ~10⁹ docs per
    * shard; commutative integer addition makes the checksum
    * partitioning- and engine-agnostic, the repo determinism
    * contract.
    *
    * Output: (partitionCol, shard_id, n_docs, n_tokens, first_id,
    * last_id, checksum), one row per shard.
    *
    * Scale shape: the [[tokenShards]] two-phase prefix sum plus one
    * skinny agg to manifest rows (shard-count-sized output); document
    * text is read once in the scan for (count, md5) and never
    * shuffled.
    */
  def exportManifest(docs: DataFrame, partitionCol: String,
      idCol: String, textCol: String, shardBudget: Long): DataFrame = {
    val counted = docs.select(col(partitionCol), col(idCol),
      size(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).cast("long").as("__nt"),
      conv(substring(md5(col(textCol)), 1, 8), 16, 10).cast("long")
        .as("__h"))
    tokenShards(counted, partitionCol, idCol, "__nt", shardBudget)
      .groupBy(col(partitionCol), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        min(col(idCol)).as("first_id"),
        max(col(idCol)).as("last_id"),
        sum(col("__h")).as("checksum"))
  }

  /** [[exportManifest]] for a SINGLE constant partition value — the
    * release-DAG shape (r16, window inventory): when `partitionCol`
    * is a literal, [[tokenShards]]' per-partition running sum
    * optimizes to a Window with an EMPTY partition spec, and Spark
    * moves every packed sequence through ONE task ("No Partition
    * Defined for Window operation" — a single-executor serializer at
    * 100 TB). The identical tokens_before comes from the [[cumSums]]
    * two-phase distributed prefix sum instead (`idCol` is unique, so
    * range partitioning has no intra-tie ambiguity; exclusive prefix
    * = inclusive cum − own count, exact longs). Shard assignment,
    * aggregation and every output value are unchanged.
    */
  def exportManifestConst(docs: DataFrame, partitionName: String,
      partitionValue: String, idCol: String, textCol: String,
      shardBudget: Long): DataFrame = {
    val counted = docs.select(col(idCol),
      size(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).cast("long").as("__nt"),
      conv(substring(md5(col(textCol)), 1, 8), 16, 10).cast("long")
        .as("__h"))
    cumSums(counted, Seq(col(idCol)), Seq("__nt"))
      .withColumn("tokens_before", col("__cum__nt") - col("__nt"))
      .withColumn("shard_id", expr(s"tokens_before div $shardBudget"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        min(col(idCol)).as("first_id"),
        max(col(idCol)).as("last_id"),
        sum(col("__h")).as("checksum"))
      .select(lit(partitionValue).as(partitionName), col("shard_id"),
        col("n_docs"), col("n_tokens"), col("first_id"), col("last_id"),
        col("checksum"))
  }


  /** X136 — CCNet-style line-level boilerplate removal (Wenzek et
    * al. 2019): a line whose NORMALIZED form (lowercase, trimmed,
    * digits stripped — so "© 2021 Acme" and "© 2024 Acme" collide)
    * appears in at least `minDocs` distinct documents is boilerplate
    * (nav bars, cookie banners, license footers) and is cut from
    * every document; blank lines are structural and always kept.
    * Line-LEVEL dedup is the web-corpus complement to the span/slot
    * family ([[Contamination.removeDuplicateSpans]]): spans catch
    * copied prose at any offset, lines catch template furniture that
    * repeats verbatim across a site.
    *
    * Input: `linesCol` is the document's ordered `array<string>` of
    * lines (split upstream — newline docs via `split(text, "\n")`,
    * or any segmenter). Output per doc: (n_lines, n_kept,
    * removed_ratio, clean_md5 of the surviving lines joined by \n).
    *
    * Scale shape: one posexplode -> distinct (key, doc) -> map-side
    * combined key count; the boilerplate key table (keys in >=
    * minDocs docs) is far smaller than the corpus and joins back by
    * equi-key; reassembly is one per-doc sorted-struct fold. Nothing
    * wider than the line table moves.
    */
  def lineDedup(docs: DataFrame, docCol: String, linesCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    val lines = docs.select(col(docCol),
      posexplode_outer(col(linesCol)).as(Seq("__pos", "__line")))
    val keyed = lines.withColumn("__k",
      md5(regexp_replace(lower(trim(col("__line"))), "[0-9]", "")))
    val boiler = keyed
      .filter(trim(col("__line")) =!= "")
      .select(col(docCol), col("__k")).distinct()
      .groupBy(col("__k")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__k"), lit(1).as("__b"))
    val marked = keyed.join(boiler, Seq("__k"), "left")
      .withColumn("__keep",
        col("__line").isNotNull &&
          (col("__b").isNull || trim(col("__line")) === ""))
    marked.groupBy(col(docCol)).agg(
        count(col("__line")).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(
          when(col("__keep"), struct(col("__pos"), col("__line"))))),
          s => s("__line")), "\n")).as("clean_md5"))
      .select(col(docCol), col("n_lines"), col("n_kept"),
        round(when(col("n_lines") === 0, 0.0)
          .otherwise((col("n_lines") - col("n_kept")).cast("double") /
            col("n_lines")), 6).as("removed_ratio"),
        col("clean_md5"))
  }

  /** X137 — fill-in-the-middle transform (Bavarian et al. 2022, the
    * OpenAI FIM recipe): with probability `fimRate` a document's
    * token stream is cut at two md5-drawn positions into
    * (prefix, middle, suffix) and re-emitted in PSM order —
    * <PRE> prefix <SUF> suffix <MID> middle — teaching an
    * autoregressive model to infill. Content-stable like every
    * sampler here: the apply decision AND both cut points are md5
    * draws keyed by doc id, so the same corpus yields the same
    * transformed stream in any run or engine (and the oracle replays
    * it verbatim).
    *
    * Output: (doc, n_tokens, fim_applied, cut_lo, cut_hi, out_md5)
    * where out_md5 hashes the emitted token stream (sentinels
    * included when applied, the untouched stream otherwise).
    *
    * Scale shape: pure per-row array arithmetic over the scan — no
    * shuffle, no UDF, whole-stage codegen.
    */
  def fimTransform(docs: DataFrame, docCol: String, textCol: String,
      fimRate: Double = 0.9, salt: String = "fim"): DataFrame = {
    require(fimRate >= 0.0 && fimRate <= 1.0, s"bad fimRate $fimRate")
    val w = coalesce(Dedup.tokens(col(textCol)),
      array().cast("array<string>"))
    val key = col(docCol).cast("string")
    val n = size(w).cast("long")
    val applied = md5Band(key, salt) < bandThreshold(fimRate) && n > 0
    val d1 = pmod(md5Band(key, salt + ":1"), n + 1)
    val d2 = pmod(md5Band(key, salt + ":2"), n + 1)
    val lo = least(d1, d2)
    val hi = greatest(d1, d2)
    val pre = slice(w, lit(1), lo.cast("int"))
    val mid = slice(w, (lo + 1).cast("int"), (hi - lo).cast("int"))
    val suf = slice(w, (hi + 1).cast("int"), (n - hi).cast("int"))
    val psm = concat(array(lit("<PRE>")), pre, array(lit("<SUF>")), suf,
      array(lit("<MID>")), mid)
    docs.select(col(docCol), n.as("n_tokens"),
      applied.as("fim_applied"),
      when(applied, lo).otherwise(lit(null)).as("cut_lo"),
      when(applied, hi).otherwise(lit(null)).as("cut_hi"),
      md5(array_join(when(applied, psm).otherwise(w), " ")).as("out_md5"))
  }

  /** X141 — temporal embargo split (the backtest-hygiene partition
    * every time-series trainer needs): train takes events strictly
    * before the `trainFrac` time quantile t0, an `embargoMicros` gap
    * after t0 is DISCARDED (it leaks label horizon into features —
    * the de Prado "purged" split), and test takes everything at or
    * after t0+gap. Complements [[leakProofSplit]] (X69), which
    * partitions by GROUP; this partitions by TIME.
    *
    * Output: one row per split (train/embargo/test) with event and
    * distinct-key counts and the time range actually covered.
    *
    * Scale shape: ONE tiny percentile agg broadcast to the scan
    * (swap percentile for approx_percentile at 100 TB — the
    * established exact/sketch twin), then a map-side-combined
    * three-way classify agg. Nothing shuffles but the 3-row result.
    */
  def temporalSplit(events: DataFrame, keyCol: String, tsCol: String,
      trainFrac: Double = 0.8, embargoMicros: Long = 86400000000L)
      : DataFrame = {
    require(trainFrac > 0.0 && trainFrac < 1.0, s"bad trainFrac $trainFrac")
    require(embargoMicros >= 0L, s"bad embargo $embargoMicros")
    val us = unix_micros(col(tsCol))
    val t0 = events.agg(
      floor(percentile(unix_micros(col(tsCol)), lit(trainFrac)))
        .cast("long").as("__t0"))
    val split = when(us < col("__t0"), "train")
      .when(us < col("__t0") + lit(embargoMicros), "embargo")
      .otherwise("test")
    events.crossJoin(broadcast(t0))
      .withColumn("split", split)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col(keyCol)).as("n_keys"),
        min(col(tsCol)).as("min_ts"), max(col(tsCol)).as("max_ts"))
  }


  /** X142 — blocklist phrase filter (the C4/"badwords" gate every web
    * pipeline runs before training): counts every occurrence of every
    * blocklist phrase (1..3 tokens, matched on the normalized token
    * stream) per document and keeps docs whose match density stays
    * under `maxRatio`. Counts ALL occurrences (overlaps included) —
    * the density semantics the published filters use; a
    * leftmost-longest automaton changes keep/flag decisions only at
    * pathological overlap densities far past any threshold.
    *
    * Scale shape: phrases ship as plan LITERALS — per doc the n-gram
    * membership test is a pure array expression in the scan (no join,
    * no shuffle, whole-stage codegen); one output row per doc. The
    * grams are matched as 64-bit chained-XXH64 hashes (the
    * `shingle_hash64_all` occurrence-preserving kernel — one pass
    * over the raw token bytes, zero joined-string allocation; the r10
    * `array_join`+string-`isin` shape was the board's #1 bench cost
    * on allocation alone), with the phrase side hashed to matching
    * long literals on the driver. 64-bit hash equality vs a
    * dozens-sized literal set makes a spurious count a ~n·|P|/2⁶⁴
    * event — vanishing at any corpus size.
    */
  def blocklistFilter(docs: DataFrame, docCol: String, textCol: String,
      phrases: Seq[String], maxRatio: Double = 0.1): DataFrame = {
    val parsed = phrases.map(_.trim.toLowerCase.split("\\s+").toSeq)
      .filter(_.nonEmpty)
    require(parsed.nonEmpty, "empty blocklist")
    require(parsed.forall(_.length <= 8), "phrases longer than 8 tokens")
    val w = coalesce(Dedup.tokens(col(textCol)),
      array().cast("array<string>"))
    val byLen = parsed.groupBy(_.length)
    val matchCounts = byLen.toSeq.sortBy(_._1).map { case (n, ps) =>
      val lits = ps.map(p => graft.plans.GramMath.hashTokens(p)).distinct
      val grams = call_function("shingle_hash64_all", w, lit(n))
      size(filter(grams, g => g.isin(lits.map(lit): _*))).cast("long")
    }
    val total = matchCounts.reduce(_ + _)
    docs.select(col(docCol), size(w).cast("long").as("n_tokens"),
        total.as("n_matches"))
      .select(col(docCol), col("n_tokens"), col("n_matches"),
        round(when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_matches").cast("double") / col("n_tokens")),
          6).as("match_ratio"),
        (when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_matches").cast("double") / col("n_tokens"))
          <= maxRatio).as("keep"))
  }


  /** X146 — readability metrics (Flesch Reading Ease + Flesch-Kincaid
    * grade, the corpus-QA staples): sentences from punctuation runs
    * ([.!?]+, floor 1), syllables from vowel-group runs per word
    * ([aeiouy]+, floor 1/word — the standard closed-vocabulary
    * heuristic). All three inputs are exact integers, the two scores
    * one fixed-shape double formula each — hash-exact at 6 dp.
    *
    * Scale shape: pure per-row expression over the scan — no shuffle,
    * no UDF. r16: the former per-token fold (ArrayAggregate over
    * ArrayFilter'd split tokens, a regexp_count per token) is a
    * CodegenFallback chain that dropped the whole projection out of
    * whole-stage codegen; three whole-text regexp_counts compute the
    * identical integers and stay in codegen. Identities over maximal
    * non-\s runs (= Dedup.tokens' tokens):
    *   n_words = #tokens = count of \S+ runs;
    *   Σ_tokens max(1, vowelGroups(t)) = vowelGroups(lower(text))
    *     + #vowelless tokens — a vowel group never spans whitespace,
    *     and max(1,·) adds exactly 1 for each zero-group token. A
    *     vowelless token is one maximal [^aeiouy\s]++ run flanked by
    *     whitespace/boundary (possessive: embedded shorter matches
    *     would fail the flank lookarounds anyway, so backtracking is
    *     pointless work).
    */
  def readability(docs: DataFrame, docCol: String, textCol: String)
      : DataFrame = {
    val lt = coalesce(lower(col(textCol)), lit(""))
    val nWords = regexp_count(lt, lit("\\S+")).cast("long")
    val nSent = greatest(lit(1L),
      regexp_count(col(textCol), lit("[.!?]+")).cast("long"))
    val nSyll = (regexp_count(lt, lit("[aeiouy]+")) +
      regexp_count(lt, lit("(?<![^\\s])[^aeiouy\\s]++(?![^\\s])")))
      .cast("long")
    val wps = nWords.cast("double") / nSent.cast("double")
    val spw = when(nWords > 0,
      nSyll.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    docs.select(col(docCol), nWords.as("n_words"), nSent.as("n_sentences"),
        nSyll.as("n_syllables"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
          .as("flesch"),
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
          .as("fk_grade"))
  }

  /** X150 — Jensen-Shannon divergence between a baseline and a
    * current CATEGORICAL distribution (the smooth, symmetric, bounded
    * companion to [[psi]]'s banded-numeric drift and the χ² test's
    * significance readout): JSD = ½KL(p‖m) + ½KL(q‖m), m = ½(p+q).
    * No smoothing needed — a side's zero-count category contributes 0
    * to its KL term and m > 0 wherever either side has mass. Reported
    * in nats and bits (bits ∈ [0, 1], the mixture-monitoring scale).
    *
    * Determinism: category counts are exact integers; the fold is ln
    * on identical doubles + round(6) — the psi/chi2 convention. Scale
    * shape: one (category, side) count agg (map-side combined,
    * category-bounded), one-row fold.
    */
  def jsDivergence(df: DataFrame, categoryCol: String,
      isBaseline: Column): DataFrame = {
    val counts = df.groupBy(col(categoryCol).cast("string").as("__cat"))
      .agg(sum(when(isBaseline, 1L).otherwise(0L)).as("__cb"),
        sum(when(isBaseline, 0L).otherwise(1L)).as("__cc"))
    val tot = counts.agg(sum(col("__cb")).as("__nb"),
      sum(col("__cc")).as("__nc"))
    val p = col("__cb").cast("double") / col("__nb")
    val q = col("__cc").cast("double") / col("__nc")
    val m = (p + q) / 2.0
    val term = coalesce(when(col("__cb") > 0L, p * log(p / m)), lit(0.0)) +
      coalesce(when(col("__cc") > 0L, q * log(q / m)), lit(0.0))
    counts.crossJoin(broadcast(tot))
      .agg(max(col("__nb")).cast("long").as("n_baseline"),
        max(col("__nc")).cast("long").as("n_current"),
        count(lit(1)).as("n_categories"),
        (sum(term) / 2.0).as("__jsd"))
      .select(col("n_baseline"), col("n_current"),
        col("n_categories").cast("long").as("n_categories"),
        round(col("__jsd"), 6).as("jsd_nats"),
        round(col("__jsd") / math.log(2.0), 6).as("jsd_bits"))
  }

  /** X151 — per-document character-distribution entropy: Shannon
    * entropy (bits/char) of the character unigram histogram plus the
    * distinct-character count — the cheap gibberish/boilerplate
    * signal that catches base64 blobs (high entropy, large alphabet)
    * and repeated-padding spam (near-zero entropy) that word-level
    * quality scores miss.
    *
    * Scale shape (r15): character counts come from a codegen'd
    * explode + map-side-combined groupBy(doc, char) — the per-char
    * work leaves the interpreted HOF path entirely (the r14 shape
    * folded a named_struct accumulator per CHARACTER, allocating a
    * 4-field struct per char of corpus; guide §1.2 "per-task work").
    * Only the final -p·log2 p sum stays a fold, now over the
    * per-doc DISTINCT characters (dozens) instead of every char.
    * The fold runs over the count list sorted by char ascending —
    * the same additions in the same order as the r14 sorted-run
    * sweep and the oracle's sorted-distinct fold, so the double is
    * bit-identical; round(6).
    *
    * PRECONDITION (r16, ADVICE r15): `docCol` unique per input row —
    * counts group by docCol, so duplicate doc ids would merge counts
    * across rows and fan out the rejoin where the r14 per-row fold
    * computed each row independently. Every declared caller feeds a
    * primary-key doc id; mint a synthetic row id first otherwise.
    */
  def charEntropy(docs: DataFrame, docCol: String, textCol: String)
      : DataFrame = {
    val d = docs.select(col(docCol),
      length(col(textCol)).as("__n"),
      split(col(textCol), "").as("__chars"))
    val per = d.filter(col("__n") > 0)
      .select(col(docCol), col("__n"), explode(col("__chars")).as("__ch"))
      .groupBy(col(docCol), col("__n"), col("__ch"))
      .agg(count(lit(1)).cast("double").as("__c"))
      .groupBy(col(docCol), col("__n"))
      .agg(sort_array(collect_list(struct(col("__ch"), col("__c"))))
        .as("__rc"))
      .select(col(docCol),
        size(col("__rc")).cast("long").as("__uniq"),
        expr("""aggregate(__rc, cast(0 as double),
           (acc, x) -> acc - (x.__c / __n) * log2(x.__c / __n))""")
          .as("__ent"))
    d.select(col(docCol), col("__n"))
      .join(per, Seq(docCol), "left")
      .select(col(docCol), col("__n").cast("long").as("text_len"),
        when(col("__n") > 0, coalesce(col("__uniq"), lit(0L)))
          .otherwise(lit(0L)).as("n_distinct_chars"),
        when(col("__n") > 0, round(coalesce(col("__ent"), lit(0.0)), 6))
          .otherwise(lit(0.0)).as("char_entropy_bits"))
  }

  /** X153 — per-group percentile gate: keep the top `keepFrac` of
    * each group by score (exact, ties broken by id — a total order,
    * so the kept set is content-stable), the "top 30% per source by
    * quality" curation step between scoring (X109) and mixing (X39).
    *
    * Scale shape: NO per-group window — the rank comes from the
    * two-phase [[globalRank]] over (group, score desc, id), which
    * range-partitions the composite key and so splits a hot group
    * across partitions instead of funneling it through one task (the
    * X108/X133 pattern); per-group bases/sizes are a group-bounded
    * agg broadcast back. keep iff rank_in_group ≤ ceil(f·n_group).
    */
  def percentileGate(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, s"bad keepFrac $keepFrac")
    val ranked = globalRank(df,
      Seq(col(groupCol), col(scoreCol).desc, col(idCol)))
    val base = ranked.groupBy(col(groupCol))
      .agg(min(col("__rank")).as("__base"),
        count(lit(1)).as("group_size"))
    ranked.join(broadcast(base), Seq(groupCol))
      .withColumn("group_rank", col("__rank") - col("__base") + 1L)
      .filter(col("group_rank") <=
        ceil(lit(keepFrac) * col("group_size")).cast("long"))
      .drop("__rank", "__base")
  }

  /** X155 — per-group diversity indices over a categorical column:
    * Shannon entropy (bits), Simpson concentration Σp² (exact
    * rational Σc²/n² from integer counts), Gini-Simpson 1−Σp², and
    * Pielou evenness H/log₂(k) — the one-table corpus-composition
    * readout (is a source one language in a trench coat?) beside the
    * X128 dashboard. Category counts are exact; the entropy fold is
    * the psi/chi2 ln-on-identical-doubles + round(6) convention.
    * Scale shape: one (group, category) count agg (map-side
    * combined), one group-level fold — both bounded by
    * |groups|·|categories|.
    */
  def diversityIndices(df: DataFrame, groupCol: String,
      categoryCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol).as("grp"),
        col(categoryCol).as("__cat"))
      .agg(count(lit(1)).as("__c"))
    val tot = counts.groupBy(col("grp"))
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("n_categories"),
        sum(col("__c") * col("__c")).as("__sq"))
    val p = col("__c").cast("double") / col("__n")
    counts.join(broadcast(tot), Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("__n")).cast("long").as("n"),
        max(col("n_categories")).cast("long").as("n_categories"),
        (-sum(p * log2(p))).as("__h"),
        max(col("__sq").cast("double") /
          (col("__n").cast("double") * col("__n").cast("double")))
          .as("__simpson"))
      .select(col("grp").as(groupCol), col("n"), col("n_categories"),
        round(col("__h"), 6).as("shannon_bits"),
        round(col("__simpson"), 6).as("simpson"),
        round(lit(1.0) - col("__simpson"), 6).as("gini_simpson"),
        when(col("n_categories") > 1L,
          round(col("__h") / log2(col("n_categories").cast("double")), 6))
          .as("evenness"))
  }

  /** X158 — snapshot profile drift: the column-level companion to
    * X51's row-level snapshot diff and the X126/X131/X150 value-drift
    * family — profile (non-null count, distinct count, min, max, null
    * rate) of every watched column on BOTH snapshots in one scan
    * each, joined into a per-column drift report with changed-bounds
    * flags. The schema-health gate a pipeline runs before promoting a
    * new snapshot: a column whose null rate jumped or whose distinct
    * count collapsed fails promotion before any value-level test
    * runs.
    *
    * Scale shape: two single-pass multi-aggregate scans (the
    * q_profile shape — Spark expands multi-distinct internally but
    * storage is read once), one |cols|-row struct explode each, and a
    * |cols|-row join. No shuffle proportional to data.
    */
  def profileDrift(base: DataFrame, cur: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    def profile(df: DataFrame, side: String): DataFrame = {
      val aggs = count(lit(1)).as(s"rows_$side") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"cnt_$c"),
        count_distinct(col(c)).as(s"dst_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c")))
      df.agg(aggs.head, aggs.tail: _*)
        .select(col(s"rows_$side"),
          explode(array(cols.map(c => struct(
            lit(c).as("col_name"),
            col(s"cnt_$c").as(s"nonnull_$side"),
            col(s"dst_$c").as(s"distinct_$side"),
            col(s"min_$c").as(s"__min_$side"),
            col(s"max_$c").as(s"__max_$side"))): _*)).as("p"))
        .select(col(s"rows_$side"), col("p.*"))
    }
    profile(base, "base").join(profile(cur, "cur"), Seq("col_name"))
      .select(col("col_name"),
        col("nonnull_base"), col("nonnull_cur"),
        col("distinct_base"), col("distinct_cur"),
        round(lit(1.0) - col("nonnull_base").cast("double") /
          col("rows_base"), 6).as("null_rate_base"),
        round(lit(1.0) - col("nonnull_cur").cast("double") /
          col("rows_cur"), 6).as("null_rate_cur"),
        (col("__min_base") =!= col("__min_cur")).as("min_changed"),
        (col("__max_base") =!= col("__max_cur")).as("max_changed"))
  }

  /** X162 — per-line language segmentation: the multilingual-document
    * splitter (a crawl page with an English header and a German body
    * should ship as TWO training docs, not one mislabeled one). Per
    * line: stopword-hit scores per language (the X3 heuristic, exact
    * integers); predicted = first declared language attaining the max
    * (deterministic ties); then adjacent same-language lines merge
    * into runs (lag/cumsum inside a PER-DOC window — doc-bounded,
    * never global) and each run reports (start, end, n_lines).
    *
    * Scale shape: one scan scoring lines (codegen'd token filters),
    * one per-doc window pass, one (doc, segment) agg. Everything
    * partitions by doc.
    */
  def langSegments(lines: DataFrame, docCol: String, idxCol: String,
      lineCol: String, langs: Seq[(String, Seq[String])]): DataFrame = {
    require(langs.size >= 2, "need at least two languages")
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.tokens(col(lineCol))
    val scored = lines.select(
      col(docCol) +: col(idxCol).cast("long").as("__idx") +:
        langs.map { case (l, ws) =>
          size(filter(toks, t => t.isin(ws.map(lit): _*))).as(s"__s_$l")
        }: _*)
    val mx = greatest(langs.map(l => col(s"__s_${l._1}")): _*)
    val pred = coalesce(langs.map { case (l, _) =>
      when(col(s"__s_$l") === mx, lit(l))
    }: _*)
    val w = Window.partitionBy(col(docCol)).orderBy(col("__idx"))
    scored.withColumn("__lang", pred)
      .withColumn("__chg",
        when(lag(col("__lang"), 1).over(w).isNull ||
          col("__lang") =!= lag(col("__lang"), 1).over(w), 1L)
          .otherwise(0L))
      .withColumn("segment_idx", sum(col("__chg")).over(w))
      .groupBy(col(docCol), col("segment_idx"),
        col("__lang").as("lang_pred"))
      .agg(min(col("__idx")).as("start_line"),
        max(col("__idx")).as("end_line"),
        count(lit(1)).as("n_lines"))
  }

  /** X163 — robust per-group score normalization: (x − median)/IQR
    * with EXACT grouped order statistics from [[Quantiles]]'
    * multi-pass bisection (no per-group sort, no approx sketch, skew-
    * proof) broadcast back to the scan — the outlier-resistant
    * standardization a mixing step applies before comparing quality
    * scores ACROSS sources whose score scales differ. Degenerate
    * groups (IQR 0) report NULL rather than a division blow-up.
    */
  def robustScale(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    // all three order statistics refine in the SAME grouped
    // histogram passes — one bisection ladder, not three
    val stats = Quantiles.exactQuantilesByGroup(
      df.select(col(groupCol), col(valueCol)), groupCol, valueCol,
      Seq(0.5, 0.25, 0.75))
    def qt(q: Double, name: String): DataFrame =
      stats.filter(col("q") === q)
        .select(col(groupCol), col("quantile").as(name))
    df.join(broadcast(qt(0.5, "median")), Seq(groupCol))
      .join(broadcast(qt(0.25, "__q1")), Seq(groupCol))
      .join(broadcast(qt(0.75, "__q3")), Seq(groupCol))
      .withColumn("iqr", col("__q3") - col("__q1"))
      .withColumn("robust_z",
        when(col("iqr") > 0L,
          round((col(valueCol) - col("median")).cast("double") /
            col("iqr"), 6)))
      .drop("__q1", "__q3")
  }

  /** X166 — TABLE-driven blocklist phrase matching: the scale path
    * past X142's literal-phrase filter (whose regex/array literals
    * live in the plan — fine for dozens of phrases, unusable for the
    * 100k-entry blocklists a production safety pass carries). Here
    * the blocklist is DATA: a (phrase_id, phrase) table, matched via
    * a first-token equi-join on the positional postings (the X164
    * pruning idea — only positions whose token starts some phrase
    * survive), then verified by one exact token-slice comparison
    * against the candidate doc's token array.
    *
    * Scale shape: postings stay SKINNY through the explode; the
    * phrase table broadcasts; only candidate (doc, pos, phrase) rows
    * rejoin the token arrays (semi-pruned — docs with no candidate
    * never ship their arrays). Output one row per (doc, phrase) with
    * occurrence count and first position.
    */
  def blocklistJoin(docs: DataFrame, docCol: String, textCol: String,
      phrases: DataFrame): DataFrame = {
    val pt = phrases.select(col("phrase_id"),
        Dedup.tokens(col("phrase")).as("__pt"))
      .withColumn("__first", element_at(col("__pt"), 1))
      .withColumn("__len", size(col("__pt")))
      .filter(col("__len") >= 1)
    val toks = docs.select(col(docCol),
      Dedup.tokens(col(textCol)).as("__w"))
    val cands = toks
      .select(col(docCol), posexplode(col("__w")).as(Seq("__pos", "__t")))
      .join(broadcast(pt), col("__t") === col("__first"))
      .select(col(docCol), col("__pos"), col("phrase_id"),
        col("__pt"), col("__len"))
    cands.join(toks, Seq(docCol))
      .filter(expr("slice(__w, __pos + 1, __len)") === col("__pt"))
      .groupBy(col(docCol), col("phrase_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("__pos")).cast("long").as("first_pos"))
  }

  /** X169 — mojibake repair: the curated UTF-8-read-as-Latin-1 table
    * (the ftfy core case — 'Ã©' for 'é', 'â€™' for a right quote …)
    * applied as a fixed `replace` chain. DETERMINISTIC and engine-
    * replayable (same literal chain, same order — order matters and
    * is part of the contract); repairs only known-safe sequences, so
    * clean text passes through byte-identical. The crawl-cleaning
    * step between decode and tokenization.
    */
  def repairMojibake(text: Column): Column =
    MojibakePairs.foldLeft(text) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /** (broken, repaired) in application order — shared with the SQL
    * twin builders.
    */
  val MojibakePairs: Seq[(String, String)] = Seq(
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú",
    "Ã±" -> "ñ", "Ã§" -> "ç", "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü",
    "ÃŸ" -> "ß", "â€™" -> "'", "â€œ" -> "“", "â€“" -> "–",
    "â€”" -> "—", "â€¦" -> "…", "â‚¬" -> "€", "Â·" -> "·",
    "Â " -> " ")

  /** X170 — HTML strip + entity decode: script/style blocks out
    * first (lazy, case-insensitive, dot-all — NO backreferences, so
    * the same pattern runs under java.util.regex AND RE2), then all
    * tags, then the five core entities with `&amp;` decoded LAST
    * (decoding it first would re-expose `&lt;` etc. to a second
    * decode), then whitespace collapse. The boilerplate-removal
    * front door of every crawl pipeline.
    */
  def stripHtml(text: Column): Column = {
    val noScript = regexp_replace(text,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** X171 — URL decomposition + per-domain rollup: host, registrable
    * domain (last two labels), TLD, and path via RE2-SAFE
    * regexp_extract (no lookaround, no backrefs in patterns — the
    * same expressions run identically under java.util.regex and
    * RE2/DuckDB), then the crawl-triage rollup: docs, distinct
    * hosts, and mean quality per registrable domain — the table a
    * crawl pipeline joins as its domain-reputation prior.
    */
  /** Scheme accepts any RFC-3986 scheme case-insensitively; the host
    * is LOWERCASED (hosts are case-insensitive, paths are not — the
    * path keeps the original case) and a `:port` suffix is stripped
    * before domain/TLD extraction. The registrable domain is the
    * LAST-TWO-LABELS heuristic — multi-part public suffixes (co.uk,
    * com.au) roll up under the suffix pair, and IP-literal hosts
    * (numeric last label) extract an empty domain; [[domainRollup]]
    * surfaces both classes in a visible `(unparsed)` bucket rather
    * than a silent '' row.
    */
  def urlParts(url: Column): (Column, Column, Column, Column) = {
    val rawHost =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    val host = regexp_replace(lower(rawHost), ":[0-9]+$", "")
    val domain = regexp_extract(host, "([^.]+\\.[a-z]+)$", 1)
    val tld = regexp_extract(host, "(\\.[a-z]+)$", 1)
    val path =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/.*)$", 1)
    (host, domain, tld, path)
  }

  def domainRollup(docs: DataFrame, urlCol: String, scoreCol: String)
      : DataFrame = {
    val (host, domain, tld, _) = urlParts(col(urlCol))
    docs.select(
        when(domain === "", lit("(unparsed)")).otherwise(domain)
          .as("domain"),
        when(domain === "", lit("")).otherwise(tld).as("tld"),
        host.as("__host"),
        col(scoreCol).cast("long").as("__score"))
      .groupBy(col("domain"), col("tld"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("__host")).as("n_hosts"),
        round(sum(col("__score")).cast("double") / count(lit(1)), 6)
          .as("mean_score"))
  }

  /** X172 — sentence segmentation without lookbehind: terminal
    * punctuation runs get a U+0001 marker appended (capture-group
    * rewrite — RE2-safe), then one split materializes (doc,
    * sent_idx, sentence) rows — the unit the per-sentence ops
    * (chunking, quality, alignment) consume, where [[readability]]
    * only COUNTS sentences. Pure scan work, no shuffle.
    */
  def sentenceSplit(docs: DataFrame, docCol: String, textCol: String)
      : DataFrame = {
    val marked = regexp_replace(col(textCol),
      "([.!?]+)\\s+", "$1\u0001")
    docs.select(col(docCol),
        posexplode(filter(split(marked, "\u0001"), s => trim(s) =!= ""))
          .as(Seq("sent_idx", "sentence")))
      .select(col(docCol), col("sent_idx").cast("long").as("sent_idx"),
        trim(col("sentence")).as("sentence"))
  }

  /** X176 — mutual information between two categorical columns:
    * MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) from the exact contingency
    * cells, plus entropies and the sqrt-normalized NMI ∈ [0,1] — the
    * dependence STRENGTH readout beside X126's χ² significance and
    * X150's distribution distance (χ² asks "is source independent of
    * lang", MI answers "how many bits does knowing source give you
    * about lang"). Exact integer cells; ln-on-identical-doubles +
    * round(6). Scale shape: one \|X\|·\|Y\|-bounded cell agg, margins
    * re-aggregated from cells, one-row fold.
    */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(xCol).cast("string").as("__x"),
        col(yCol).cast("string").as("__y"))
      .agg(count(lit(1)).as("__c"))
    val mx = cells.groupBy(col("__x")).agg(sum(col("__c")).as("__cx"))
    val my = cells.groupBy(col("__y")).agg(sum(col("__c")).as("__cy"))
    val tot = cells.agg(sum(col("__c")).as("__n"))
    val joined = cells.join(broadcast(mx), Seq("__x"))
      .join(broadcast(my), Seq("__y"))
      .crossJoin(broadcast(tot))
    val p = col("__c").cast("double") / col("__n")
    val term = p * log(col("__c").cast("double") * col("__n") /
      (col("__cx").cast("double") * col("__cy")))
    val hx = col("__c").cast("double") / col("__n") *
      log(col("__cx").cast("double") / col("__n"))
    val hy = col("__c").cast("double") / col("__n") *
      log(col("__cy").cast("double") / col("__n"))
    joined.agg(max(col("__n")).cast("long").as("n"),
        sum(term).as("__mi"), (-sum(hx)).as("__hx"),
        (-sum(hy)).as("__hy"))
      .select(col("n"), round(col("__mi"), 6).as("mi_nats"),
        round(col("__mi") / math.log(2.0), 6).as("mi_bits"),
        when(col("__hx") > 0.0 && col("__hy") > 0.0,
          round(col("__mi") / sqrt(col("__hx") * col("__hy")), 6))
          .as("nmi"))
  }

  /** X292 — Dunning log-likelihood collocations: for each adjacent
    * word pair, the 2×2 G² = 2Σ O·ln(O/E) of (bigram vs margins) —
    * the corpus-linguistics standard for "these words travel
    * together beyond chance" (raw bigram counts just echo frequent
    * words; PMI overweights hapaxes; Dunning's likelihood ratio is
    * the calibrated middle). Feeds tokenizer vocab curation (X73's
    * merge candidates that are REAL collocations) and boilerplate
    * discovery.
    *
    * Scale shape: bigram extraction is a per-row zip_with (no
    * window, no join); the count table is map-side combined and
    * vocabulary²-bounded above / corpus-bounded below; margins
    * re-aggregate from it and broadcast back. Exact integer cells;
    * G² is a fixed-shape 4-term double expression per bigram (no
    * data-ordered fold), round(6). Ordering: (g2 desc, w1, w2) on
    * the ROUNDED value so the top-k cut is engine-stable.
    */
  def collocations(docs: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad $minCount/$topK")
    val pairs = docs
      .select(split(col(textCol), " ").as("__ws"))
      .select(explode(expr(
        "zip_with(slice(__ws, 1, size(__ws) - 1), " +
          "slice(__ws, 2, size(__ws) - 1), " +
          "(a, b) -> named_struct('w1', a, 'w2', b))")).as("__p"))
      .select(col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    val cells = pairs.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__c"))
    val first = cells.groupBy(col("__w1")).agg(sum(col("__c")).as("__c1"))
    val second = cells.groupBy(col("__w2")).agg(sum(col("__c")).as("__c2"))
    val tot = cells.agg(sum(col("__c")).as("__n"))
    val j = cells.join(broadcast(first), Seq("__w1"))
      .join(broadcast(second), Seq("__w2"))
      .crossJoin(broadcast(tot))
      .filter(col("__c") >= minCount)
    def d(c: Column) = c.cast("double")
    val (o11, o12, o21, o22) = (d(col("__c")),
      d(col("__c1") - col("__c")), d(col("__c2") - col("__c")),
      d(col("__n") - col("__c1") - col("__c2") + col("__c")))
    val nD = d(col("__n"))
    val (e11, e12, e21, e22) = (
      d(col("__c1")) * d(col("__c2")) / nD,
      d(col("__c1")) * (nD - d(col("__c2"))) / nD,
      (nD - d(col("__c1"))) * d(col("__c2")) / nD,
      (nD - d(col("__c1"))) * (nD - d(col("__c2"))) / nD)
    def t(o: Column, e: Column) =
      when(o > 0.0, o * log(o / e)).otherwise(lit(0.0))
    val g2 = lit(2.0) *
      (t(o11, e11) + t(o12, e12) + t(o21, e21) + t(o22, e22))
    j.select(col("__w1").as("w1"), col("__w2").as("w2"),
        col("__c").cast("long").as("n_pair"),
        col("__c1").cast("long").as("n_w1"),
        col("__c2").cast("long").as("n_w2"),
        round(g2, 6).as("g2"))
      .orderBy(col("g2").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** X293 — G-test of independence (likelihood-ratio χ²):
    * G = 2Σ_cells O·ln(O·N/(r_x·c_y)) over the exact contingency
    * table — the test X126's Pearson approximates; preferred when
    * any cell is small or the table is sparse (zero cells contribute
    * 0 exactly instead of wrecking the quadratic form; absent cells
    * never enter the fold). Computed via the c·ln c identity
    * G = 2·(Σ O·lnO − Σ r_x·ln r_x − Σ c_y·ln c_y + N·lnN) — the
    * same margin-bounded three-aggregate shape as [[theilU]], which
    * replaces the old 5-broadcast per-cell join plan (each broadcast
    * was a scheduled job; the fixed cost dominated the sub-second
    * query — r13 q_g_test adjudication). G = 2N·MI_nats identically
    * (the spec asserts that law); ln-on-identical-doubles, round(6).
    */
  def gTest(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).cast("string").as("__x"),
        col(yCol).cast("string").as("__y"))
      .agg(count(lit(1)).as("__c"))
    def nlogn(c: Column) = c.cast("double") * log(c.cast("double"))
    val a = cells.agg(sum(col("__c")).cast("long").as("n"),
      sum(nlogn(col("__c"))).as("__a"))
    val b = cells.groupBy(col("__y")).agg(sum(col("__c")).as("__cy"))
      .agg(count(lit(1)).cast("long").as("n_y"),
        sum(nlogn(col("__cy"))).as("__b"))
    val cc = cells.groupBy(col("__x")).agg(sum(col("__c")).as("__cx"))
      .agg(count(lit(1)).cast("long").as("n_x"),
        sum(nlogn(col("__cx"))).as("__cc"))
    val nD = col("n").cast("double")
    a.crossJoin(broadcast(cc)).crossJoin(broadcast(b))
      .select(col("n"), col("n_x"), col("n_y"),
        ((col("n_x") - 1L) * (col("n_y") - 1L)).as("dof"),
        round(lit(2.0) * (col("__a") - col("__cc") - col("__b") +
          nD * log(nD)), 6).as("g_stat"))
  }

  /** X294 — Theil's uncertainty coefficient, both directions:
    * U(x\|y) = (H(X) − H(X\|Y))/H(X) ∈ [0,1] — the ASYMMETRIC
    * association readout ("knowing source pins down lang 40%, but
    * knowing lang says little about source") that symmetric NMI
    * (X176) and Cramér's V (X150 kin) can't express. All three
    * entropies come from the c·ln c identity on the same exact cell/
    * margin counts: H(X\|Y) = (Σ_y c_y·ln c_y − Σ_cells O·ln O)/N,
    * H(X) = ln N − (Σ_x r_x·ln r_x)/N — no per-cell probabilities,
    * so the fold is over margin-bounded tables only.
    */
  def theilU(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).cast("string").as("__x"),
        col(yCol).cast("string").as("__y"))
      .agg(count(lit(1)).as("__c"))
    def nlogn(c: Column) = c.cast("double") * log(c.cast("double"))
    val a = cells.agg(sum(col("__c")).cast("long").as("n"),
      sum(nlogn(col("__c"))).as("__a"))
    val b = cells.groupBy(col("__y")).agg(sum(col("__c")).as("__cy"))
      .agg(sum(nlogn(col("__cy"))).as("__b"))
    val cc = cells.groupBy(col("__x")).agg(sum(col("__c")).as("__cx"))
      .agg(sum(nlogn(col("__cx"))).as("__cc"))
    val w = a.crossJoin(broadcast(b)).crossJoin(broadcast(cc))
    val nD = col("n").cast("double")
    val hx = log(nD) - col("__cc") / nD
    val hy = log(nD) - col("__b") / nD
    val hxGy = (col("__b") - col("__a")) / nD
    val hyGx = (col("__cc") - col("__a")) / nD
    w.select(col("n"),
      round(hx, 6).as("h_x"), round(hy, 6).as("h_y"),
      when(hx > 0.0, round((hx - hxGy) / hx, 6)).as("u_x_given_y"),
      when(hy > 0.0, round((hy - hyGx) / hy, 6)).as("u_y_given_x"))
  }

  /** X295 — Goodman-Kruskal gamma between two ORDINAL band columns:
    * γ = (C − D)/(C + D) from concordant/discordant pair mass — the
    * monotone-association readout for banded data where Kendall/
    * Spearman (X147) want numeric values and ties dominate (γ
    * ignores ties entirely, so coarse 3-band × 3-band tables still
    * read cleanly). Pair mass via the cells×cells join (bands² ×
    * bands² — bands-bounded, never row pairs); products fold in
    * decimal, so C/D are exact while n² < 10¹⁸ (documented bound,
    * same class as X226's U). One double division, round(6); NULL
    * when no untied pairs exist.
    */
  def gkGamma(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.groupBy(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .agg(count(lit(1)).as("__c"))
    val a = cells.select(col("__x").as("__xa"), col("__y").as("__ya"),
      col("__c").as("__ca"))
    val b = cells.select(col("__x").as("__xb"), col("__y").as("__yb"),
      col("__c").as("__cb"))
    val pairs = a.crossJoin(b).filter(col("__xa") < col("__xb"))
    val mass = (col("__ca").cast(dec) * col("__cb")).cast(dec)
    val folded = pairs.agg(
      coalesce(sum(when(col("__ya") < col("__yb"), mass)), lit(0)
        .cast(dec)).cast(dec).as("__conc"),
      coalesce(sum(when(col("__ya") > col("__yb"), mass)), lit(0)
        .cast(dec)).cast(dec).as("__disc"))
    val tot = cells.agg(sum(col("__c")).cast("long").as("n"))
    folded.crossJoin(broadcast(tot))
      .select(col("n"),
        col("__conc").cast("long").as("concordant"),
        col("__disc").cast("long").as("discordant"),
        when(col("__conc") + col("__disc") > 0,
          round((col("__conc") - col("__disc")).cast("double") /
            (col("__conc") + col("__disc")).cast("double"), 6))
          .as("gamma"))
  }

  /** X339 — Somers' D, both directions: the ASYMMETRIC sibling of
    * [[gkGamma]] — gamma throws away every tied pair, which makes it
    * read inflated on coarse bands; Somers' d keeps pairs tied on the
    * INDEPENDENT variable in the denominator, so d_{Y\|X} answers
    * "how much does knowing X's order pin down Y's order" (for a
    * binary X it is exactly 2·AUC − 1, the Gini of the ranking).
    *
    * Exactness: concordant/discordant masses fold on the cells grid
    * (cells² join, band-bounded); the one-variable tie masses are
    * closed-form margin arithmetic (S² − Σc²)/2 per level — all
    * decimal-exact; the two ratios are fixed-shape doubles, round(6),
    * NULL when their denominator is 0.
    */
  def somersD(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.groupBy(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .agg(count(lit(1)).as("__c"))
    val a = cells.select(col("__x").as("__xa"), col("__y").as("__ya"),
      col("__c").as("__ca"))
    val b = cells.select(col("__x").as("__xb"), col("__y").as("__yb"),
      col("__c").as("__cb"))
    val pairs = a.crossJoin(b).filter(col("__xa") < col("__xb"))
    val mass = (col("__ca").cast(dec) * col("__cb")).cast(dec)
    val cd = pairs.agg(
      coalesce(sum(when(col("__ya") < col("__yb"), mass)), lit(0)
        .cast(dec)).cast(dec).as("__conc"),
      coalesce(sum(when(col("__ya") > col("__yb"), mass)), lit(0)
        .cast(dec)).cast(dec).as("__disc"))
    // pairs tied on one variable only: per level L of that variable,
    // (S_L² − Σ_cells c²) / 2 — margin closed form, cells-bounded
    def tiesOn(margin: String): DataFrame = {
      val m = cells.groupBy(col(margin))
        .agg(sum(col("__c")).cast(dec).as("__s"),
          sum((col("__c").cast(dec) * col("__c")).cast(dec)).cast(dec)
            .as("__ss"))
      m.agg((sum(((col("__s") * col("__s")).cast(dec) - col("__ss"))
        .cast(dec)).cast(dec) / 2).cast(dec).as(s"__t$margin"))
    }
    val tot = cells.agg(sum(col("__c")).cast("long").as("n"))
    val j = cd.crossJoin(broadcast(tiesOn("__x")))
      .crossJoin(broadcast(tiesOn("__y")))
      .crossJoin(broadcast(tot))
    val num = (col("__conc") - col("__disc")).cast("double")
    val denYX = col("__conc") + col("__disc") + col("__t__y")
    val denXY = col("__conc") + col("__disc") + col("__t__x")
    j.select(col("n"),
      col("__conc").cast("long").as("concordant"),
      col("__disc").cast("long").as("discordant"),
      col("__t__x").cast("long").as("ties_x_only"),
      col("__t__y").cast("long").as("ties_y_only"),
      when(denYX > 0, round(num / denYX.cast("double"), 6))
        .as("d_yx"),
      when(denXY > 0, round(num / denXY.cast("double"), 6))
        .as("d_xy"))
  }

  /** X340 — Cramér's V and Tschuprow's T: the BOUNDED strength
    * companions to the raw χ² drift tests (X126/X293 report "is there
    * association"; V answers "how much", on [0, 1], comparable across
    * tables of different size and shape — the number a quality
    * dashboard can threshold). T additionally penalizes non-square
    * tables.
    *
    * Exactness: observed cells and margins are exact longs; expected
    * counts and χ² terms are fixed-shape doubles summed over the FULL
    * r×c grid (zero-observed cells contribute their expected mass —
    * the margin cross-join materializes them), round(6). NULL when
    * either dimension has < 2 levels.
    */
  /** X343 — MATTR (moving-average type-token ratio, Covington &
    * McFall 2010): lexical diversity that, unlike the raw TTR the
    * quality score uses, does NOT shrink with document length (TTR of
    * a long document is low merely because vocabulary saturates) —
    * the average distinct-fraction over every `window`-token sliding
    * window. The per-doc diversity gate that composes with X155's
    * corpus-level indices.
    *
    * Exactness: the window distinct-counts are exact integers (one
    * in-row pass, `transform(sequence)` + `array_distinct` over
    * slices — O(len·window) per doc, scan-stage, no shuffle); their
    * SUM divides once by (winSize·nWindows), so the double is one
    * division, round(6). Docs shorter than the window use one
    * whole-doc window (= plain TTR).
    */
  def mattr(docs: DataFrame, docCol: String, textCol: String,
      window: Int = 50): DataFrame = {
    require(window >= 2, s"bad window $window")
    val toks = coalesce(Dedup.tokens(col(textCol)),
      array().cast("array<string>"))
    val d = docs.select(col(docCol), toks.as("__w"))
      .withColumn("__n", size(col("__w")))
      .withColumn("__win", least(col("__n"), lit(window)))
      .withColumn("__nwin", col("__n") - col("__win") + 1)
    val distinctSum = expr(
      s"""aggregate(
            transform(sequence(0, __n - __win),
              i -> size(array_distinct(slice(__w, i + 1, __win)))),
            0L, (acc, x) -> acc + x)""")
    d.select(col(docCol), col("__n").cast("long").as("n_tokens"),
      when(col("__n") > 0, col("__nwin").cast("long"))
        .otherwise(lit(0L)).as("n_windows"),
      when(col("__n") > 0,
        round(distinctSum.cast("double") /
          (col("__win") * col("__nwin")).cast("double"), 6))
        .as("mattr"))
  }

  /** X344 — term burstiness (Church & Gale 1995): per term, how
    * CLUMPED are its occurrences across documents — E[tf \| tf>0]
    * (once a term appears, how many times) and the variance-to-mean
    * ratio over ALL docs (VMR 1 = Poisson scatter, ≫1 = bursty).
    * Content words burst, function words don't — the signal that
    * separates topical terms from glue for stopword lists and
    * keyword weighting, orthogonal to X309's positional dispersion.
    *
    * Exactness: tf/df/Σtf² fold as exact integers from one
    * tokenize-explode pass (vocabulary-bounded shuffle, map-side
    * combine); zeros enter VMR through the closed form var =
    * (Σtf² − (Σtf)²/N)/N, never materialized. Top-`topK` by total tf
    * (term tiebreak) via TakeOrderedAndProject.
    */
  def termBurstiness(docs: DataFrame, docCol: String, textCol: String,
      minDf: Int = 2, topK: Int = 50): DataFrame = {
    require(minDf >= 1 && topK >= 1, s"bad minDf=$minDf topK=$topK")
    val dec = "decimal(38,0)"
    val nDocs = docs.agg(count(lit(1)).cast("long").as("__nd"))
    val tf = docs
      .select(col(docCol).as("__doc"),
        explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col("__doc"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val per = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum(col("__tf")).cast("long").as("tf_total"),
        sum((col("__tf").cast(dec) * col("__tf")).cast(dec)).cast(dec)
          .as("__tf2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
    val nd = col("__nd").cast("double")
    val mean = col("tf_total").cast("double") / nd
    val vr = (col("__tf2").cast("double") -
      col("tf_total").cast("double") * col("tf_total").cast("double")
        / nd) / nd
    per.select(col("term"), col("df"), col("tf_total"),
        round(col("tf_total").cast("double") /
          col("df").cast("double"), 6).as("burstiness"),
        when(mean > 0.0, round(vr / mean, 6)).as("vmr"))
      .orderBy(col("tf_total").desc, col("term"))
      .limit(topK)
  }

  /** X353 — quality-filter ablation matrix: for every pair of gates,
    * how many docs do BOTH kill — the overlap audit run before adding
    * a filter to the stack ("the new toxicity gate kills 2% of the
    * corpus, but 90% of that was already dead to the length gate").
    * Reports per-gate kill counts, the pairwise intersection, and its
    * Jaccard. Gates are plan literals, so the whole matrix is ONE
    * scan-stage aggregate — \|gates\|² conditional counters inside one
    * map-side-combinable agg, no shuffle of doc rows, no second pass
    * per gate.
    */
  def filterAblation(docs: DataFrame, gates: Seq[(String, Column)])
      : DataFrame = {
    require(gates.size >= 2 && gates.size <= 32,
      s"need 2..32 gates, got ${gates.size}")
    require(gates.map(_._1).distinct.size == gates.size,
      "duplicate gate names")
    require(gates.forall(_._1.matches("[A-Za-z0-9_]+")),
      "gate names must be [A-Za-z0-9_]+ (they become column names)")
    val aggs = (for {
      (na, ga) <- gates; (nb, gb) <- gates
      if na <= nb
    } yield sum(when(ga && gb, 1L).otherwise(0L)).cast("long")
      .as(s"__k_${na}__$nb")) :+
      count(lit(1)).cast("long").as("__n")
    val w = docs.agg(aggs.head, aggs.tail: _*)
    val pairs = for {
      (na, _) <- gates; (nb, _) <- gates
      if na < nb
    } yield struct(lit(na).as("gate_a"), lit(nb).as("gate_b"),
      col(s"__k_${na}__$na").as("n_a"),
      col(s"__k_${nb}__$nb").as("n_b"),
      col(s"__k_${na}__$nb").as("n_both"))
    w.select(col("__n").as("n_docs"),
        explode(array(pairs: _*)).as("__p"))
      .select(col("n_docs"), col("__p.gate_a").as("gate_a"),
        col("__p.gate_b").as("gate_b"), col("__p.n_a").as("n_killed_a"),
        col("__p.n_b").as("n_killed_b"),
        col("__p.n_both").as("n_killed_both"),
        when(col("__p.n_a") + col("__p.n_b") - col("__p.n_both") > 0L,
          round(col("__p.n_both").cast("double") /
            (col("__p.n_a") + col("__p.n_b") - col("__p.n_both"))
              .cast("double"), 6)).as("kill_jaccard"))
      .orderBy(col("gate_a"), col("gate_b"))
  }

  /** X354 — boilerplate prefix templates: the most common first-`k`-
    * token prefixes across the corpus — headers, navigation chrome
    * and licence blurbs anchor at the DOC START, which X136's
    * line-level dedup only catches when the whole line matches; a
    * shared prefix template is the "remove this crawler artifact"
    * signal. One tokenize + slice per doc (docs shorter than k
    * contribute their whole text), vocabulary-of-prefixes-bounded
    * shuffle with map-side combine, top-`topN` by (count desc,
    * prefix).
    */
  def prefixTemplates(docs: DataFrame, textCol: String, k: Int = 5,
      topN: Int = 20): DataFrame = {
    require(k >= 1 && topN >= 1, s"bad k=$k topN=$topN")
    val toks = Dedup.tokens(col(textCol))
    val nDocs = docs.agg(count(lit(1)).cast("long").as("__nd"))
    docs.select(array_join(slice(toks, 1, k), " ").as("prefix"))
      .filter(col("prefix") =!= "")
      .groupBy(col("prefix"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .crossJoin(broadcast(nDocs))
      .select(col("prefix"), col("n_docs"),
        round(col("n_docs").cast("double") /
          col("__nd").cast("double"), 6).as("doc_share"))
      .orderBy(col("n_docs").desc, col("prefix"))
      .limit(topN)
  }

  /** X355 — Unicode NFC normalization audit: per source, how many
    * docs are NOT in NFC form (decomposed accents, compatibility
    * glyphs) — un-normalized text silently splits token/dedup keys
    * ("café" ≠ "café" when one é is e+U+0301), so every ingest
    * pipeline normalizes first and this measures whether a source
    * already did. The check is one JVM `java.text.Normalizer` pass
    * per row (UDF — there is no built-in; same taxonomy as the
    * WordPiece walk), scan-stage, no shuffle before the tiny
    * per-source agg.
    */
  def nfcAudit(docs: DataFrame, sourceCol: String, textCol: String)
      : DataFrame = {
    val isNfc = udf { s: String =>
      s == null ||
        java.text.Normalizer.isNormalized(s,
          java.text.Normalizer.Form.NFC)
    }
    docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(isNfc(col(textCol)), 0L).otherwise(1L)).cast("long")
          .as("n_non_nfc"))
      .withColumn("non_nfc_rate",
        round(col("n_non_nfc").cast("double") /
          col("n_docs").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** X356 — source style cosine: pairwise cosine similarity of
    * per-source character-trigram count vectors on the corpus-global
    * top-`m` trigram basis — "which sources WRITE alike" (same
    * scripts, same markup habits, same tokenization quirks),
    * independent of vocabulary overlap (X94 compares shingle SETS;
    * two translations of the same site share style here but nothing
    * there).
    *
    * Scale shape: trigram counts are one explode + count with
    * map-side combine (alphabet³-bounded keys); the global top-m
    * basis is a TakeOrderedAndProject; the cosine join is
    * (sources × m) ⋈ basis then sources² pairs — all bounded by
    * source count and m, never by corpus rows. Integer dot products,
    * one double division, round(6).
    */
  def sourceStyleCosine(docs: DataFrame, sourceCol: String,
      textCol: String, m: Int = 100): DataFrame = {
    require(m >= 1, s"bad m $m")
    val dec = "decimal(38,0)"
    // char trigrams from the row-local `token_ngrams` kernel over the
    // text's characters: O(len) per document, and a text shorter than
    // 3 chars yields no grams, matching the oracle's
    // generate_series(1, len-2)
    val grams = docs
      .select(col(sourceCol).as("__src"),
        explode(call_function("token_ngrams", split(col(textCol), ""),
          lit(3), lit(""))).as("__g"))
      .groupBy(col("__src"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val basis = grams.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__tot"))
      .orderBy(col("__tot").desc, col("__g"))
      .limit(m)
      .select(col("__g"))
    val vecs = grams.join(broadcast(basis), Seq("__g"))
    val norms = vecs.groupBy(col("__src"))
      .agg(sum((col("__c").cast(dec) * col("__c")).cast(dec)).cast(dec)
        .as("__nn"))
    val a = vecs.select(col("__g"), col("__src").as("source_a"),
      col("__c").as("__ca"))
    val b = vecs.select(col("__g"), col("__src").as("source_b"),
      col("__c").as("__cb"))
    val dots = a.join(b, Seq("__g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum((col("__ca").cast(dec) * col("__cb")).cast(dec))
        .cast(dec).as("__dot"))
    dots
      .join(norms.select(col("__src").as("source_a"),
        col("__nn").as("__na")), Seq("source_a"))
      .join(norms.select(col("__src").as("source_b"),
        col("__nn").as("__nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"),
        round(col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) *
            sqrt(col("__nb").cast("double"))), 6).as("style_cosine"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def cramersV(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__o"))
    val rx = cells.groupBy(col("__x"))
      .agg(sum(col("__o")).as("__rx"))
    val cy = cells.groupBy(col("__y"))
      .agg(sum(col("__o")).as("__cy"))
    val tot = cells.agg(sum(col("__o")).cast("long").as("n"),
      countDistinct(col("__x")).cast("long").as("n_rows"),
      countDistinct(col("__y")).cast("long").as("n_cols"))
    val grid = rx.crossJoin(cy)
      .join(cells, Seq("__x", "__y"), "left")
      .withColumn("__obs", coalesce(col("__o"), lit(0L)))
      .crossJoin(broadcast(tot))
    val e = col("__rx").cast("double") * col("__cy").cast("double") /
      col("n").cast("double")
    val term = (col("__obs").cast("double") - e) *
      (col("__obs").cast("double") - e) / e
    val w = grid.agg(max(col("n")).as("n"),
      max(col("n_rows")).as("n_rows"), max(col("n_cols")).as("n_cols"),
      sum(term).as("__chi2"))
    val nd = col("n").cast("double")
    val rD = col("n_rows").cast("double")
    val cD = col("n_cols").cast("double")
    val kMin = least(col("n_rows"), col("n_cols")).cast("double")
    val ok = col("n_rows") > 1L && col("n_cols") > 1L && col("n") > 0L
    w.select(col("n"), col("n_rows"), col("n_cols"),
      when(ok, round(col("__chi2"), 6)).as("chi2"),
      when(ok, round(sqrt(col("__chi2") / (nd * (kMin - 1.0))), 6))
        .as("cramers_v"),
      when(ok, round(sqrt(col("__chi2") /
        (nd * sqrt((rD - 1.0) * (cD - 1.0)))), 6)).as("tschuprow_t"))
  }

  /** X309 — Gries' DP (deviation of proportions): per term,
    * DP = ½·Σ_parts \|v_p/f − s_p\| where s_p is part p's share of
    * ALL corpus tokens — 0 means the term spreads exactly like the
    * corpus, →1 means it clumps in one part. The dispersion lens a
    * frequency list lies about: a term can be frequent yet live in
    * ONE source (boilerplate, a single crawled site), and X217's
    * burstiness reads per-key arrivals, not corpus balance.
    *
    * Exact end to end: \|v_p/f − tok_p/T\| = \|v_p·T − tok_p·f\| /
    * (f·T) has an INTEGER numerator, parts the term never reaches
    * contribute their Σ tok_p·f without materializing a grid
    * (absent-mass identity: Σ_absent tok_p = T − Σ_present tok_p),
    * and the ONE division by 2fT happens at the end. Headroom:
    * v·T < 10³⁸ (decimal(38,0)) — at T = 10¹⁴ tokens that allows
    * per-part term counts to 10²⁴. Vocabulary×parts-bounded; the
    * top-k cut orders by the ROUNDED DP.
    */
  def termDispersion(docs: DataFrame, textCol: String,
      partCol: String, minCount: Long = 50L, topK: Int = 30)
      : DataFrame = {
    require(minCount >= 1 && topK >= 1, "bad params")
    val dec = "decimal(38,0)"
    val words = docs.select(col(partCol).as("__p"),
        explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
    val cells = words.groupBy(col("__w"), col("__p"))
      .agg(count(lit(1)).as("__v"))
    val parts = cells.groupBy(col("__p"))
      .agg(sum(col("__v")).cast("long").as("__tok"))
    val tot = parts.agg(sum(col("__tok")).cast("long").as("__T"))
    // f (the term's total) must exist BEFORE the deviation fold —
    // one pre-pass over the vocabulary-bounded cell table
    val f = cells.groupBy(col("__w"))
      .agg(sum(col("__v")).cast("long").as("__f"))
    val dev = cells.join(broadcast(parts), Seq("__p"))
      .join(f, Seq("__w"))
      .crossJoin(broadcast(tot))
      .groupBy(col("__w"), col("__f"), col("__T"))
      .agg(count(lit(1)).cast("long").as("n_parts"),
        sum(col("__tok")).cast("long").as("__tokPresent"),
        sum(abs(col("__v").cast(dec) * col("__T") -
          col("__tok").cast(dec) * col("__f")).cast(dec)).cast(dec)
          .as("__dev"))
      .filter(col("__f") >= minCount)
    val absent = (col("__T") - col("__tokPresent")).cast(dec) *
      col("__f")
    dev.select(col("__w").as("term"), col("__f").as("n_occurrences"),
        col("n_parts"),
        round((col("__dev") + absent).cast("double") /
          (lit(2.0) * col("__f").cast("double") *
            col("__T").cast("double")), 6).as("dp"))
      .orderBy(col("dp").desc, col("term"))
      .limit(topK)
  }

  /** X321 — character-coverage vocabulary selection (the
    * SentencePiece `character_coverage` step): order the corpus's
    * characters by frequency and keep the smallest prefix reaching
    * the target coverage — the charset every byte/char-level
    * tokenizer (X73/X121/X118) should be trained against, with the
    * long tail (mojibake, stray scripts — X278's "other" bucket)
    * consciously cut, not silently learned. Exact integer char
    * counts; the crossing rank against target = ⌈coverage·total⌉ is
    * integer-exact; the one ordered pass is CHARSET-bounded (the
    * vocabulary class, never rows). Output: one row — totals, kept
    * count, achieved coverage, and the kept charset as a sorted
    * string (scalar columns only).
    */
  def charCoverage(docs: DataFrame, textCol: String,
      coverage: Double = 0.9995): DataFrame = {
    require(coverage > 0 && coverage <= 1, s"bad coverage $coverage")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(split(col(textCol), "")).as("__ch"))
      .filter(col("__ch") =!= "")
      .groupBy(col("__ch")).agg(count(lit(1)).as("__c"))
    val tot = counts.agg(sum(col("__c")).cast("long").as("__T"),
      count(lit(1)).cast("long").as("n_distinct_chars"))
    val w = Window.orderBy(col("__c").desc, col("__ch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = counts
      .withColumn("__cum", sum(col("__c")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("__target",
        ceil(lit(coverage) * col("__T")).cast("long"))
      .withColumn("__keep", col("__cum") - col("__c") < col("__target"))
    ranked.filter(col("__keep"))
      .agg(max(col("n_distinct_chars")).as("n_distinct_chars"),
        max(col("__T")).as("total_chars"),
        count(lit(1)).cast("long").as("n_kept"),
        sum(col("__c")).cast("long").as("__keptChars"),
        concat_ws("", sort_array(collect_list(col("__ch"))))
          .as("kept_charset"))
      .select(col("n_distinct_chars"), col("total_chars"),
        col("n_kept"),
        round(col("__keptChars").cast("double") / col("total_chars"),
          6).as("coverage_achieved"),
        col("kept_charset"))
  }

  /** X326 — token-budget epoch allocation: given a training budget B
    * and a temperature exponent α, each source targets
    * w_s·B = T_s^α/ΣT^α·B tokens, which its own size converts to an
    * EPOCH COUNT (repetitions) capped at `maxEpochs` — the
    * D4/DoReMi-shaped repetition plan that turns X85's mixture
    * weights into the number every dataloader actually needs
    * ("source C runs 3.2 epochs; source A is capped at 4 and
    * under-delivers its target by 1.2M tokens"). Closed form, one
    * group-bounded fold; the capped shortfall is REPORTED per
    * source, not silently redistributed.
    */
  def epochAllocation(docs: DataFrame, groupCol: String,
      tokensCol: String, budget: Long, alpha: Double = 0.5,
      maxEpochs: Double = 4.0): DataFrame = {
    require(budget > 0 && alpha > 0 && alpha <= 1 && maxEpochs > 0,
      s"bad params budget=$budget alpha=$alpha maxEpochs=$maxEpochs")
    val cells = docs.groupBy(col(groupCol))
      .agg(sum(col(tokensCol)).cast("long").as("tokens"))
    val powed = cells.withColumn("__w",
      pow(col("tokens").cast("double"), lit(alpha)))
    val tot = powed.agg(sum(col("__w")).as("__wTot"))
    val j = powed.crossJoin(broadcast(tot))
    val share = col("__w") / col("__wTot")
    val target = share * budget
    val epochsRaw = target / col("tokens")
    val epochs = least(epochsRaw, lit(maxEpochs))
    val realized = least(target, lit(maxEpochs) * col("tokens"))
    j.select(col(groupCol), col("tokens"),
      round(share, 6).as("weight"),
      round(target, 0).cast("long").as("target_tokens"),
      round(epochs, 6).as("epochs"),
      round(realized, 0).cast("long").as("realized_tokens"),
      (epochsRaw > maxEpochs).as("capped"),
      round(greatest(target - realized, lit(0.0)), 0).cast("long")
        .as("shortfall_tokens"))
  }

  /** X330 — standardized Pearson residuals of a contingency table:
    * per cell, r = (O − E)/√(E(1 − row/N)(1 − col/N)) — the
    * DRILL-DOWN after X126/X293 say "not independent": which cells
    * drove it, in ±z units (\|r\| > 2 is the classic callout). Exact
    * integer cells/margins; each residual is one fixed-shape double,
    * round(6); cells-bounded join of margins back.
    */
  def stdResiduals(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(xCol).cast("string").as("x"),
        col(yCol).cast("string").as("y"))
      .agg(count(lit(1)).cast("long").as("observed"))
    val mx = cells.groupBy(col("x")).agg(sum(col("observed")).as("__rx"))
    val my = cells.groupBy(col("y")).agg(sum(col("observed")).as("__cy"))
    val tot = cells.agg(sum(col("observed")).as("__n"))
    val j = cells.join(broadcast(mx), Seq("x"))
      .join(broadcast(my), Seq("y"))
      .crossJoin(broadcast(tot))
    def d(c: Column) = c.cast("double")
    val e = d(col("__rx")) * d(col("__cy")) / d(col("__n"))
    val denom = sqrt(e * (lit(1.0) - d(col("__rx")) / d(col("__n"))) *
      (lit(1.0) - d(col("__cy")) / d(col("__n"))))
    j.select(col("x"), col("y"), col("observed"),
      round(e, 6).as("expected"),
      when(denom > 0.0, round((d(col("observed")) - e) / denom, 6))
        .as("std_residual"))
  }

  /** X331 — per-group unseen-vocabulary mass (the Good-Turing
    * missing-mass estimator N₁/N per slice): what probability a
    * source's NEXT token is a word never seen from it — the
    * vocabulary-saturation ranking that says which sources still pay
    * to crawl deeper (X229's Chao1 asks "how many types are
    * missing"; this asks "how often will they show up"). Exact
    * integer (tokens, types, hapaxes) per group from the
    * vocabulary-bounded (group, term) count table; one division,
    * round(6).
    */
  def unseenMass(docs: DataFrame, textCol: String, groupCol: String)
      : DataFrame = {
    val terms = docs.select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__g"), col("__w"))
      .agg(count(lit(1)).as("__c"))
    terms.groupBy(col("__g"))
      .agg(sum(col("__c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_hapaxes"))
      .select(col("__g").as(groupCol), col("n_tokens"),
        col("n_types"), col("n_hapaxes"),
        round(col("n_hapaxes").cast("double") / col("n_tokens"), 6)
          .as("p_unseen"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"))
  }

  /** X179 — exact per-group trimmed mean: drop each group's values
    * outside its own exact [q_lo, q_hi] order statistics (the X61
    * multi-pass bisection — skew-proof, no per-group sort) and
    * average what remains — the outlier-resistant central tendency a
    * dashboard reports where a raw mean would chase one spam blob;
    * the aggregate companion to [[robustScale]]'s per-row transform.
    * Trim bounds, kept counts, and sums are exact integers; the mean
    * is one division, round(6).
    */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      loQ: Double = 0.1, hiQ: Double = 0.9): DataFrame = {
    require(loQ > 0 && hiQ <= 1 && loQ < hiQ, s"bad trim ($loQ, $hiQ)")
    // both trim bounds refine in the SAME grouped histogram passes
    val stats = Quantiles.exactQuantilesByGroup(
      df.select(col(groupCol), col(valueCol)), groupCol, valueCol,
      Seq(loQ, hiQ))
    def qt(q: Double, name: String): DataFrame =
      stats.filter(col("q") === q)
        .select(col(groupCol), col("quantile").as(name))
    df.join(broadcast(qt(loQ, "trim_lo")), Seq(groupCol))
      .join(broadcast(qt(hiQ, "trim_hi")), Seq(groupCol))
      .filter(col(valueCol) >= col("trim_lo") &&
        col(valueCol) <= col("trim_hi"))
      .groupBy(col(groupCol), col("trim_lo"), col("trim_hi"))
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col(valueCol)).cast("double") / count(lit(1)), 6)
          .as("trimmed_mean"))
  }

  def charPairCounts(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(Dedup.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** X250 — exact-k weighted sampling WITHOUT replacement
    * (Efraimidis-Spirakis A-ES, 2006): each row gets the key
    * ln(u)/w with u = (hash+1)/2³² ∈ (0,1] from the salted md5, and
    * the k LARGEST keys are the sample — provably equivalent to
    * sequential weighted draws without replacement. The exact-k
    * companion to [[weightedSample]] (Bernoulli, random SIZE): "give
    * me exactly 10,000 docs, quality-weighted" is this, not that.
    *
    * Scale shape: one scan computes the key, TakeOrdered picks k —
    * per-partition heaps, never a global sort. Determinism: u is an
    * exact integer-derived double, the key one fixed-shape double;
    * ties broken by the id. Zero/negative weights are excluded
    * (their key is −∞ conceptually; filtered explicitly).
    */
  /** X253 — markdown structure profile: per doc, exact counts of
    * ATX headings, fenced code blocks (``` pairs — the count is
    * FENCES/2 so an unterminated fence shows up as a half), inline
    * links, and list items, plus a coarse doc class (code /
    * structured / prose) — the router a mixed crawl needs BEFORE
    * text cleaning (X29's pipeline destroys code blocks; X172's
    * sentence splitter is wrong for lists; both need this routing
    * signal first). Pure regexp-count scan stage: RE2-safe patterns
    * (inline (?m), no lookaround), exact integers, no shuffle.
    */
  def markdownProfile(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def cnt(pattern: String) =
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0)))
        .cast("long")
    docs.select(col(idCol),
      cnt("(?m)^#{1,6} ").as("n_headings"),
      cnt("```").as("n_fences"),
      cnt("\\[[^\\]]*\\]\\([^)]*\\)").as("n_links"),
      cnt("(?m)^[-*] ").as("n_list_items"))
      .withColumn("doc_class",
        when(col("n_fences") >= 2L, "code")
          .when(col("n_headings") + col("n_list_items") > 0L,
            "structured")
          .otherwise("prose"))
  }

  def weightedTopK(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, salt: String = "aes"): DataFrame = {
    require(k >= 1, s"bad k $k")
    val u = (md5Band(col(keyCol).cast("string"), s"$salt:")
      .cast("double") + 1.0) / 4294967296.0
    df.filter(col(weightCol) > 0.0)
      .withColumn("__key", log(u) / col(weightCol))
      .orderBy(col("__key").desc, col(keyCol))
      .limit(k)
      .select(col(keyCol), col(weightCol).as("weight"),
        round(col("__key"), 6).as("sample_key"))
  }

  /** X249 — hierarchical URL-path rollup: every path prefix up to
    * `maxDepth` becomes one row with its doc count and distinct-host
    * count — the crawl-budget view ("/videos eats 40% of the
    * corpus, /videos/live 90% of that") that a flat [[domainRollup]]
    * cannot see. Prefix explode is ≤ maxDepth rows per doc; the agg
    * is prefix-bounded. Extraction is the urlParts host convention
    * (lowercase, port stripped); paths normalize to no trailing
    * slash; docs whose path is "/" roll up only into depth 0 (the
    * host row).
    */
  def pathRollup(docs: DataFrame, urlCol: String, maxDepth: Int = 3)
      : DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 10, s"bad maxDepth $maxDepth")
    val lower0 = lower(col(urlCol))
    val host = regexp_replace(
      regexp_extract(lower0, "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1),
      ":[0-9]+$", "")
    val path = regexp_extract(lower0, "^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)", 1)
    val segs = expr("filter(split(__path, '/'), s -> s <> '')")
    val base = docs.select(host.as("__host"), path.as("__path"))
      .filter(col("__host") =!= "")
      .withColumn("__segs", segs)
      .withColumn("__d",
        explode(sequence(lit(0),
          least(size(col("__segs")), lit(maxDepth)))))
      .withColumn("prefix",
        concat(col("__host"),
          when(col("__d") === 0, lit(""))
            .otherwise(concat(lit("/"),
              array_join(slice(col("__segs"), lit(1), col("__d")),
                "/")))))
    base.groupBy(col("prefix"), col("__d").cast("long").as("depth"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("__host")).cast("long").as("n_hosts"))
  }

  /** X278 — Unicode script/character-class profile: per group, what
    * share of the corpus's characters are Latin, Cyrillic, or Han
    * script, ASCII digits, whitespace, ASCII punctuation, or other —
    * the mixed-script/mojibake detector that catches what X3's
    * n-gram language ID can't (lang-ID says "russian", the script
    * profile says "40% of the bytes are Latin — this is transliterated
    * or corrupted"), and the first gate against script-mixing spam.
    *
    * Every count is length-difference arithmetic (`length(s) −
    * length(regexp_replace(s, class, ''))` — the X83 gopher-counting
    * convention, one regex pass per class, no explode); the script
    * classes are single-char Unicode property patterns that exist in
    * BOTH regex engines (Java `\p{IsLatin}` ≡ RE2 `\p{Latin}`), so
    * the oracle runs the same counts natively. Exact integer sums per
    * group; shares are one double division, round(6). Scale shape:
    * map-side-combined single aggregate over the scan — no shuffle
    * beyond |groups| rows.
    */
  def scriptProfile(docs: DataFrame, textCol: String, groupCol: String)
      : DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String): Column =
      length(t) - length(regexp_replace(t, pattern, ""))
    val classes = Seq(
      "latin" -> "\\p{IsLatin}",
      "cyrillic" -> "\\p{IsCyrillic}",
      "han" -> "\\p{IsHan}",
      "digit" -> "[0-9]",
      "space" -> "[ \\t\\n\\r]",
      "punct" -> "[!-/:-@\\[-`{-~]")
    val perDoc = docs.select(Seq(col(groupCol), length(t).as("__chars")) ++
      classes.map { case (n, p) => cnt(p).as(s"__$n") }: _*)
    val aggs = count(lit(1)).cast("long").as("n_docs") +:
      sum(col("__chars")).cast("long").as("n_chars") +:
      classes.map { case (n, _) =>
        sum(col(s"__$n")).cast("long").as(s"__s$n") }
    val agg = perDoc.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val known = classes.map { case (n, _) => col(s"__s$n") }.reduce(_ + _)
    agg.select(Seq(col(groupCol), col("n_docs"), col("n_chars")) ++
      classes.map { case (n, _) =>
        round(col(s"__s$n").cast("double") / col("n_chars"), 6)
          .as(s"${n}_share") } :+
      round((col("n_chars") - known).cast("double") / col("n_chars"), 6)
        .as("other_share"): _*)
  }
}
