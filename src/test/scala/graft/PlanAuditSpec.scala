package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (the "is this the plan you'd want" gate):
  * column pruning reaches the parquet scans, filters push down, and
  * hot aggregations are whole-stage-codegen'd with partial
  * aggregation. Guards against regressions that correctness tests
  * can't see.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect() // finalize AQE so the plan string shows real stages
    val full = df.queryExecution.executedPlan.toString
    // keep only the AQE final plan (the initial plan would double-
    // count operators)
    full.split("== Initial Plan ==")(0)
  }

  test("q_token_count prunes documents scan to (doc_id, text)") {
    val p = plan("q_token_count")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source") &&
      !read.contains("n_chars"), s"unpruned scan: $read")
  }

  test("q_asof_join pushes the event_type filters into the scans") {
    val p = plan("q_asof_join")
    assert("PushedFilters: \\[[^\\]]*event_type[^\\]]*\\]".r
      .findFirstIn(p).isDefined ||
      p.contains("PushedFilters: [IsNotNull(event_type)"),
      s"no pushed filter in:\n${p.take(2000)}")
  }

  test("q_word_coverage aggregates with partial (map-side) agg") {
    val p = plan("q_word_coverage")
    assert(p.contains("partial_count"), "no map-side partial agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "no final agg pair")
    // whole-stage codegen spans render as *(n) prefixes
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, "agg not codegen'd")
  }

  test("q_star_join: no shuffle before the broadcast joins") {
    val p = plan("q_star_join")
    // exactly one exchange for the final groupBy (plus AQE reads),
    // none feeding the joins
    val joins = p.split("BroadcastHashJoin")
    assert(joins.length == 4, s"expected 3 BHJ")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_knn_brute broadcasts the query side, never the corpus") {
    val p = plan("q_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q_dedup_embedding: no corpus broadcast, no nested-loop join") {
    val p = plan("q_dedup_embedding")
    // the only broadcast allowed is the tiny block-pair dimension;
    // the vectors join through equi (hash/sort-merge) joins
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs NLJ crept back:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_hash_sample prunes the scan and stays fully codegen'd") {
    val p = plan("q_hash_sample")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("n_chars"), s"unpruned scan: $read")
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      "sample predicate not codegen'd")
  }

  test("q_token_shards: single exchange for the per-lang window") {
    val p = plan("q_token_shards")
    // one hashpartitioning exchange by lang feeds the window; the
    // final orderBy adds a range exchange — nothing else
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
    assert(p.contains("Window"), "window missing")
  }

  test("minhash signature agg is partial (map-side combine)") {
    // audited on the operator directly: the full q_dedup_minhash
    // query eagerly checkpoints the candidate-pair stage (so its
    // internal caches can be released — Materialize.scoped),
    // which hides the upstream stages behind a Scan ExistingRDD in
    // the final plan string
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.operators.Dedup.hashedShingles(col("text"), 4))
          .as("g"))
    val sigs = graft.operators.Dedup
      .minhashSignature(docs, "doc_id", "g", 16)
    sigs.collect()
    val p = sigs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_min") || p.contains("partial_first") ||
      p.contains("partial_"), "no map-side partial agg in minhash")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_minhash has no cartesian product end to end") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_heavy_hitters: top-k via TakeOrderedAndProject, no global sort") {
    val p = plan("q_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected top-k operator in:\n${p.take(1500)}")
  }

  test("q_semi_join and q_anti_join use semi/anti physical joins") {
    assert(plan("q_semi_join").contains("LeftSemi"), "no semi join")
    assert(plan("q_anti_join").contains("LeftAnti"), "no anti join")
  }

  test("q_tf_cosine: term equi-join with partial aggs, no all-pairs") {
    val p = plan("q_tf_cosine")
    assert(!p.contains("CartesianProduct"),
      s"all-pairs crept into tf-cosine:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "no map-side partial agg in tf-idf")
  }

  test("q_knn_lsh: bucket equi-join, never an all-pairs scan") {
    val p = plan("q_knn_lsh")
    assert(!p.contains("CartesianProduct"),
      s"all-pairs crept into LSH knn:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  /** Runs `body` and returns the AQE final plan of the one eager
    * checkpoint it executed — the operator's `Materialize.cut`, whose
    * result frame shows only a Scan ExistingRDD in its own plan.
    */
  private def cutPlan(body: => Unit): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint")
          plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    spark.listenerManager.register(listener)
    try { body; ListenerDrain(sc) }
    finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one checkpoint, saw ${plans.size}")
    plans.peek().split("== Initial Plan ==")(0)
  }

  test("jaccardPairsExact: equi joins + partial aggs (pre-checkpoint)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.operators.Dedup.hashedShingles(col("text"), 4).as("shingles"))
    val p = cutPlan(
      graft.operators.Dedup.jaccardPairsExact(docs, "doc_id", 0.5))
    assert(!p.contains("CartesianProduct"),
      s"all-pairs crept into prefix join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), "no map-side partial agg (df count)")
  }

  test("simhashPairs: chunk equi-join + partial signature agg (pre-checkpoint)") {
    import org.apache.spark.sql.functions._
    val exploded = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(graft.operators.Dedup.hashedShingles(col("text"), 4))
          .as("g"))
    val sigs = graft.operators.Dedup.simhash(exploded, "doc_id", "g")
    val p = cutPlan(
      graft.operators.Dedup.simhashPairs(sigs, "doc_id", maxHamming = 7))
    assert(!p.contains("CartesianProduct"),
      s"all-pairs crept into chunk join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_sum"),
      "signature bit-sums lost map-side combine")
  }

  test("q_profile reads the table once (single file scan)") {
    val p = plan("q_profile")
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans")
  }

  test("q_decontaminate: gram equi-join, bench side broadcast-able") {
    val p = plan("q_decontaminate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs crept into contamination join:\n${p.take(1500)}")
    // the benchmark gram set is aggregate output ≪ broadcast
    // threshold; AQE should pick a broadcast join for the probe
    assert(p.contains("BroadcastHashJoin"),
      s"bench grams not broadcast:\n${p.take(1500)}")
    assert(p.contains("partial_count"), "per-doc counts lost map-side agg")
  }

  test("q_dup_span_coverage: df equi-join with partial aggs") {
    val p = plan("q_dup_span_coverage")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs crept into span join:\n${p.take(1500)}")
    assert(p.contains("partial_count"), "df/coverage lost map-side agg")
  }

  test("q_shuffle_shards: no global sort, shards sort independently") {
    val p = plan("q_shuffle_shards")
    // the ORDER BY doc_id of the contract query is the only global
    // sort; the shard ranking itself must partition by shard
    assert(p.contains("hashpartitioning(shard"),
      s"shard window not hash-partitioned:\n${p.take(1500)}")
  }

  test("q_bloom_prune: sketch filter sits in the scan stage, " +
      "before the join exchange") {
    val p = plan("q_bloom_prune")
    // the UDF filter must appear (probe prune) and the join must be
    // an equi semi join, never a cartesian fallback
    assert(p.contains("LeftSemi"), s"no semi join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    // filter is below (printed after) the first exchange: the pruned
    // scan side contains both the parquet scan and the UDF filter
    val scanSide = p.substring(p.indexOf("Scan parquet"))
    assert(scanSide.contains("Filter"),
      s"no scan-side filter:\n${p.take(1500)}")
  }

  test("q_heavy_hitters_sketch: recount filter is scan-stage, " +
      "no vocabulary-wide exchange of raw tokens") {
    val df = SparkEntry.queries("q_heavy_hitters_sketch")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the recount path: isin literal filter + partial/final count agg
    assert(p.contains("partial_count"), "recount not partially agg'd")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_topk_agg: typed aggregator runs partial+final, dims broadcast") {
    val p = plan("q_topk_agg")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial+final object agg:\n${p.take(1500)}")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "dims not broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_zorder_key: pure map over a pruned scan (no joins, " +
      "one sort for the output order)") {
    val p = plan("q_zorder_key")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("l_partkey") && read.contains("l_suppkey") &&
      !read.contains("l_quantity"), s"unpruned scan: $read")
    assert(!p.contains("Join"), "zkey must not join")
  }

  test("q_knn_ivfpq: list-id equi-join (broadcast probe side), " +
      "never a cartesian — unlike the full-scan ADC of plain PQ") {
    val p = plan("q_knn_ivfpq")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      s"probed-list join must be an equi join:\n${p.take(1500)}")
  }

  test("q_dedup_containment: prefix equi-join, no cartesian") {
    val p = plan("q_dedup_containment")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q_bm25: probe-term equi-join (broadcast probe), partial aggs, " +
    "no cartesian") {
    val p = plan("q_bm25")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // candidates arrive via the term equi-join with the broadcast
    // probe; the only nested-loop is the 1-row consts cross join
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "index aggregation lost map-side combine")
  }

  test("q_span_clean: span equi-join, no cartesian, partial aggs") {
    val p = plan("q_span_clean")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("partial_count"),
      "span df aggregation lost map-side combine")
  }

  test("q_vocab_coverage: vocab via TakeOrderedAndProject, broadcast " +
    "probe join") {
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cut does a global sort:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "vocab probe fell back to a shuffle join")
  }

  test("q_market_share: all dimensions broadcast, fact shuffles once") {
    val p = plan("q_market_share")
    // lineitem⋈orders may sort-merge (fact-fact); every dimension
    // (customer, nation×2, region, supplier, part) must broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 6,
      s"a dimension join lost its broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_semdedup: pair join on the composite (cluster, block-pair) " +
    "key, no cartesian") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // the candidate join must be a real equi-join (hash or sort-merge)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q_split_leakproof: band assignment is a scan-stage expression " +
    "after one skinny cluster join") {
    val p = plan("q_split_leakproof")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the md5-band CASE must not introduce any exchange of its own:
    // exactly the joins of the cluster pipeline, no extra aggregate
    // after the final projection
    assert(p.contains("md5") || p.contains("conv"),
      s"band hash not visible in the final stage:\n${p.take(1500)}")
  }

  test("q_semdedup_incr: cluster+block equi-join; the only nested loop " +
    "is the tiny block dimension") {
    val p = plan("q_semdedup_incr")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // new×blocks replication is a broadcast NLJ against an 8-row
    // frame (allowed, like the probe-norm cross joins); the corpus
    // join must be a real equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q_negative_sample: bucket equi-join, no cartesian, one window") {
    val p = plan("q_negative_sample")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q_typicality_bands: map-side-combined index aggs feed the window") {
    val p = plan("q_typicality_bands")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "term aggregation lost map-side combine")
  }

  test("q_wer: per-pair map after one window pass, no cartesian") {
    val p = plan("q_wer")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q_span_clean_anyoffset: gram equi-joins + partial df agg, " +
    "no all-pairs, coverage window and reassembly share one exchange") {
    val p = plan("q_span_clean_anyoffset")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("partial_count"), "gram df lost map-side combine")
    // shuffle budget: ≤ 5 hash exchanges end to end — gram window ×2
    // (symmetric subtrees; reused once AQE stops broadcasting the
    // grams side at real scale), gram-df agg, the ONE coverage-window
    // exchange that also feeds the per-doc reassembly aggregate, and
    // the skinny docs.distinct reattach. A naive plan (repartition
    // between window and reassembly, or a shuffled dupStarts join)
    // exceeds this.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 5,
      s"$exchanges doc/gram exchanges (expected <= 5):\n${p.take(2000)}")
  }

  test("assignClusters is a pure scan: centroids are plan literals, " +
    "zero exchanges before assignment") {
    val df = operators.Similarity.assignClusters(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      k = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"),
      s"KMeans assignment shuffled — centroids must ride the plan:\n" +
        p.take(1500))
    assert(!p.contains("BroadcastExchange"), p.take(1500))
  }

  test("q_embedding_outliers: centroids broadcast back, partial aggs, " +
    "top-k has no global sort") {
    val p = plan("q_embedding_outliers")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"),
      "centroid table stopped broadcasting")
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      "centroid mean lost map-side combine")
    assert(p.contains("TakeOrderedAndProject"),
      s"outlier cut does a global sort:\n${p.take(1500)}")
  }

  test("q_gopher_rules: single pruned scan, zero exchanges before " +
    "the final sort, fully codegen'd") {
    val p = plan("q_gopher_rules")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("source"),
      s"unpruned scan: $read")
    // the only exchange allowed is the ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"rule pass shuffled:\n${p.take(1500)}")
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, "not codegen'd")
  }

  test("q_pack_sequences: two-phase prefix sum — no window, no " +
    "single-partition exchange anywhere") {
    val p = plan("q_pack_sequences")
    // the r7 two-phase scan replaced the global-order window; a
    // Window node reappearing means the 100 TB bottleneck is back
    assert(!p.contains("Window"),
      s"single-task prefix-sum window crept back:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      s"single-partition exchange:\n${p.take(1500)}")
    // reassembly aggregates with partial (map-side) combine
    assert(p.contains("partial_count"), "seq agg lost map-side combine")
  }

  test("q_doc_perplexity: vocab-sized probability table broadcasts, " +
    "per-doc agg map-side combined") {
    val p = plan("q_doc_perplexity")
    assert(p.contains("BroadcastHashJoin"),
      s"probability join stopped broadcasting:\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc agg lost map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_temperature_mix: rate table broadcasts back, band " +
    "predicate codegen'd, no sort-merge join") {
    val p = plan("q_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"rate join stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("partial_count"), "count agg lost map-side combine")
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, "not codegen'd")
  }

  test("q_memorization: gram equi-joins only — no cartesian, " +
    "df agg map-side combined") {
    val p = plan("q_memorization")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join crept in:\n${p.take(1500)}")
    assert(p.contains("partial_count"), "gram df agg lost map-side combine")
  }

  test("q_self_bleu: clip join is equi on (n, gram); top-2 window " +
    "partitions per gram (never a global sort of the gram table)") {
    val p = plan("q_self_bleu")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // the only RangePartitioning allowed is the final ORDER BY doc_id
    val ranges = "rangepartitioning\\(\\[?([a-z_]+)".r
      .findAllMatchIn(p.toLowerCase).map(_.group(1)).toSet
    assert(ranges.subsetOf(Set("doc_id")),
      s"unexpected global sort keys $ranges:\n${p.take(1500)}")
  }

  test("q_silhouette: centroid table broadcasts, no vector-x-vector " +
    "join") {
    val p = plan("q_silhouette")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      "centroid agg lost map-side combine")
  }

  test("q_bpe_fertility: encode stays a scan-side map (no exchange " +
    "between the documents scan and the encode projection)") {
    val p = plan("q_bpe_fertility")
    // encode itself is a closure map; the only exchanges allowed are
    // the doc-stats join and the source agg (+ final sort)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4,
      s"$exchanges exchanges (expected <= 4):\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_kn_perplexity: vocab-sized probability table joins equi, " +
    "count aggs map-side combined, no cartesian beyond the 1-row total") {
    val p = plan("q_kn_perplexity")
    // the only nested-loop join allowed is the single-row btypes cross
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nlj <= 1, s"$nlj NLJs (only the 1-row btypes cross allowed)")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "count aggs lost map-side combine")
  }

  test("q_dsir_weights: bucket ratio table broadcasts back to the " +
    "gram scan; no gram-table self-join") {
    val p = plan("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket table stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "constant-sized ratio table fell into a sort-merge join")
  }

  test("q_source_overlap: engine never self-joins the gram table — " +
    "pairs explode from per-shingle source sets") {
    val p = plan("q_source_overlap")
    // collect_set agg + pair explode + tiny sizes joins: the sizes
    // pair table is |sources|^2, joined broadcast; nothing sort-merges
    // the big distinct-gram table against itself
    assert(p.contains("collect_set"), "source-set agg disappeared")
    assert(!p.contains("CartesianProduct") ||
      "CartesianProduct".r.findAllIn(p).size <= 1,
      "unexpected cartesian beyond the sources-squared pair frame")
    assert(p.contains("partial_count"), "distinct/size aggs not partial")
  }

  test("q_unimax_alloc: waterfill windows run on the sources-only " +
    "table after one map-side-combined token agg") {
    val p = plan("q_unimax_alloc")
    assert(p.contains("partial_sum"), "token count agg lost partial")
    // windows over |sources| rows: SinglePartition exchanges are fine
    // there, but the documents scan itself must shuffle at most once
    val docScans = "ReadSchema: [^\\n]+text".r.findAllIn(p).size
    assert(docScans == 1, s"documents scanned $docScans times")
    assert(!p.contains("CartesianProduct") ||
      "CartesianProduct".r.findAllIn(p).size <= 1, // 1-row level cross
      p.take(1500))
  }

  test("q_rouge_l: the LCS DP is a per-pair map — one doc-keyed " +
    "exchange for the hyp assembly, nothing pairwise") {
    val p = plan("q_rouge_l")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // hyp build: one window + one agg, both keyed by doc_id
    val ranges = "rangepartitioning\\(\\[?([a-z_]+)".r
      .findAllMatchIn(p.toLowerCase).map(_.group(1)).toSet
    assert(ranges.subsetOf(Set("doc_id")),
      s"unexpected global sort keys $ranges")
  }

  test("q_ngram_novelty: one windowed gram pass, presence agg " +
    "map-side combined, no per-side gram-set join") {
    val p = plan("q_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("partial_max") || p.contains("partial_count"),
      "presence agg lost map-side combine")
    assert(!p.contains("SortMergeJoin"),
      "gram sets fell into a per-side join")
  }

  test("q_span_corruption: block math is scan-stage, exchanges stay " +
    "doc-keyed, no cartesian") {
    val p = plan("q_span_corruption")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    val ranges = "rangepartitioning\\(\\[?([a-z_]+)".r
      .findAllMatchIn(p.toLowerCase).map(_.group(1)).toSet
    assert(ranges.subsetOf(Set("doc_id")),
      s"unexpected global sort keys $ranges")
  }

  test("q_pack_boundaries: skinny-table interval math — no Window, no " +
    "single-partition exchange, token arrays never explode") {
    val p = plan("q_pack_boundaries")
    assert(!p.contains("Window"), "prefix sum regressed to a window")
    assert(!p.contains("SinglePartition"),
      "single-partition exchange crept in")
    assert(!p.contains("CartesianProduct"))
    // the only explode is the bounded per-doc sequence-range one;
    // no posexplode of token arrays anywhere
    assert(!p.toLowerCase.contains("posexplode"),
      "token arrays exploded in a metadata-only operator")
  }

  test("q_davies_bouldin: centroids broadcast; R matrix lives on the " +
    "labels-squared table, never vector-x-vector") {
    val p = plan("q_davies_bouldin")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      "centroid agg lost map-side combine")
  }

  test("q_pagerank: lineage is truncated — the output reads the " +
    "iteration checkpoint, not a 10-join-deep plan") {
    val p = plan("q_pagerank")
    assert(p.contains("ExistingRDD"),
      s"localCheckpoint gone — plan rebuilds the iterations:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    // the post-checkpoint work is just the ordering of a skinny table
    assert("Join".r.findAllIn(p).isEmpty,
      "joins leaked past the checkpoint boundary")
  }

  test("q_k_anonymity: level count tables broadcast back — document " +
    "rows never shuffle") {
    val p = plan("q_k_anonymity")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"expected 3 broadcast level joins:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "a QI level join regressed to a wide shuffle")
    assert(p.contains("partial_count"), "level counts lost map-side agg")
  }

  test("q_mlm_mask: the 64-bucket vocab fold broadcasts; nothing " +
    "cartesian") {
    val p = plan("q_mlm_mask")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab representative join stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q_cms_counts: sketch builds with map-side combine and " +
    "estimates via broadcast of the constant-sized grid") {
    val p = plan("q_cms_counts")
    assert(p.contains("partial_count"), "sketch agg lost map-side combine")
    assert(p.contains("BroadcastHashJoin"),
      s"sketch probe join stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_export_manifest: shard windows stay per-source — no " +
    "single-partition stage; manifest agg is partial") {
    val p = plan("q_export_manifest")
    assert(!p.contains("SinglePartition"),
      "global window crept into the manifest path")
    assert(p.contains("partial_sum"), "manifest agg lost map-side combine")
  }

  test("q_calinski_harabasz: centroid joins broadcast; vectors never " +
    "pairwise") {
    val p = plan("q_calinski_harabasz")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      "centroid/WCSS aggs lost map-side combine")
  }

  test("q_margin_pairs: bipartite block join is an equi-join — no " +
    "cartesian, no nested-loop; block replication broadcasts") {
    val p = plan("q_margin_pairs")
    assert(!p.contains("CartesianProduct"),
      s"pair generation went cartesian:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair generation went nested-loop:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      "block-pair replication stopped broadcasting")
  }

  test("q_curriculum: rank is the two-phase RDD scan — no Window " +
    "operator anywhere; word-frequency join shuffles, never collects") {
    val p = plan("q_curriculum")
    assert(!p.contains("Window"),
      s"a window crept into the curriculum path:\n${p.take(1500)}")
    assert(p.contains("ExistingRDD"),
      "two-phase rank gone — positions no longer come from the RDD scan")
  }

  test("q_quality_classifier: no weight-table join — scoring is scan " +
    "+ one partial agg; only the skinny reattach joins") {
    val p = plan("q_quality_classifier")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "score agg lost map-side combine")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // exactly the doc-reattach join: one join operator in the plan
    assert("HashJoin".r.findAllIn(p).length <= 2,
      s"unexpected extra joins:\n${p.take(1500)}")
  }

  test("q_bpe_roundtrip: decode is column math — no extra exchange " +
    "past the encode scan; round-trip check joins once") {
    val p = plan("q_bpe_roundtrip")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"),
      s"a window crept into the decode path:\n${p.take(1500)}")
  }

  test("q_cdc_chunks: boundary/segment math is scan-stage — no joins; " +
    "only the skinny copy-count window shuffles") {
    val p = plan("q_cdc_chunks")
    assert("HashJoin|SortMergeJoin|CartesianProduct".r.findFirstIn(p).isEmpty,
      s"a join crept into the chunking path:\n${p.take(1500)}")
    assert(p.contains("Window"), "copy-count window missing")
  }

  test("q_anomaly: one per-user window, no join, no single-partition " +
    "stage") {
    val p = plan("q_anomaly")
    assert("HashJoin|SortMergeJoin|CartesianProduct".r.findFirstIn(p).isEmpty,
      s"a join crept into the anomaly path:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      "anomaly window collapsed to a global sort")
  }

  test("q_l_diversity: two skinny aggs, no join, map-side combine") {
    val p = plan("q_l_diversity")
    assert("HashJoin|SortMergeJoin|CartesianProduct".r.findFirstIn(p).isEmpty,
      s"a join crept into the l-diversity path:\n${p.take(1500)}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "class aggs lost map-side combine")
  }

  test("q_score_calibration: moment table broadcasts back; the rank " +
    "window partitions by group (no global sort)") {
    val p = plan("q_score_calibration")
    assert(p.contains("BroadcastHashJoin"),
      s"moment join stopped broadcasting:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_pca_whiten: projection is a zero-exchange scan — whitening " +
    "matrix rides as literals, no join in the output plan") {
    val p = plan("q_pca_whiten")
    assert("HashJoin|SortMergeJoin|CartesianProduct".r.findFirstIn(p).isEmpty,
      s"projection gained a join — literals regressed to a table:\n${p.take(1500)}")
    // only the final ORDER BY exchanges
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort exchange in the projection scan:\n$exchanges")
  }

  // a SinglePartition exchange is legitimate only when it feeds a
  // one-/few-row final HashAggregate; under a Sort or Window it means
  // the whole table funnels through one task — the 100 TB killer the
  // two-phase globalRank exists to avoid
  private def assertNoGlobalSort(q: String): Unit = {
    val lines = plan(q).linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        val above = lines.slice(math.max(0, i - 3), i).mkString("\n")
        assert(!above.contains("Sort ") && !above.contains("Window"),
          s"$q: global sort/window over SinglePartition:\n$above")
      }
  }

  test("q_typicality_bands: tercile bands via distributed rank — " +
    "no single-partition sort/window anywhere in the plan") {
    assertNoGlobalSort("q_typicality_bands")
  }

  test("q_zipf_fit: vocab rank via distributed rank — no " +
    "single-partition sort/window") {
    assertNoGlobalSort("q_zipf_fit")
  }

  test("q_self_bleu: closest-length neighbors come from the bounded " +
    "distinct-length table, broadcast back to docs") {
    val p = plan("q_self_bleu")
    // the only window ordered without a partition must sit above the
    // distinct-length AGGREGATE (max-doc-length-bounded), never above
    // the raw doc table; its result rejoins docs via broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"closest-length lost its broadcast join:\n${p.take(1500)}")
  }

  test("r9 scan-only trio (blocklist/fim/readability): pure per-row " +
    "expressions — no join, no aggregate-exchange on the data path") {
    Seq("q_blocklist_filter", "q_fim_transform", "q_readability")
      .foreach { q =>
        val p = plan(q)
        assert("HashJoin|SortMergeJoin|CartesianProduct".r
          .findFirstIn(p).isEmpty,
          s"$q: a join crept into a scan-only op:\n${p.take(1500)}")
        // the only exchange allowed is the final contract ORDER BY
        val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
        assert(exchanges.forall(_.contains("rangepartitioning")),
          s"$q: non-sort exchange in a scan-only op:\n$exchanges")
      }
  }

  test("q_scd2_intervals: lag-flag-cumsum runs per user — no join, " +
    "no single-partition stage") {
    val p = plan("q_scd2_intervals")
    assert("HashJoin|SortMergeJoin|CartesianProduct".r.findFirstIn(p).isEmpty,
      s"a join crept into the SCD2 path:\n${p.take(1500)}")
    assert(!p.contains("SinglePartition"),
      "compaction window collapsed to a global sort")
  }

  test("q_chi2_drift and q_psi_drift: cell/band tables are " +
    "category-sized — partial aggs, no cartesian on the data path") {
    Seq("q_chi2_drift", "q_psi_drift").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q lost map-side combine")
      // the tiny marginal/boundary crosses are broadcast joins on
      // one-row / category-sized tables; the aggregates must sit
      // directly on the scans (no join below the first aggregate)
      assert(p.contains("Scan") && p.contains("HashAggregate"), q)
    }
  }

  test("q_typo_pairs: candidates come from the deletion-key equi-join " +
    "— no cartesian, vocabulary-sized distinct") {
    val p = plan("q_typo_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"typo candidates went all-pairs:\n${p.take(1500)}")
  }

  test("q_hilbert_key: pure scan — only the output range sort " +
    "exchanges") {
    val p = plan("q_hilbert_key")
    assert("HashJoin|SortMergeJoin|CartesianProduct|Window".r
      .findFirstIn(p).isEmpty, s"non-scan work:\n${p.take(1500)}")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges)
  }

  test("q_sorted_neighbors: the rank round-trip is skinny and the " +
    "window join is an equi-join — no cartesian anywhere") {
    val p = plan("q_sorted_neighbors")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"window pairing went all-pairs:\n${p.take(1500)}")
    assert(p.contains("ExistingRDD"),
      "two-phase rank gone from the sorted-neighborhood path")
  }

  test("q_contrastive_pairs: pure scan — no joins, no windows, no " +
    "exchanges before the output sort") {
    val p = plan("q_contrastive_pairs")
    assert("HashJoin|SortMergeJoin|CartesianProduct".r.findFirstIn(p).isEmpty)
    assert(!p.contains("Window"), s"unexpected window:\n${p.take(1500)}")
    // the only exchange is the rangepartitioning for the final ORDER BY
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort exchange in a pure scan:\n$exchanges")
  }

  // ---- r9 wave ---------------------------------------------------------

  test("q_phash_pairs: banded Hamming join is an equi-join — no " +
    "cartesian, no nested loop") {
    val p = plan("q_phash_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"hamming pairing went all-pairs:\n${p.take(1500)}")
  }

  test("q_blocklist_join: phrase table broadcasts; no cartesian") {
    val p = plan("q_blocklist_join")
    assert(p.contains("BroadcastHashJoin"),
      s"phrase table not broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_phrase_search: postings pruned by the phrase terms in the " +
    "scan stage; position joins are equi-joins") {
    val p = plan("q_phrase_search")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the isin prune must run before the joins, i.e. appear as a
    // filter on the exploded token stream
    assert(p.contains("Filter"), "no term prune in the plan")
  }

  test("q_loghist_quantiles: window partitions by key (bucket-" +
    "bounded) — no empty-partition global window") {
    val p = plan("q_loghist_quantiles")
    assert(!p.toLowerCase.contains("window [") ||
      p.contains("windowspecdefinition(key"),
      s"quantile walk lost its key partition:\n${p.take(1500)}")
  }

  test("q_percentile_gate: two-phase rank (ExistingRDD) + broadcast " +
    "base join — no per-group window") {
    val p = plan("q_percentile_gate")
    assert(p.contains("ExistingRDD"),
      "two-phase globalRank gone from percentileGate")
    assert(!p.contains("Window"),
      s"per-group window crept back:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"), "group bases not broadcast")
  }

  test("q_centroid_store and q_bloom_store: map-side partial aggs") {
    Seq("q_centroid_store", "q_bloom_store").foreach { q =>
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q: no partial+final agg pair")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  // ---- r10 wave scale-claim audits -----------------------------------

  test("q_budget_select: both passes are two-phase (ExistingRDD), " +
    "no cumulative window anywhere") {
    val p = plan("q_budget_select")
    assert(p.contains("ExistingRDD"),
      "two-phase rank/prefix machinery gone from budgetSelect")
    assert(!p.contains("Window"),
      s"a cumulative window crept into budgetSelect:\n${p.take(1500)}")
  }

  test("q_borda: three globalRank passes, no per-signal window") {
    val p = plan("q_borda")
    assert(p.contains("ExistingRDD"), "globalRank gone from borda")
    // the only window allowed is the k-row final dense rank
    val specs = "windowspecdefinition\\(".r.findAllIn(p.toLowerCase)
      .length
    assert(specs <= 1, s"per-signal windows crept into borda: $specs")
  }

  test("q_kendall_tau: the pair-mass joins broadcast the bounded " +
    "contingency side — never a shuffled cross product") {
    val p = plan("q_kendall_tau")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cell self-join not broadcast:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      "unbroadcast cross product in kendall")
  }

  test("q_winnow and q_cusum: windows keep their per-doc/per-key " +
    "partitioning (never a global sort)") {
    Seq("q_winnow" -> "doc_id", "q_cusum" -> "event_type")
      .foreach { case (q, key) =>
        val p = plan(q).toLowerCase
        val specs = s"windowspecdefinition\\($key".r
          .findAllIn(p).length
        val all = "windowspecdefinition\\(".r.findAllIn(p).length
        assert(all > 0 && specs == all,
          s"$q: ${all - specs} window(s) lost the $key partition")
      }
  }

  test("row-local kernels: no gram window, row-id window or cache in " +
    "q_setjoin, q_token_f1, q_minhash_sketch, q_source_overlap and " +
    "q_source_style; q_token_f1 exchanges only for its orderBy") {
    for (q <- Seq("q_setjoin", "q_token_f1", "q_minhash_sketch",
        "q_source_overlap", "q_source_style", "q_bleu", "q_chrf")) {
      val p = plan(q)
      assert(!p.contains("InMemoryTableScan"), s"$q caches:\n${p.take(1500)}")
      assert(!p.contains("lead("), s"$q assembles grams in a window")
      // q_setjoin's only window is the prefix filter's per-doc rank by
      // global shingle frequency (once per self-join side), which needs
      // that frequency joined in first
      val windows = p.linesIterator.filter(_.contains("Window [")).toList
      val allowed = (w: String) => q == "q_setjoin" &&
        w.contains("row_number()") && w.contains("__df")
      assert(windows.forall(allowed), s"$q windows:\n${windows.mkString("\n")}")
    }
    // the pair scorers are one scan each: only their orderBy shuffles
    for (q <- Seq("q_token_f1", "q_bleu", "q_chrf")) {
      val exchanges =
        plan(q).linesIterator.filter(_.contains("Exchange ")).toList
      assert(exchanges.nonEmpty &&
        exchanges.forall(_.contains("rangepartitioning(doc_id")),
        s"$q:\n${exchanges.mkString("\n")}")
    }
  }

  test("ExplainPlans.exchangeCounts counts q_token_f1's one shuffle " +
    "once, before and after the adaptive plan runs") {
    val df = SparkEntry.queries("q_token_f1")(spark, dir)
    assert(ExplainPlans.exchangeCounts(df.queryExecution.executedPlan) ==
      (1, 0))
    df.collect()
    assert(ExplainPlans.exchangeCounts(df.queryExecution.executedPlan) ==
      (1, 0))
  }

  test("q_quantile_norm: grid lookup joins broadcast the bounded " +
    "side; the only windows are per-source rank and the " +
    "value-bounded CDF") {
    val p = plan("q_quantile_norm")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "grid lookup not broadcast in quantile_norm")
    assert(!p.contains("CartesianProduct"), "cross product crept in")
  }

  // ---- waves 11-12 scale-claim audits ---------------------------------

  test("q_basket_rules: the apriori prune runs as semi-joins BEFORE " +
    "the quadratic pair join; pair gen is an equi-join on the basket") {
    val p = plan("q_basket_rules")
    assert(p.contains("LeftSemi"),
      s"frequent-item/size-valve semi-joins missing:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      "pair generation went all-pairs")
    // pair gen must be an equi-join keyed on the basket (the 1-row
    // nBaskets broadcast is the only allowed nested-loop join)
    assert("Join \\[__b".r.findFirstIn(p).isDefined,
      s"basket-key equi-join missing:\n${p.take(1500)}")
  }

  test("q_adamic_adar: top-200 compiles to TakeOrderedAndProject — " +
    "never a global sort of the pair table; wedge join stays equi") {
    val p = plan("q_adamic_adar")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k became a global sort:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      "wedge join went all-pairs")
  }

  test("q_mann_whitney: ranks live on the distinct-value table — a " +
    "partial+final agg pair runs and NO window remains (the r11 " +
    "cumSums migration replaced the single ordered CDF window)") {
    val p = plan("q_mann_whitney")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "distinct-value agg lost its map-side partial")
    assert(!p.toLowerCase.contains("windowspecdefinition("),
      s"a window came back:\n${p.take(1500)}")
  }

  test("q_t_closeness: the level frame and totals broadcast; the " +
    "cumulative window keeps its per-class partition") {
    val p = plan("q_t_closeness")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      "global-level frame not broadcast in t_closeness")
    val low = p.toLowerCase
    val all = "windowspecdefinition\\(".r.findAllIn(low).length
    val keyed = "windowspecdefinition\\(lang".r.findAllIn(low).length
    assert(all > 0 && keyed == all,
      s"${all - keyed} window(s) lost the class partition")
  }

  test("q_rbo: both rank windows keep the per-nation partition and " +
    "the item join is an equi-join") {
    val p = plan("q_rbo")
    val low = p.toLowerCase
    val all = "windowspecdefinition\\(".r.findAllIn(low).length
    val keyed = "windowspecdefinition\\(n_name".r.findAllIn(low).length
    assert(all > 0 && keyed == all,
      s"${all - keyed} rank window(s) lost the n_name partition")
    assert(!p.contains("CartesianProduct"), "rbo join went all-pairs")
  }

  // ---- waves 13-15 scale-claim audits ---------------------------------

  test("q_jl_project: the d*k sign table broadcasts; the component " +
    "fold has a map-side partial agg") {
    val p = plan("q_jl_project")
    assert(p.contains("BroadcastHashJoin"),
      s"sign table not broadcast in jl_project:\n${p.take(1200)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "component fold lost its partial agg")
  }

  test("q_feature_hash: scan pruned to (doc_id, text) + the source " +
    "filter pushed; one partial+final agg pair, no joins") {
    val p = plan("q_feature_hash")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("n_chars"), s"unpruned scan: $read")
    assert(p.contains("PushedFilters: [IsNotNull(source)") ||
      "PushedFilters: \\[[^\\]]*EqualTo\\(source".r.findFirstIn(p)
        .isDefined, "source filter not pushed to the scan")
    assert("HashJoin|SortMergeJoin".r.findFirstIn(p).isEmpty,
      "unexpected join in the hashing-trick featurizer")
  }

  test("q_kmv: every rank window keeps its group partition (never a " +
    "global hash sort)") {
    val p = plan("q_kmv").toLowerCase
    val all = "windowspecdefinition\\(".r.findAllIn(p).length
    val keyed = ("windowspecdefinition\\((__g|group_a)".r
      .findAllIn(p).length)
    assert(all > 0 && keyed == all,
      s"${all - keyed} KMV window(s) lost their group partition")
  }

  test("q_eb_shrink: the slices-bounded prior broadcasts back; " +
    "cells agg keeps its map-side partial") {
    val p = plan("q_eb_shrink")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"prior not broadcast in eb_shrink:\n${p.take(1200)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "slice agg lost its partial")
  }

  test("q_risk_coverage: exactly one ordered window, on the " +
    "distinct-score table after a partial+final agg pair") {
    val p = plan("q_risk_coverage")
    // one Window NODE (its two running sums share the one spec)
    assert("Window \\[".r.findAllIn(p).length == 1,
      s"more than the one cumulative window:\n${p.take(1200)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "distinct-score agg lost its partial")
  }

  // ---- waves 16-22 scale-claim audits ---------------------------------

  test("q_weighted_topk: the A-ES pick compiles to " +
    "TakeOrderedAndProject — never a global key sort") {
    val p = plan("q_weighted_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted top-k became a global sort:\n${p.take(1200)}")
  }

  test("q_burrows_delta: the top-m vocabulary broadcasts into the " +
    "z-table joins; no cartesian anywhere") {
    val p = plan("q_burrows_delta")
    assert(p.contains("BroadcastHashJoin"),
      s"top-m words not broadcast:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_attribution: the range join is the bucketized equi-join " +
    "(join keys include the time bucket) and credit windows keep " +
    "their per-conversion partition") {
    val p = plan("q_attribution")
    assert("Join \\[__k[^\\]]*__b".r.findFirstIn(p).isDefined ||
      "join [^\\n]*__b".r.findFirstIn(p.toLowerCase).isDefined,
      s"time bucket missing from the join keys:\n${p.take(1500)}")
    val low = p.toLowerCase
    val all = "windowspecdefinition\\(".r.findAllIn(low).length
    val keyed = "windowspecdefinition\\(__cid".r.findAllIn(low).length
    assert(all > 0 && keyed == all,
      s"${all - keyed} window(s) lost the per-conversion partition")
  }

  test("q_blocking_quality (closed form): three scans, no joins " +
    "except the 1-row broadcasts — never a pair enumerated") {
    val p = plan("q_blocking_quality")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      s"pair enumeration crept back:\n${p.take(1200)}")
  }

  test("q_decay_agg and q_class_report: map-side partial agg pairs") {
    Seq("q_decay_agg", "q_class_report").foreach { q =>
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q lost its partial agg")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q_compaction_plan: two-phase prefix machinery (ExistingRDD)," +
    " no cumulative window") {
    val p = plan("q_compaction_plan")
    assert(p.contains("ExistingRDD"),
      "two-phase rank/prefix machinery gone from the compaction plan")
    assert(!p.contains("Window"),
      s"a cumulative window crept in:\n${p.take(1200)}")
  }

  test("q_jaro_pairs and q_seq_pairs: candidate generation is an " +
    "equi-join, never a cartesian/nested-loop pair sweep") {
    Seq("q_jaro_pairs", "q_seq_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q enumerates all pairs:\n${p.take(1200)}")
      // the only nested-loop allowed is the 1-row totals broadcast
      val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnl <= 1, s"$q has $bnl nested-loop joins")
    }
  }

  test("q_script_profile: scan pruned to (lang, text), map-side " +
    "partial agg pair") {
    val p = plan("q_script_profile")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("lang") && read.contains("text"), read)
    assert(!read.contains("doc_id") && !read.contains("n_chars"),
      s"unpruned scan: $read")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "char-class counting lost its partial agg")
  }

  test("q_levene: the groups-bounded means table comes back as a " +
    "broadcast join, not a shuffle of the scan") {
    val p = plan("q_levene")
    assert(p.contains("BroadcastHashJoin"),
      s"means joined without broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"),
      "the deviation pass shuffled the full scan against the means")
  }

  test("q_collocations: margins come back as broadcast joins onto " +
    "the vocabulary-bounded count table; bigram extraction is " +
    "join-free (no shuffle before the first aggregate)") {
    val p = plan("q_collocations")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"margins joined without broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      "a shuffle/pair join crept into collocation counting")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "bigram counting lost its partial agg")
  }

  test("q_grubbs and q_neyman: scan-side stats broadcast back; " +
    "never a shuffle join of the data against its own aggregate") {
    Seq("q_grubbs", "q_neyman").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q shuffled the scan against its stats:\n${p.take(1200)}")
    }
  }

  test("q_hubness: the top-k runs as a partial-aggregating " +
    "Aggregator — NO window sort of the n^2 candidate rows") {
    val p = plan("q_hubness")
    assert(!p.contains("Window"),
      s"the n^2 candidate sweep regained a window sort:\n${p.take(1500)}")
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r
      .findFirstIn(p).isDefined, "no aggregate in the top-k path")
  }

  test("q_keyness and q_term_dispersion: the top-k cut compiles to " +
    "TakeOrdered, never a global sort of the scored table") {
    Seq("q_keyness", "q_term_dispersion").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q lost its TakeOrdered cut:\n${p.take(1200)}")
    }
  }

  test("migrated rank statistics: no single-partition window anywhere " +
    "(r11 — ks/cvm/ansari/jonckheere/mann-whitney/kruskal/wilcoxon/" +
    "dunn/hl-shift now rank through the distributed cumSums kernel)") {
    Seq("q_ks_test", "q_cvm", "q_ansari_bradley", "q_jonckheere",
      "q_mann_whitney", "q_kruskal", "q_wilcoxon", "q_dunn",
      "q_hl_shift").foreach { q =>
      val lines = plan(q).linesIterator.toVector
      lines.zipWithIndex
        .filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (_, i) =>
          val above = lines.slice(math.max(0, i - 3), i).mkString("\n")
          assert(!above.contains("Window"),
            s"$q: window over SinglePartition:\n$above")
        }
      // the migration removes the Window operator outright (the
      // range exchange itself lives in the cumSums RDD lineage,
      // below the SQL plan string)
      assert(!plan(q).contains("Window"),
        s"$q: a window survived the cumSums migration")
    }
  }

  test("TPC-H boundary shapes compile to the right physical joins: " +
    "Q4 EXISTS -> LeftSemi, Q22 NOT EXISTS -> LeftAnti (broadcast), " +
    "Q13 conditional outer stays LeftOuter") {
    val q4 = plan("q_order_priority_check")
    assert(q4.contains("LeftSemi"), q4.take(1500))
    assert(!q4.contains("Distinct"), "semi join degraded to join+distinct")
    val q22 = plan("q_dormant_rich_customers")
    assert(q22.contains("LeftAnti"), q22.take(1500))
    assert(q22.contains("BroadcastHashJoin") ||
      q22.contains("BroadcastNestedLoopJoin"), "anti side not broadcast")
    val q13 = plan("q_cust_order_distribution")
    assert(q13.contains("LeftOuter"), q13.take(1500))
  }

  test("r11 wave shapes: ablation is one scan-stage agg (no join, " +
    "no window); burstiness aggregates with map-side partials; " +
    "style cosine broadcasts the basis; churn windows stay keyed") {
    val abl = plan("q_filter_ablation")
    assert(!abl.contains("Join"), "ablation grew a join")
    assert(!abl.contains("Window"), "ablation grew a window")
    assert(abl.contains("partial_"), "ablation lost map-side combine")
    val bur = plan("q_burstiness")
    assert(bur.contains("partial_count") || bur.contains("partial_sum"),
      "burstiness tf agg lost its partial")
    assert(bur.contains("TakeOrderedAndProject"),
      "top-k degraded to a global sort")
    val sty = plan("q_source_style")
    assert(sty.contains("BroadcastHashJoin"),
      "basis restriction is not broadcast")
    assert(!sty.contains("CartesianProduct"), "style cosine all-pairs")
    val churn = plan("q_topk_churn")
    val lines = churn.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        val above = lines.slice(math.max(0, i - 3), i).mkString("\n")
        assert(!above.contains("Window"),
          s"churn window funneled to one task:\n$above")
      }
  }

  test("r12 TPC-H shapes: brackets stay in ONE broadcast join, " +
    "returns push the flag filter, dims broadcast") {
    // Q19: the OR-of-brackets must not explode into unioned scans or
    // a cartesian — one part join, predicate evaluated inside it
    val br = plan("q_bracket_revenue")
    assert(br.contains("BroadcastHashJoin"), br.take(800))
    assert(!br.contains("CartesianProduct") && !br.contains("Union"),
      "bracket disjunction split the plan")
    assert("FileScan parquet".r.findAllIn(br).length == 2,
      "extra scans for the bracket arms")
    // Q10: the returnflag filter reaches the lineitem scan
    val ret = plan("q_returned_items")
    assert("PushedFilters: \\[[^\\]]*l_returnflag[^\\]]*\\]".r
      .findFirstIn(ret).isDefined, "returnflag not pushed")
    assert(ret.contains("BroadcastHashJoin"), "dims not broadcast")
    // Q17: the per-part avg decorrelation keeps partial aggs and the
    // tiny part dimension broadcast
    val sq = plan("q_small_qty_revenue")
    assert(sq.contains("partial_sum") || sq.contains("partial_count"),
      "per-part agg lost its partial")
    assert(sq.contains("BroadcastHashJoin"), "part filter not broadcast")
  }

  test("r12 graph/retention shapes: no cartesian in the link panel; " +
    "retention reads events ONCE with no join") {
    val lp = plan("q_link_panel")
    assert(!lp.contains("CartesianProduct") &&
      !lp.contains("BroadcastNestedLoopJoin"),
      "link panel fell into an all-pairs join")
    assert(lp.contains("TakeOrderedAndProject"),
      "top-200 degraded to a global sort")
    val rc = plan("q_retention_cohorts")
    assert("FileScan parquet".r.findAllIn(rc).length == 1,
      s"retention scans events more than once:\n${rc.take(1200)}")
    assert(!rc.contains("SortMergeJoin") &&
      !rc.contains("BroadcastHashJoin"),
      "retention re-grew a join")
    assert(rc.contains("partial_count"), "cells agg lost its partial")
  }

  test("r12 PII scan: decorated-text scan stays pruned and codegen'd") {
    val p = plan("q_pii_scan")
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("lang") && !read.contains("source"),
      s"unpruned scan: $read")
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined,
      "regex counters not codegen'd")
    // the ONLY exchange allowed is the contract ORDER BY's range
    // partition — the counters themselves must not shuffle
    val ex = "Exchange \\w+".r.findAllIn(p).toVector
    assert(ex.forall(_.contains("rangepartitioning")),
      s"a per-row scan op shuffled: $ex")
  }
}
