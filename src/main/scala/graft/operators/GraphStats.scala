package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** X190 — undirected-graph shape statistics: triangle count and the
  * global clustering (transitivity) coefficient 3·T / #wedges. The
  * community-density readout for the dedup/co-occurrence graphs the
  * other graph ops walk (X101 PageRank ranks nodes, X143 label-prop
  * colors them — this measures how CLIQUEY the structure is, the
  * signal that separates template-burst near-dup clusters from
  * chains).
  *
  * Algorithm: canonicalize edges to a < b, then count triangles with
  * the standard two-hop distributed join e(a,b) ⋈ e(b,c) ⋈ e(a,c) —
  * each triangle a<b<c matched exactly once, no orientation
  * double-count. Wedge mass Σ d(d−1)/2 comes from the degree table.
  * Scale shape: the joins shuffle on node keys; on power-law graphs
  * the classic refinement is degree-ordered orientation (point each
  * edge low→high degree), which this canonical a<b form
  * approximates for id-random graphs — noted for the 100 TB path.
  */
object GraphStats {

  private val dec = "decimal(38,0)"

  /** Distinct undirected edges (a, b) with a < b, self-loops dropped. */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    // the canonical edge table feeds five subtrees (nodes, edges,
    // degrees, and all three legs of the triangle join) — pay the
    // upstream build once
    val e = Materialize.share(canonicalEdges(edges, srcCol, dstCol))
    val nodes = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .agg(count_distinct(col("v")).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("__d"))
    val wedges = deg.agg(coalesce(
      sum((col("__d").cast(dec) * (col("__d") - 1L)).cast(dec)),
      lit(0).cast(dec)).as("__w2"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    nodes.crossJoin(nEdges).crossJoin(tri).crossJoin(wedges)
      .select(col("n_nodes").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"),
        col("n_triangles").cast("long").as("n_triangles"),
        expr("cast((__w2 div 2) as bigint)").as("n_wedges"),
        when(col("__w2") > 0,
          round(lit(6.0) * col("n_triangles").cast("double") /
            col("__w2").cast("double"), 6)).as("clustering_coeff"))
  }

  /** X206 — k-core extraction by bounded peeling: `iters` rounds of
    * "drop every node with degree < k, keep edges whose endpoints
    * both survive". The fixed-point is the k-core (the dense
    * community skeleton that survives when pendant/chain structure
    * is stripped — where X190's triangles live); a bounded iteration
    * count keeps the plan replayable (the X101 unrolled-CTE
    * convention) and the `converged` flag reports whether one more
    * round would still peel. Returns one summary row:
    * (n_nodes, n_edges, converged).
    *
    * Scale shape: each round is a degree agg + two semi joins on
    * node keys; `Materialize.cut` drops lineage per round (the X1f
    * cluster-resolution lesson — 10 chained rounds otherwise
    * replan exponentially).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, iters: Int = 8): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(iters >= 1 && iters <= 32, s"bad iters $iters")
    var e = Materialize.cut(canonicalEdges(edges, srcCol, dstCol))
    // r15: stop peeling at the fixed point instead of always running
    // all `iters` rounds — a round that drops no EDGE also dropped no
    // node (a node in the table has ≥1 edge), so the survivor set is
    // already the answer and the remaining rounds were pure no-op
    // jobs. count() on the just-checkpointed frame reads in-memory
    // blocks. Output (n_nodes/n_edges/converged) is computed from the
    // same fixed-point edge set either way — values unchanged.
    var prevCount = e.count()
    var it = 0
    var fixed = false
    while (it < iters && !fixed) {
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("v"))
      val next = e
        .join(deg.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(deg.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .transform(Materialize.cut)
      val c = next.count()
      fixed = c == prevCount
      prevCount = c
      e = next
      it += 1
    }
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("__d"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(when(col("__d") < k, 1L).otherwise(0L)), lit(0L))
        .as("__peelable"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(ne)
      .select(col("n_nodes").cast("long").as("n_nodes"),
        col("n_edges").cast("long").as("n_edges"),
        (col("__peelable") === 0L).as("converged"))
  }

  /** X230 — Adamic-Adar link prediction over an undirected graph:
    * for every non-adjacent node pair (u, v) meeting through ≥
    * `minCommon` shared neighbors, score Σ_w 1/ln(deg w) over the
    * common neighbors — rare shared neighbors say more than hubs
    * (sharing a 3-degree contact beats sharing a celebrity). The
    * "which items WILL co-occur" forecast beside X225's observed
    * co-occurrence rules and X209's embedding-space mutual-NN: this
    * one needs no embeddings, only graph structure.
    *
    * Scale shape: candidate pairs are generated by the WEDGE join
    * (neighbors u < v of each middle w), so the blow-up is
    * Σ_w d_w(d_w−1)/2 — and the classic killer, the hub middle, is
    * removed up front by the `maxDegree` valve (an Adamic-Adar hub
    * contributes ≈ 1/ln(huge) ≈ nothing to every pair while costing
    * d² — dropping it changes scores by < 1/ln(maxDegree) each and
    * the pair count not at all for pairs that share any sub-cap
    * neighbor). Scored pairs that are already edges are flagged, not
    * dropped — the flag is the backtest (do high scores predict
    * existing links?) and the pipeline filter in one column.
    *
    * Determinism: degrees are exact integers; each wedge's score
    * quantizes to NANO units round(1e9/ln d) before the sum, so the
    * per-pair total is an exact integer fold (order-free), divided
    * back once, round(6).
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Long = 1000L, minCommon: Long = 2L): DataFrame = {
    require(maxDegree >= 2, s"bad maxDegree $maxDegree")
    require(minCommon >= 1, s"bad minCommon $minCommon")
    val e = Materialize.share(canonicalEdges(edges, srcCol, dstCol))
    // undirected adjacency: (node, neighbor) both ways
    val adj = e.select(col("a").as("__w"), col("b").as("__u"))
      .unionAll(e.select(col("b").as("__w"), col("a").as("__u")))
    val deg = adj.groupBy(col("__w"))
      .agg(count(lit(1)).cast("long").as("__d"))
    val mids = deg.filter(col("__d") <= maxDegree && col("__d") >= 2L)
      .withColumn("__nano",
        round(lit(1e9) / log(col("__d").cast("double")), 0).cast("long"))
    // r16 (guide §2.4): both sides of the wedge self-join alias wadj
    // differently (x/y), so ReusedExchange never deduplicated the
    // adj ⋈ mids build — the union + degree agg + join executed TWICE.
    // wadj is SKINNY (three longs + the middle key), so one eager
    // checkpoint is cheap and both sides read the same blocks.
    val wadj = adj.join(mids, Seq("__w")).transform(Materialize.cut)
    val pairs = wadj.as("x").join(wadj.as("y"),
        col("x.__w") === col("y.__w") && col("x.__u") < col("y.__u"))
      .groupBy(col("x.__u").as("node_a"), col("y.__u").as("node_b"))
      .agg(count(lit(1)).cast("long").as("common_neighbors"),
        sum(col("x.__nano")).cast("long").as("__s"))
      .filter(col("common_neighbors") >= minCommon)
    pairs.join(e, pairs("node_a") === e("a") && pairs("node_b") === e("b"),
        "left")
      .select(col("node_a"), col("node_b"), col("common_neighbors"),
        round(col("__s").cast("double") / 1e9, 6).as("aa_score"),
        col("a").isNotNull.as("is_edge"))
  }

  /** X377 — the classical link-prediction score PANEL beside
    * [[adamicAdar]]'s single score: common neighbors (the raw
    * count), neighborhood Jaccard cn/(d_u + d_v − cn), and
    * preferential attachment d_u·d_v — the three baselines every
    * link-prediction eval reports (Liben-Nowell & Kleinberg 2003),
    * from ONE wedge pass plus two degree joins. Same `maxDegree` hub
    * valve and `is_edge` backtest flag as Adamic-Adar; candidate
    * generation identical (pairs sharing ≥ minCommon sub-cap
    * neighbors), so the panels align row-for-row.
    *
    * Exactness: cn/degrees/PA are exact integers; Jaccard is one
    * division, round(6).
    */
  def linkScores(edges: DataFrame, srcCol: String, dstCol: String,
      maxDegree: Long = 1000L, minCommon: Long = 2L): DataFrame = {
    require(maxDegree >= 2, s"bad maxDegree $maxDegree")
    require(minCommon >= 1, s"bad minCommon $minCommon")
    val e = Materialize.share(canonicalEdges(edges, srcCol, dstCol))
    val adj = e.select(col("a").as("__w"), col("b").as("__u"))
      .unionAll(e.select(col("b").as("__w"), col("a").as("__u")))
    val deg = adj.groupBy(col("__w"))
      .agg(count(lit(1)).cast("long").as("__d"))
    val mids = deg.filter(col("__d") <= maxDegree && col("__d") >= 2L)
      .select(col("__w"))
    // r16: same wadj double-build as [[adamicAdar]] — checkpoint the
    // skinny (middle, endpoint) table once for both self-join sides
    val wadj = adj.join(mids, Seq("__w")).transform(Materialize.cut)
    val pairs = wadj.as("x").join(wadj.as("y"),
        col("x.__w") === col("y.__w") && col("x.__u") < col("y.__u"))
      .groupBy(col("x.__u").as("node_a"), col("y.__u").as("node_b"))
      .agg(count(lit(1)).cast("long").as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon)
    // endpoint degrees are the FULL degrees (the valve only removes
    // hub MIDDLES from the wedge step, not hub endpoints)
    val da = deg.select(col("__w").as("node_a"), col("__d").as("deg_a"))
    val db = deg.select(col("__w").as("node_b"), col("__d").as("deg_b"))
    // plain equi-joins (no forced broadcast): the degree table is
    // node-sized — AQE broadcasts it when it fits, shuffles when not
    val scored = pairs
      .join(da, Seq("node_a"))
      .join(db, Seq("node_b"))
    scored.join(e,
        scored("node_a") === e("a") && scored("node_b") === e("b"),
        "left")
      .select(col("node_a"), col("node_b"), col("common_neighbors"),
        col("deg_a"), col("deg_b"),
        round(col("common_neighbors").cast("double") /
          (col("deg_a") + col("deg_b") - col("common_neighbors"))
            .cast("double"), 6).as("jaccard"),
        (col("deg_a") * col("deg_b")).cast("long")
          .as("pref_attachment"),
        col("a").isNotNull.as("is_edge"))
  }

  /** X392 — Newman modularity of a node partition on an undirected
    * graph: Q = Σ_c [e_c/m − (d_c/2m)²] — the single number that
    * says whether a community assignment (label-prop, dedup
    * clusters) actually concentrates edges inside communities
    * (Q > 0) or is no better than a degree-random shuffle (Q ≈ 0);
    * the acceptance gate on any clustering the pipeline ships.
    *
    * Exact integers throughout: Q·4m² = Σ_c [4m·e_c − d_c²] where
    * e_c = intra-community edge count and d_c = community degree
    * mass — emitted alongside the rounded double so the hash check
    * is integer-exact. Unlabeled nodes become singleton communities
    * ('u'‖node — they contribute −d² only, the standard convention).
    * Two node-keyed equi-joins (edges→labels on both endpoints) +
    * skinny aggs; nothing data-sized on the driver.
    */
  /** `edgesCanonical = true` asserts the caller's edge list is ALREADY
    * a distinct, self-loop-free undirected pair set (one row per
    * unordered pair, in either orientation — the math only tests
    * community equality and unions both endpoints, so a<b order is
    * irrelevant). The operator then feeds all three consumers (m,
    * intra, degree mass) straight from the caller's frame instead of
    * paying a full least/greatest + distinct shuffle + share to
    * re-derive what the caller (e.g. a checkpointed edge build)
    * already guarantees (r16, guide §2.4).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String,
      edgesCanonical: Boolean = false)
      : DataFrame = {
    val e =
      if (edgesCanonical)
        edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else Materialize.share(canonicalEdges(edges, srcCol, dstCol))
    val comm = labels.select(col(nodeCol).as("__node"),
      coalesce(col(labelCol).cast("string"),
        concat(lit("u"), col(nodeCol).cast("string"))).as("__c"))
    val m = e.agg(count(lit(1)).cast("long").as("__m"))
    val ca = comm.select(col("__node").as("a"), col("__c").as("__ca"))
    val cb = comm.select(col("__node").as("b"), col("__c").as("__cb"))
    // LEFT joins + per-endpoint singleton fallback: a node ABSENT
    // from the labels frame (not just null-labeled) must still
    // become its own 'u'‖node community, or the inner join would
    // silently drop its edges and skew Q
    val intra = e.join(ca, Seq("a"), "left").join(cb, Seq("b"), "left")
      .select(
        coalesce(col("__ca"),
          concat(lit("u"), col("a").cast("string"))).as("__ca"),
        coalesce(col("__cb"),
          concat(lit("u"), col("b").cast("string"))).as("__cb"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c"))
      .agg(count(lit(1)).cast("long").as("__e"))
    val adj = e.select(col("a").as("__node"))
      .unionAll(e.select(col("b").as("__node")))
    val degMass = adj.join(comm, Seq("__node"), "left")
      .groupBy(coalesce(col("__c"),
        concat(lit("u"), col("__node").cast("string"))).as("__c"))
      .agg(count(lit(1)).cast("long").as("__d"))
    val perComm = degMass.join(intra, Seq("__c"), "left")
      .na.fill(0L, Seq("__e"))
    val agg = perComm.crossJoin(broadcast(m))
      .select(col("__c"),
        (lit(4L) * col("__m") * col("__e") -
          col("__d") * col("__d")).as("__q"))
      .agg(count(lit(1)).cast("long").as("n_communities"),
        sum(col("__q")).cast("long").as("q_num"))
    agg.crossJoin(broadcast(m))
      .select(col("n_communities"), col("__m").as("n_edges"),
        col("q_num"),
        when(col("__m") > 0L, round(col("q_num").cast("double") /
          (lit(4.0) * col("__m").cast("double") *
            col("__m").cast("double")), 6)).as("modularity"))
  }
}
