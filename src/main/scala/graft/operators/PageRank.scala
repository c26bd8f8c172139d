package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{MapSide, Materialize}

/** PageRank over an edge list in PURE INTEGER arithmetic — the
  * web-graph curation signal (Common Crawl ranks its frontier with
  * exactly this family; a training-data pipeline uses the rank as a
  * crawl-quality prior next to the text-level filters).
  *
  * Design for determinism first: ranks live on an integer grid of
  * `scale` units (default 1e9) and the damping factor is the exact
  * rational `dampNum/dampDen` (default 17/20 = 0.85), so one
  * iteration is
  *
  *   share(u)  = rank(u) div outdeg(u)                (integer div)
  *   rank'(v)  = base + (dampNum * Σ_{u→v} share(u)) div dampDen
  *   base      = ((dampDen-dampNum) * scale) div (dampDen * n)
  *
  * — no floating point anywhere, so any two engines (and any two
  * cluster topologies — integer addition commutes exactly, unlike
  * double sums) produce bit-identical ranks. The floor divisions leak
  * O(1) units of mass per node per iteration; that bias is identical
  * everywhere and irrelevant for ranking.
  *
  * Scale shape: [[run]] is the classic Pregel layout expressed
  * relationally. Each iteration joins the |V|-row share table into
  * the cached NARROW (src, dst) edge list (broadcast under
  * `broadcastNodeLimit` nodes, shuffle join above it) and runs one
  * groupBy(dst) partial-agg shuffle of skinny (dst, share) rows — the
  * |E| rows themselves never move. Lineage is truncated with a
  * `Materialize.cut` per iteration (the [[Dedup.resolveClusters]]
  * pattern) — 10 iterations over 100 TB of edges never builds a
  * 10-deep plan. Driver state is two longs (n, base).
  *
  * [[hits]] holds its score tables on the driver while the graph is
  * small enough (see its doc): each half-step is ONE map-side
  * aggregate job over the kept edges ([[graft.MapSide]]) whose
  * closures read a broadcast of the previous scores, and the result
  * is a local relation that reads no cached or checkpointed block.
  *
  * Dangling nodes (out-degree 0) would silently lose their mass, so
  * by default the operator fails loudly if any exist; symmetrized
  * graphs (every edge mirrored, the undirected form used for
  * curation) cannot have any.
  */
object PageRank {

  private val plus = (a: Long, b: Long) => a + b

  /** Ranks after `iters` iterations: (node, rank) with rank on the
    * `scale` integer grid. `edges` is a directed edge list; pass the
    * symmetrized union for undirected ranking and set `symmetric` —
    * then the node set and the "no inbound mass" left join both
    * collapse into the degree table (src set = dst set = node set),
    * which cut setup from 3.7 s to 1.5 s at sf0.1.
    *
    * Iteration shape (measured fastest of four layouts at sf0.1):
    * the |V|-row share table (ranks ⋈ degrees, both skinny) is
    * explicitly BROADCAST into the kept NARROW (src, dst) edge
    * table — AQE cannot pick the broadcast itself because a
    * checkpointed side has no stats — then one map-side-combined
    * groupBy(dst) shuffle of skinny pairs. The |E| rows never move.
    * Past `broadcastNodeLimit` nodes the share join degrades to a
    * plain shuffle join against the kept edge partitioning (a
    * billion-node share table must not be collected). A
    * `Materialize.cut` per iteration truncates lineage (the
    * [[Dedup.resolveClusters]] pattern); spacing checkpoints out
    * measured SLOWER — the deep tail re-executes broadcast subplans.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000000L, dampNum: Long = 17L,
      dampDen: Long = 20L, requireNoDangling: Boolean = true,
      symmetric: Boolean = false,
      broadcastNodeLimit: Long = 10000000L): DataFrame =
      Materialize.scoped { keep =>
    require(iters >= 0 && iters <= 100, s"iters=$iters out of [0,100]")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < damping < 1")
    val spark = edges.sparkSession
    import spark.implicits._

    val e = keep(edges.select(col(srcCol).as("__src"),
      col(dstCol).as("__dst")))
    val deg = keep(e.groupBy($"__src").agg(count(lit(1)).as("__deg")))

    // symmetric + no dangling ⇒ src set = node set; otherwise build
    // the full node set and check for silent mass sinks
    val nodes =
      if (symmetric) deg.select($"__src".as("node"))
      else {
        val ns = keep(e.select($"__src".as("node"))
          .union(e.select($"__dst".as("node"))).distinct())
        if (requireNoDangling) {
          val danglingCount = ns
            .join(deg.select($"__src".as("node")), Seq("node"), "left_anti")
            .count()
          require(danglingCount == 0L,
            s"$danglingCount dangling node(s) (out-degree 0) — symmetrize " +
              "the graph or handle their mass explicitly")
        }
        ns
      }

    val n = if (symmetric) deg.count() else nodes.count()
    require(n > 0, "empty graph")
    val base = ((dampDen - dampNum) * scale) / (dampDen * n)
    val bcastShares = n <= broadcastNodeLimit

    // r15: attach the out-degree to the cached edge list ONCE, so
    // each iteration needs a single broadcast (the |V|-row rank
    // table) instead of two (degrees into ranks, then shares into
    // edges) — the per-iteration broadcast-build jobs were half the
    // iteration cost at sf0.1. share(u) = rank div deg now evaluates
    // per EDGE instead of per node: the identical integer division
    // on the identical operands, so every partial sum is unchanged.
    val degSide0 = if (bcastShares) broadcast(deg) else deg
    val e2 = keep(e.join(degSide0, Seq("__src")))
    var ranks =
      Materialize.cut(nodes.select($"node", lit(scale / n).as("rank")))
    for (_ <- 1 to iters) {
      val rSide = if (bcastShares) broadcast(ranks) else ranks
      val sums = e2.join(rSide, $"node" === $"__src")
        .groupBy($"__dst".as("node"))
        .agg(sum(expr("rank div __deg")).as("__s"))
      val next =
        if (symmetric)
          // every node has in-edges: sums covers the full node set
          sums.select($"node",
            (lit(base) + expr(s"($dampNum * __s) div $dampDen")).as("rank"))
        else
          nodes.join(sums, Seq("node"), "left")
            .select($"node",
              (lit(base) +
                expr(s"($dampNum * coalesce(__s, 0L)) div $dampDen"))
                .as("rank"))
      ranks = Materialize.cut(next)
    }
    ranks
  }

  /** X143 — semi-supervised label propagation (Zhu & Ghahramani 2002,
    * synchronous majority vote): seeds carry fixed labels; each
    * iteration every node adopts the most frequent label among its
    * in-neighbors' current labels (ties to the SMALLEST label id —
    * total order, so the whole fixpoint is deterministic and
    * oracle-replayable), with seed labels clamped. Unlabeled
    * neighbors don't vote; nodes no vote reaches stay unlabeled. The
    * weak-supervision expansion step next to [[run]]'s quality prior:
    * a handful of hand-labeled domains/docs propagates over a
    * similarity or citation graph.
    *
    * Labels must be non-negative ints. Votes aggregate by
    * groupBy(node, label) count with an argmax via max(struct(count,
    * -label)) — per-node aggregation, never a global window.
    *
    * Scale shape: [[run]]'s Pregel layout — per iteration one
    * broadcast-or-shuffle join of the |V|-row label table into the
    * kept narrow edge list plus one (node, label) partial agg;
    * `Materialize.cut` truncates lineage. Driver state is nothing.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedNodeCol: String, seedLabelCol: String,
      iters: Int, broadcastNodeLimit: Long = 10000000L): DataFrame =
      Materialize.scoped { keep =>
    require(iters >= 0 && iters <= 100, s"iters=$iters out of [0,100]")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = keep(edges.select(col(srcCol).as("__src"),
      col(dstCol).as("__dst")))
    val nodes = keep(e.select($"__src".as("node"))
      .union(e.select($"__dst".as("node"))).distinct())
    val sd = keep(seeds.select(col(seedNodeCol).as("node"),
      col(seedLabelCol).cast("long").as("__seed")))
    val n = nodes.count()
    require(n > 0, "empty graph")
    val bcast = n <= broadcastNodeLimit
    // r15: the (node ⋈ seed) left join is loop-invariant — it was
    // rebuilt (join + broadcast build) inside every iteration; hoist
    // it into one checkpointed |V|-row frame that doubles as the
    // round-0 labels (guide §2.4). Clamp/vote semantics unchanged.
    val nodeSeed = Materialize.cut(nodes
      .join(if (bcast) broadcast(sd) else sd, Seq("node"), "left")
      .select($"node", $"__seed"))
    var labels = nodeSeed.select($"node", $"__seed".as("lab"))
    for (_ <- 1 to iters) {
      val labeled = labels.filter($"lab".isNotNull)
        .select($"node".as("__vn"), $"lab".as("__vl"))
      val voteSide = if (bcast) broadcast(labeled) else labeled
      val votes = e.join(voteSide, $"__src" === $"__vn")
        .groupBy($"__dst".as("node"), $"__vl")
        .agg(count(lit(1)).as("__c"))
        .groupBy($"node")
        .agg(max(struct($"__c", (-$"__vl").as("__nl"))).as("__best"))
        .select($"node", (-$"__best.__nl").as("__vote"))
      val next = nodeSeed
        .join(votes, Seq("node"), "left")
        .select($"node", coalesce($"__seed", $"__vote").as("lab"))
      labels = Materialize.cut(next)
    }
    labels.select($"node", $"lab".as("label"))
  }

  /** X363 — HITS hubs & authorities (Kleinberg 1999) on a DIRECTED
    * edge list: authority = Σ hub over in-edges, hub = Σ authority
    * over out-edges, L1-renormalized to `scale` each half-step — on
    * the customer→supplier purchase graph, hub = "buys from the
    * well-bought", authority = "bought by the big buyers", the
    * two-sided importance [[run]]'s single PageRank score conflates.
    *
    * Determinism contract (the [[run]] fixed-point convention): all
    * scores are longs over the DISTINCT edges, hubs start at `scale`,
    * and each half-step sums the previous scores along the edges and
    * renormalizes to `(score·scale) div total` (exact: indeg·scale²
    * exceeds a long). Nodes with no in-edges hold authority 0, no
    * out-edges hub 0; the oracle replays the identical integer chain
    * unrolled. An edge with a null endpoint adds nothing, its other
    * endpoint is still a node, and null is not one. A half-step whose
    * total is 0 (no edge has two endpoints, or `scale` is too small
    * for the node count) fails the call.
    *
    * Scale shape: the edge list is kept. The first half-step is one
    * capped map-side aggregate job in which each edge sends `scale` to
    * its target and 0 to its source, so its keys are the node set and
    * the empty-graph check costs no job. If that job sends the driver
    * at most `broadcastNodeLimit` entries (node keys summed over the
    * partitions, see [[graft.MapSide.combineAtMost]]), the score
    * tables stay on the driver: each later half-step is one job over
    * the kept edges with no exchange, whose partitions send at most
    * the keys the first job's did, and the renormalization runs on the
    * driver in `BigInt`. Otherwise each half-step joins the score
    * table into the kept edges (broadcast while the graph has at most
    * `broadcastNodeLimit` nodes, a shuffle join above) and groups by
    * the other endpoint, then `Materialize.cutObserving` stores the
    * raw scores and observes their total in the same job, and the
    * renormalization is a lazy `decimal(38,0)` projection over the
    * cut, so the join and aggregate run once per half-step.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, scale: Long = 1000000000L,
      broadcastNodeLimit: Long = 10000000L): DataFrame =
      Materialize.scoped { keep =>
    require(iters >= 1 && iters <= 100, s"iters=$iters out of [1,100]")
    val e = keep(edges.select(col(srcCol).as("__src"),
      col(dstCol).as("__dst")).distinct())
    MapSide.combineAtMost(e.rdd, broadcastNodeLimit, plus) { r =>
      val (u, v) = (r.get(0), r.get(1))
      Iterator(u -> 0L, v -> (if (u == null) 0L else scale))
        .filter(_._1 != null)
    } match {
      case Some(a0) => hitsOnDriver(e, a0, iters, scale)
      case None => hitsRelational(e, keep, iters, scale, broadcastNodeLimit)
    }
  }

  private def requirePositive(total: BigInt): Unit =
    require(total > 0, "HITS scores sum to 0: no edge has two non-null " +
      "endpoints, or `scale` is below the node count")

  /** [[hits]] on driver-held score tables, given the raw authorities
    * of the first half-step.
    */
  private def hitsOnDriver(e: DataFrame, a0: Map[Any, Long], iters: Int,
      scale: Long): DataFrame = {
    require(a0.nonEmpty, "empty graph")
    def renorm(raw: Map[Any, Long]): Map[Any, Long] = {
      val total = BigInt(raw.values.sum)
      requirePositive(total)
      raw.map { case (k, x) => k -> (BigInt(x) * scale / total).toLong }
    }
    var auths = renorm(a0)
    var hubs = renorm(sumAlong(e, auths, 1, 0))
    for (_ <- 2 to iters) {
      auths = renorm(sumAlong(e, hubs, 0, 1))
      hubs = renorm(sumAlong(e, auths, 1, 0))
    }
    val hitsSchema = StructType(Seq(nodeColumn(e).schema.head,
      StructField("hub", LongType), StructField("authority", LongType)))
    e.sparkSession.createDataFrame(a0.keys.toSeq.map { v =>
      Row(v, hubs.getOrElse(v, 0L), auths.getOrElse(v, 0L))
    }.asJava, hitsSchema)
  }

  /** [[hits]] when the first half-step sent the driver too much: the
    * relational loop. The score table is still broadcast into the
    * edges while the graph has at most `broadcastNodeLimit` nodes
    * (spread over many partitions, it can send more entries than
    * that).
    */
  private def hitsRelational(e: DataFrame, keep: Materialize.Keep,
      iters: Int, scale: Long, broadcastNodeLimit: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val nodes = keep(nodeColumn(e).distinct())
    val bcastScores = nodes.count() <= broadcastNodeLimit
    def scoreSide(df: DataFrame): DataFrame =
      if (bcastScores) broadcast(df) else df
    def renormLit(raw: DataFrame, c: String, tot: Long): DataFrame = {
      requirePositive(tot)
      raw.select($"node", expr(
        s"cast((cast($c as $dec) * ${scale}L) div cast(${tot}L as $dec) " +
          s"as bigint)").as(c))
    }

    var hubs = Materialize.cut(nodes.select($"node", lit(scale).as("hub")))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      val (aRaw, aTot) = Materialize.cutObserving(nodes.join(
        e.join(scoreSide(hubs), $"__src" === $"node")
          .groupBy($"__dst").agg(sum($"hub").as("__a"))
          .select($"__dst".as("node"), $"__a"),
        Seq("node"), "left")
        .select($"node", coalesce($"__a", lit(0L)).as("auth")),
        sum($"auth"))
      auths = renormLit(aRaw, "auth", aTot)
      val (hRaw, hTot) = Materialize.cutObserving(nodes.join(
        e.join(scoreSide(auths), $"__dst" === $"node")
          .groupBy($"__src").agg(sum($"auth").as("__h"))
          .select($"__src".as("node"), $"__h"),
        Seq("node"), "left")
        .select($"node", coalesce($"__h", lit(0L)).as("hub")),
        sum($"hub"))
      hubs = renormLit(hRaw, "hub", hTot)
    }
    hubs.join(auths, Seq("node"))
      .select($"node", $"hub", $"auth".as("authority"))
  }

  /** Σ of `scores` along every kept edge, from its endpoint at column
    * `from` to the one at `to`: one map-side aggregate job whose
    * closures read only a broadcast of `scores`. An endpoint with no
    * score sends nothing, and nothing is sent to a null endpoint.
    */
  private def sumAlong(e: DataFrame, scores: Map[Any, Long], from: Int,
      to: Int): Map[Any, Long] = {
    val b = e.sparkSession.sparkContext.broadcast(scores)
    try MapSide.combine(e.rdd, plus) { r =>
      Option(r.get(to)).flatMap(v => b.value.get(r.get(from)).map(v -> _))
    } finally b.destroy()
  }

  /** Every endpoint of the kept edges as one `node` column (the
    * union's type), duplicates kept.
    */
  private def nodeColumn(e: DataFrame): DataFrame =
    e.select(col("__src").as("node")).union(e.select(col("__dst").as("node")))
}
