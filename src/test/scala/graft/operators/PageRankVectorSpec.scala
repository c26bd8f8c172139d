package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Materialize, SparkEntry, SparkHarness}

/** [[PageRank.hits]] on the driver-held score vector: parity with a
  * plain-Scala integer reference and with the relational loop, the
  * fallback when the partitions would send the driver too much, the
  * job-count law, and results that survive losing every cached block.
  * [[PageRank.run]]'s broadcast and shuffle-join branches are checked
  * against the same kind of reference.
  */
class PageRankVectorSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark
  private val scale = 1000000000L

  // ---- plain-Scala integer references ----------------------------------

  /** HITS over the distinct edges; null is no node, and an edge with a
    * null endpoint adds nothing.
    */
  private def refHits(edges: Seq[(Any, Any)], iters: Int)
      : Map[Any, (Long, Long)] = {
    val es = edges.distinct
    val nodes = es.flatMap { case (u, v) => Seq(u, v) }.filter(_ != null)
      .distinct
    val live = es.filter { case (u, v) => u != null && v != null }
    def renorm(m: Map[Any, Long]): Map[Any, Long] = {
      val total = BigInt(m.values.sum)
      m.map { case (k, x) => k -> (BigInt(x) * scale / total).toLong }
    }
    var hub: Map[Any, Long] = nodes.map(_ -> scale).toMap
    var auth = Map.empty[Any, Long]
    for (_ <- 1 to iters) {
      auth = renorm(nodes.map(v =>
        v -> live.collect { case (u, `v`) => hub(u) }.sum).toMap)
      hub = renorm(nodes.map(u =>
        u -> live.collect { case (`u`, v) => auth(v) }.sum).toMap)
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  /** PageRank with damping 17/20 over every edge (duplicates count).
    * Null is no node: an edge with a null endpoint adds nothing, not
    * even to its source's degree, and its other endpoint is a node.
    */
  private def refRank(edges: Seq[(Any, Any)], iters: Int): Map[Any, Long] = {
    val nodes = edges.flatMap { case (u, v) => Seq(u, v) }.filter(_ != null)
      .distinct
    val live = edges.filter { case (u, v) => u != null && v != null }
    val deg = live.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val n = nodes.size.toLong
    val base = (3L * scale) / (20L * n)
    var rank: Map[Any, Long] = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val sums = live
        .groupMapReduce(_._2)(e => rank(e._1) / deg(e._1))(_ + _)
      rank = nodes.map(v => v -> (base + 17L * sums.getOrElse(v, 0L) / 20L))
        .toMap
    }
    rank
  }

  // ---- seeded random graphs --------------------------------------------

  /** Edges over ids 0..nodes-1 drawn with replacement (duplicates and
    * self-loops happen), plus pure hubs (ids ≥ 1000, sources only) and
    * pure authorities (ids ≥ 2000, targets only), and `nulls` edges
    * with one null endpoint.
    */
  private def graph(seed: Int, nodes: Int, edges: Int, nulls: Int)
      : Seq[(Any, Any)] = {
    val r = new Random(seed)
    val core = Seq.fill(edges)((r.nextInt(nodes): Any, r.nextInt(nodes): Any))
    val hubs = (0 until 3).map(i => (1000 + i: Any, r.nextInt(nodes): Any))
    val auths = (0 until 3).map(i => (r.nextInt(nodes): Any, 2000 + i: Any))
    val loops = (0 until 2).map(i => (i: Any, i: Any))
    val nul = (0 until nulls).map { i =>
      if (i % 2 == 0) (r.nextInt(nodes): Any, null) else (null, r.nextInt(nodes): Any)
    }
    r.shuffle(core ++ core.take(edges / 5) ++ hubs ++ auths ++ loops ++ nul)
  }

  /** `edges` as a (src, dst) frame of `t` ids (strings are "n" + id)
    * over 3 partitions, and the same ids as the operators return them.
    */
  private def frame(edges: Seq[(Any, Any)], t: DataType)
      : (DataFrame, Seq[(Any, Any)]) = {
    def id(x: Any): Any = x match {
      case null => null
      case i: Int => if (t == StringType) s"n$i" else i.toLong
    }
    val typed = edges.map { case (u, v) => (id(u), id(v)) }
    val schema = StructType(Seq(StructField("src", t),
      StructField("dst", t)))
    val df = spark.createDataFrame(
      typed.map { case (u, v) => Row(u, v) }.asJava, schema).repartition(3)
    (df, typed)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def hitsMap(df: DataFrame): Map[Any, (Long, Long)] =
    df.collect().map(r => r.get(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def rankMap(df: DataFrame): Map[Any, Long] =
    df.collect().map(r => r.get(0) -> r.getLong(1)).toMap

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The final plan of a collected frame. */
  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  // ---- parity -----------------------------------------------------------

  test("hits equals the integer reference and the relational loop on " +
    "seeded graphs: duplicates, self-loops, pure hubs and authorities, " +
    "long ids, null endpoints") {
    for (seed <- 1 to 4; t <- Seq(StringType, LongType)) {
      val (df, edges) = frame(graph(seed, 25, 80, nulls = seed - 1), t)
      val iters = 1 + seed % 3
      val vector = PageRank.hits(df, "src", "dst", iters = iters)
      val relational = PageRank.hits(df, "src", "dst", iters = iters,
        broadcastNodeLimit = 0L)
      assert(hitsMap(vector) == refHits(edges, iters), s"seed $seed $t")
      assert(rows(vector) == rows(relational), s"seed $seed $t")
      assert(vector.schema == relational.schema)
      assert(!hitsMap(vector).contains(null))
    }
  }

  test("hits keeps an endpoint of a null edge as a node and leaves " +
    "null out; with no edge of two endpoints both branches fail alike") {
    val (df, _) = frame(Seq((1, 2), (3, null), (null, 4)), StringType)
    for (limit <- Seq(0L, 10000000L)) {
      val out = hitsMap(PageRank.hits(df, "src", "dst", iters = 2,
        broadcastNodeLimit = limit))
      assert(out.keySet == Set("n1", "n2", "n3", "n4"), limit)
      assert(out("n1") == ((scale, 0L)) && out("n2") == ((0L, scale)))
      assert(out("n3") == ((0L, 0L)) && out("n4") == ((0L, 0L)))
    }
    val (lone, _) = frame(Seq((1, null)), LongType)
    val messages = Seq(0L, 10000000L).map { limit =>
      intercept[IllegalArgumentException](PageRank.hits(lone, "src", "dst",
        iters = 2, broadcastNodeLimit = limit)).getMessage
    }
    assert(messages.distinct.size == 1, messages)
    assert(messages.head.contains("HITS scores sum to 0"), messages)
  }

  test("hits falls back to the relational loop when its partitions " +
    "would send the driver more than broadcastNodeLimit entries") {
    // 40 distinct edges over 10 nodes, kept in 4 partitions: each
    // partition sees more than 12 / 4 nodes, though 10 <= 12
    val (df, edges) = frame((0 until 10).flatMap(i =>
      (1 to 4).map(d => (i, (i + d) % 10))), LongType)
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val capped = PageRank.hits(df, "src", "dst", iters = 2,
        broadcastNodeLimit = 12L)
      val vector = PageRank.hits(df, "src", "dst", iters = 2,
        broadcastNodeLimit = 40L)
      assert(planOf(capped).contains("ExistingRDD"))
      assert(!planOf(vector).contains("ExistingRDD"))
      assert(planOf(vector).contains("LocalTableScan"))
      assert(rows(capped) == rows(vector))
      assert(hitsMap(vector) == refHits(edges, 2))
    }
  }

  test("PageRank.run equals the integer reference in both its broadcast " +
    "and shuffle-join branches, dangling nodes allowed") {
    // 3 and 4 are nodes whose only edge has a null endpoint
    val nullOnly = Seq[(Any, Any)]((1, 2), (2, 1), (3, null), (null, 4))
    for (seed <- 0 to 4; t <- Seq(StringType, LongType)) {
      val (df, edges) = frame(
        if (seed == 0) nullOnly else graph(seed, 25, 80, nulls = seed - 1), t)
      val iters = if (seed == 0) 3 else 2 * seed - 2
      def pr(limit: Long) = PageRank.run(df, "src", "dst", iters,
        requireNoDangling = false, broadcastNodeLimit = limit)
      val bcast = pr(10000000L)
      assert(rankMap(bcast) == refRank(edges, iters), s"seed $seed $t")
      assert(!rankMap(bcast).contains(null), s"seed $seed $t")
      if (seed == 0) assert(rankMap(bcast).size == 4)
      val shuffled = pr(0L)
      assert(rows(bcast) == rows(shuffled), s"seed $seed $t")
      assert(bcast.schema == shuffled.schema)
    }
  }

  test("PageRank.run on symmetrized graphs equals the reference in both " +
    "branches, and both reject a dangling node") {
    for (seed <- 5 to 7; t <- Seq(StringType, LongType)) {
      val one = graph(seed, 20, 50, nulls = 0)
      val sym = one ++ one.map(_.swap)
      val (df, edges) = frame(sym, t)
      for (symmetric <- Seq(false, true)) {
        def pr(limit: Long) = PageRank.run(df, "src", "dst", 10,
          symmetric = symmetric, broadcastNodeLimit = limit)
        val bcast = pr(10000000L)
        assert(rankMap(bcast) == refRank(edges, 10), s"seed $seed $t")
        assert(rows(bcast) == rows(pr(0L)), s"seed $seed $t")
      }
    }
    // mirrored null edges: 99's only edges are (99, null) and
    // (null, 99), so it is a dangling node under either flag
    for (seed <- 8 to 9; t <- Seq(StringType, LongType)) {
      val one = graph(seed, 20, 50, nulls = 4) :+ ((99, null))
      val (df, edges) = frame(one ++ one.map(_.swap), t)
      val expected = refRank(edges, 4)
      assert(!expected.contains(null) &&
        expected.keys.exists(_.toString.endsWith("99")))
      for (symmetric <- Seq(false, true)) {
        def pr(limit: Long, dangling: Boolean) = PageRank.run(df, "src",
          "dst", 4, symmetric = symmetric, requireNoDangling = !dangling,
          broadcastNodeLimit = limit)
        val bcast = pr(10000000L, dangling = true)
        assert(rankMap(bcast) == expected, s"seed $seed $t $symmetric")
        assert(rows(bcast) == rows(pr(0L, dangling = true)),
          s"seed $seed $t $symmetric")
        val message = intercept[IllegalArgumentException](
          pr(10000000L, dangling = false)).getMessage
        assert(message.contains(": 1 dangling node(s)"), message)
      }
    }
    // the three pure authorities are dangling; null is no node
    val (dangling, _) = frame(Seq((1, 2), (2, 1), (3, 1)) ++
      graph(1, 3, 0, nulls = 1).filter(_._1 != 1000), StringType)
    val messages = Seq(0L, 10000000L).map { limit =>
      intercept[IllegalArgumentException](
        PageRank.run(dangling, "src", "dst", 2, broadcastNodeLimit = limit))
        .getMessage
    }
    assert(messages.distinct.size == 1, messages)
    assert(messages.head.contains(": 3 dangling node(s)"), messages)
  }

  // ---- job-count law ----------------------------------------------------

  /** Jobs `body` runs: (result stage name, which is the call site;
    * shuffle bytes read + written).
    */
  private def jobsOf(body: => Any): Seq[(String, Long)] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[(String, Seq[Int])]
    val shuffle = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs += e.stageInfos.maxBy(_.stageId).name -> e.stageIds
      override def onStageCompleted(e: SparkListenerStageCompleted)
          : Unit = {
        val m = e.stageInfo.taskMetrics
        shuffle(e.stageInfo.stageId) +=
          m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.toSeq.map { case (site, stages) => site -> stages.map(shuffle).sum }
  }

  private def loopJobs(jobs: Seq[(String, Long)]): Seq[(String, Long)] =
    jobs.filter(_._1.contains("MapSide"))

  private def edgeRange: DataFrame =
    spark.range(0L, 400L, 1L, 4)
      .select((col("id") % 37).as("src"), ((col("id") * 7 + 1) % 37).as("dst"))

  test("hits(iters = k): at most 2k + 3 jobs, build plus action, and no " +
    "shuffle once the edge list is kept") {
    for (k <- Seq(1, 3)) {
      val jobs = jobsOf(PageRank.hits(edgeRange, "src", "dst", iters = k)
        .collect())
      assert(jobs.size <= 2 * k + 3, jobs)
      val loop = loopJobs(jobs)
      assert(loop.size == 2 * k, jobs)
      assert(loop.tail.forall(_._2 == 0L), jobs)
    }
  }

  // ---- lost-block law ---------------------------------------------------

  test("q_hits returns the same rows after every cached block is " +
    "dropped between build and action") {
    val dir = "perfbench/data/sf0.001"
    val undisturbed = SparkEntry.queries("q_hits")(spark, dir).collect().toSeq
    Materialize.releaseAll(spark)
    val df = SparkEntry.queries("q_hits")(spark, dir)
    Materialize.releaseAll(spark)
    assert(df.collect().toSeq == undisturbed)
    assert(undisturbed.nonEmpty)
  }
}
