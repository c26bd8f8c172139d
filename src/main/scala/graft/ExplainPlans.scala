package graft

import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Optimization-round tooling: dump `.explain("formatted")` for the
  * named queries to `plans/<tag>/<name>_<suffix>.txt` — the judge
  * checks plan claims in OPTIMIZATION_r*.md against these files.
  *
  * Usage: runMain graft.ExplainPlans <suffix> <q1,q2,...>
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (cores),
  *      SPARK_GRAFT_PLANS_DIR (output dir, default plans/r15).
  * Not part of the `SparkEntry` surface. It never runs a query's final
  * plan, but building the DataFrame runs every `Materialize.cut`
  * inside it (one job each), so point SPARK_GRAFT_SF_DIR at the
  * smallest SF.
  */
object ExplainPlans {

  /** (shuffle, broadcast) exchange nodes of a physical plan and its
    * subqueries, each counted once: the adaptive wrapper and its query
    * stages are unwrapped, and a reused exchange is not counted again.
    */
  def exchangeCounts(plan: SparkPlan): (Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ExplainPlans <suffix> <q1,q2,...>")
    val suffix = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r15")
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] unknown query $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(mode)
            val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
            java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
            val (shuffles, broadcasts) =
              exchangeCounts(df.queryExecution.executedPlan)
            System.err.println(f"[explain] $name%-28s exchanges=$shuffles " +
              s"broadcasts=$broadcasts -> $p")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
