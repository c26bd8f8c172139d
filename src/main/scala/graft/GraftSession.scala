package graft

import org.apache.spark.sql.SparkSession

/** The one local session the command-line mains (`Bench`, `Verify`,
  * `ScaleBench`, `WindowAudit`, `ExplainPlans`) run on: `local[cpus]`
  * with as many shuffle partitions, the graft extensions, AQE on, the
  * UI off, and a UTC session time zone, so every tool evaluates
  * timestamp expressions in the same zone.
  */
object GraftSession {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: String = "4"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def apply(cpus: String = GraftSession.cpus(),
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
