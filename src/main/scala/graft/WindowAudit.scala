package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window, Aggregate, Distinct, Generate, Join, GlobalLimit, LocalLimit}

/** Optimization-round tooling (r16, VERDICT r15 item 4): per-query
  * inventory of GLOBAL windows — Window nodes whose partitionSpec is
  * EMPTY, i.e. the sites that at execution log "No Partition Defined
  * for Window operation! Moving all data to a single partition" and at
  * 100 TB serialize one executor. Walks every declared query's
  * OPTIMIZED logical plan. It never runs a query's final plan, but
  * building the DataFrame runs every `Materialize.cut` inside it (one
  * job each), so point SPARK_GRAFT_SF_DIR at the smallest SF.
  *
  * For each global window the audit also reports whether the window's
  * input subtree contains an Aggregate/Distinct below it WITHOUT an
  * intervening Generate/Join that could re-inflate cardinality — the
  * mechanical part of the "bounded aggregate table vs row-scale"
  * classification (the final call per site is made in SCALING.md).
  *
  * Usage: runMain graft.WindowAudit [q1,q2,...]   (default: all)
  * Output: one line per (query, global window) on stdout:
  *   WINAUDIT <query> <n_global> bounded=<true|false> <window summary>
  * Not part of the driver contract.
  */
object WindowAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession(logLevel = "ERROR")
    val names: Seq[String] =
      if (args.nonEmpty && args(0).nonEmpty)
        args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq
    // an Aggregate/Distinct strictly below the window with no
    // Generate/expanding Join on the path bounds the window's input
    // cardinality by the group-key domain, not the corpus row count
    def boundedBelow(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: Distinct => true
      case _: GlobalLimit | _: LocalLimit => true
      case _: Generate => false
      case j: Join => j.children.forall(boundedBelow)
      case other if other.children.isEmpty => false
      case other => other.children.forall(boundedBelow)
    }
    var totalGlobal = 0
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[winaudit] unknown query $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.optimizedPlan
            val globals = plan.collect {
              case w: Window if w.partitionSpec.isEmpty => w
            }
            totalGlobal += globals.size
            if (globals.isEmpty)
              println(s"WINAUDIT $name 0")
            else globals.foreach { w =>
              val summary = w.windowExpressions.map(_.sql)
                .mkString("; ").replaceAll("\\s+", " ").take(180)
              println(s"WINAUDIT $name ${globals.size} " +
                s"bounded=${boundedBelow(w.child)} $summary")
            }
          } catch { case e: Throwable =>
            println(s"WINAUDIT $name ERR ${e.getMessage}")
          }
      }
    }
    System.err.println(s"[winaudit] total global windows: $totalGlobal")
    spark.stop()
  }
}
