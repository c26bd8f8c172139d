package graft

/** Per-query wall-time bench over SPARK_GRAFT_SF_DIR. Each query runs
  * once as warmup (Janino codegen compilation + JIT dominate a cold
  * first run and amortize to zero at production scale), then — with
  * the catalog cache cleared before every pass so operator-internal
  * caches don't turn the measurement into a cache read — several timed
  * passes, reporting the minimum. The host VM shows bimodal
  * CPU-steal-like noise (the same query has measured 13s and 55s in
  * adjacent runs); for a deterministic workload the minimum over
  * repeated runs is the unbiased estimate of true warm cost, while a
  * single sample can land entirely inside a noise window.
  */
object Bench {

  /** Runs `df`'s physical plan in full and returns its row count.
    * Dataset.count() is NOT a safe work-forcer: Catalyst's
    * OptimizeOneRowPlan knows a plan ending in a bare global
    * aggregate returns exactly one row, so count() constant-folds
    * to a literal and the plan NEVER EXECUTES — every one-row
    * statistic query was benching plan-compile time only (caught
    * r10: q_hubness "0.26 s" vs 45 s of real execution at sf0.1).
    * toRdd.count() counts the physical plan's own output rows.
    */
  def force(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession(cpus)
    // Optional comma-separated subset for local iteration, e.g.
    // SPARK_GRAFT_ONLY=q_knn_lsh,q_knn_ivf — full run when unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    // 5 timed passes by default, CLAMPED to a floor of 3: the host
    // VM's bimodal noise windows (see scaladoc) produced phantom
    // >=2x per-query excursions in every single-shot board (27 false
    // flags in the r11 driver run alone, all contradicted by a
    // same-HEAD min-of-5 board) — a single sample is never
    // floor-comparable, so min-of-N is the only mode this harness
    // emits. Every pass time is also emitted (stderr + the JSON
    // artifact's "passes" field) so any future flag self-adjudicates.
    val requestedRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt
    val timedRuns = math.max(3, requestedRuns)
    if (timedRuns != requestedRuns)
      System.err.println(s"[bench] SPARK_GRAFT_RUNS=$requestedRuns " +
        s"clamped to $timedRuns: single-shot timings are not " +
        "floor-comparable on this host (bimodal noise)")
    // 4 decimals (0.1 ms) keeps the summary line ~3× shorter than raw
    // double repr — the r3 driver tail truncated the full-width line
    def fmt(v: Double): String = f"$v%.4f"
    // Host-drift calibration: a FIXED data-independent CPU probe
    // (integer fold over spark.range — no IO, no shuffle variance)
    // timed min-of-3 at board start, middle and end. A contended or
    // in-session-degrading host shows mid/end ratios >> 1 vs start,
    // so a slow board SELF-LABELS as environmental instead of
    // manufacturing per-query >=2x flags (29 such flags in the r12
    // driver run, all contradicted by a same-HEAD idle-host board).
    def calibrate(): Double = {
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0L, 64000000L, 1L, cpus.toInt)
          .selectExpr("sum(id * 2654435761 % 1000003)")
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    calibrate() // warmup: the probe's own codegen+JIT would otherwise
                // inflate the start sample and UNDERSTATE drift
    val calStart = calibrate()
    val querySeq = selected.toSeq
    val midAt = querySeq.length / 2
    var calMid = calStart // overwritten at the halfway mark below
    val results = querySeq.zipWithIndex.map { case ((name, fn), qi) =>
      if (querySeq.length > 1 && qi == midAt) calMid = calibrate()
      val passes: Seq[Double] = try {
        force(fn(spark, sfDir)) // warmup: codegen + JIT
        (1 to timedRuns).map { _ =>
          Materialize.releaseAll(spark) // each timed run must recompute
          val t0 = System.nanoTime()
          force(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
      } catch { case _: Throwable => Seq(-1.0) }
      Materialize.releaseAll(spark)
      val t = passes.min
      // per-query progress on stderr: even if the driver's stdout tail
      // truncates the summary line, every timing already exists here —
      // including the full pass list, so excursions self-adjudicate
      System.err.println(f"[bench] $name%-28s $t%.4f s  passes=[" +
        passes.map(fmt).mkString(",") + "]")
      name -> passes
    }
    val calEnd = calibrate()
    val drift =
      s""""host_drift":{"start":${fmt(calStart)},"mid":${fmt(calMid)},""" +
      s""""end":${fmt(calEnd)},"ratio":${
        fmt(math.max(calMid, calEnd) / math.max(calStart, 1e-9))}}"""
    System.err.println(s"[bench] $drift")
    val mins = results.map { case (k, ps) => k -> ps.min }.toMap
    val qs = mins.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = mins.values.filter(_ >= 0).sum
    // a failed query reads -1 in "queries" and is left out of the
    // total, so it is also named here: a crash must not pass for speed
    val failed = mins.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .toSeq.sorted.mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$timedRuns,$drift,"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    // the persisted artifact additionally carries every pass time —
    // stdout keeps the compact driver-contract line (long lines have
    // been tail-truncated by the driver before)
    val passesJson = results.map { case (k, ps) =>
      "\"" + k + "\":[" + ps.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val fileLine = line.stripSuffix("}") + s""","passes":$passesJson}"""
    // belt and braces vs stdout-tail truncation: persist the line too
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (fileLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
