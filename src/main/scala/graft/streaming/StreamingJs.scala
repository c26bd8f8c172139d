package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.MapSide

/** Streaming face of X150 ([[graft.operators.CorpusOps.jsDivergence]]):
  * the baseline categorical distribution is frozen from a reference
  * snapshot, each micro-batch adds its category counts to the
  * cumulative current histogram, and the JSD is readable after any
  * batch. The COUNT state after N batches is identical to the batch
  * operator's aggregation over the concatenated slices (integers),
  * and the score matches the batch value to far below the round(6)
  * output contract (only double summation ORDER differs;
  * spec-asserted at 1e-9) — the [[StreamingDrift]] contract with
  * JSD's smooth bounded scale instead of PSI's. The baseline and every
  * batch are counted from the per-row category, folded map-side by
  * [[DriverTracker]].
  *
  * Driver state: one long per OBSERVED category (category-bounded,
  * with a loud cap guard — a drifting stream inventing unbounded
  * categories is itself the alarm). The guard runs before the batch
  * is committed, so a rejected batch leaves the state untouched.
  */
object StreamingJs {

  final class Tracker private[StreamingJs] (baseline: Map[String, Long],
      maxCategories: Int) extends DriverTracker[String, Long](_ + _) {

    def update(batch: DataFrame, categoryCol: String): Unit =
      fold(categories(batch, categoryCol))(DriverTracker.tally)

    override protected def validate(next: Map[String, Long]): Unit =
      require(next.size <= maxCategories,
        s"category blow-up: ${next.size} > $maxCategories — " +
          "the stream is inventing categories; investigate upstream")

    /** JSD (nats) of accumulated current vs baseline — the batch
      * operator's exact per-category arithmetic.
      */
    def jsdNats(): Double = {
      val nb = baseline.values.sum.toDouble
      val nc = state.values.sum.toDouble
      val cats = (baseline.keySet ++ state.keySet).toSeq.sorted
      var s = 0.0
      cats.foreach { cat =>
        val cb = baseline.getOrElse(cat, 0L)
        val cc = state.getOrElse(cat, 0L)
        val p = if (nb > 0) cb / nb else 0.0
        val q = if (nc > 0) cc / nc else 0.0
        val m = (p + q) / 2.0
        if (cb > 0L) s += p * math.log(p / m)
        if (cc > 0L) s += q * math.log(q / m)
      }
      s / 2.0
    }

    def jsdBits(): Double = jsdNats() / math.log(2.0)
  }

  /** (category) per row: the category as a string. */
  private def categories(df: DataFrame, categoryCol: String): DataFrame =
    df.select(col(categoryCol).cast("string").as("__cat"))

  /** Freeze the baseline distribution from a reference snapshot. */
  def fitBaseline(reference: DataFrame, categoryCol: String,
      maxCategories: Int = 10000): Tracker = {
    val base = MapSide.combine(categories(reference, categoryCol).rdd,
      (a: Long, b: Long) => a + b)(DriverTracker.tally[String])
    require(base.size <= maxCategories,
      s"baseline has ${base.size} categories > cap $maxCategories")
    new Tracker(base, maxCategories)
  }
}
