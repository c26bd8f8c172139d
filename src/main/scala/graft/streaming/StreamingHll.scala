package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.Hll

/** Streaming face of X129 ([[graft.operators.Hll]]): running
  * distinct-count estimates per group over an unbounded stream — the
  * [[StreamingHeavyHitters]] layout with an HLL register-max merge
  * instead of a Misra-Gries summary. Per micro-batch the distributed
  * pass decodes `Hll.registerRows`, the per-row (group, register, ρ)
  * projection the batch operator groups over, and
  * [[DriverTracker]]'s map-side fold keeps the max ρ per (group,
  * register). Max is associative AND idempotent, so the cumulative
  * estimate equals the single-pass whole-prefix sketch EXACTLY (the
  * r13 portable-register rewrite removed DataSketches'
  * sparse→dense promotion jitter — the parity spec asserts strict
  * equality now), and tracks the exact count at the configured
  * precision.
  *
  * Driver state: ≤ 2^p (group, register) → ρ entries per group —
  * independent of stream length and of per-group cardinality (the
  * point of HLL).
  */
object StreamingHll {

  final class Tracker(val p: Int = Hll.DefaultP)
      extends DriverTracker[(String, Int), Int](math.max) {

    /** Merge one micro-batch: `batch` must have (groupCol, keyCol). */
    def update(batch: DataFrame, groupCol: String, keyCol: String): Unit =
      fold(Hll.registerRows(batch, groupCol, keyCol, p))(r =>
        Seq((r.get(0).toString, r.getInt(1)) -> r.getInt(2)))

    /** Each group's dense register array (0 where no row landed),
      * built once per batch in `settle` for the state it settles, so
      * reads do not rebuild it.
      */
    @volatile private var dense = (state, Map.empty[String, Array[Int]])

    private def densify(regs: Map[(String, Int), Int])
        : Map[String, Array[Int]] = {
      val out = mutable.HashMap.empty[String, Array[Int]]
      regs.foreach { case ((g, i), rho) =>
        out.getOrElseUpdate(g, new Array[Int](1 << p))(i) = rho
      }
      out.toMap
    }

    override protected def settle(next: Map[(String, Int), Int])
        : Map[(String, Int), Int] = {
      dense = (next, densify(next))
      next
    }

    /** Current per-group estimates (the batch operator's integer
      * estimator, bit-identical to [[Hll.estimateFromRegisters]]). A
      * read between `settle` and the commit of a batch densifies the
      * committed state itself.
      */
    def estimates(): Map[String, Long] = {
      val (settled, regs) = dense
      val current = state
      (if (settled eq current) regs else densify(current)).map {
        case (g, r) => g -> Hll.estimateFromRegisters(r, p)
      }
    }
  }
}
