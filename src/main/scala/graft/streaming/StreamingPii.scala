package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Privacy

/** Streaming face of X384 ([[Privacy.piiScan]]): a running PII
  * census over an unbounded document stream — the release gate that
  * answers "is the feed leaking emails/phones/IPs/SSNs, and is the
  * rate rising" WHILE the corpus ingests, instead of at export time.
  * Per micro-batch the distributed pass runs the same scan-stage
  * regex counters as the batch operator and folds them to one row;
  * the driver adds the row into its cumulative census. Counts are
  * additive integers, so the cumulative census equals the batch
  * operator over the whole prefix EXACTLY (the parity spec asserts
  * equality, not a tolerance).
  *
  * Driver state: six longs — independent of stream length.
  */
object StreamingPii {

  final case class Census(nDocs: Long, nFlagged: Long, nEmails: Long,
      nPhones: Long, nIpv4: Long, nSsn: Long) {
    def piiRate: Double =
      if (nDocs == 0) 0.0 else nFlagged.toDouble / nDocs
  }

  /** State: census field index → count. */
  final class Tracker extends DriverTracker[Int, Long](_ + _) {

    /** Merge one micro-batch of (docCol, textCol) rows. */
    def update(batch: DataFrame, docCol: String, textCol: String)
        : Unit = {
      val sums = Seq(count(lit(1)),
        sum(when(col("has_pii"), 1L).otherwise(0L)), sum(col("n_emails")),
        sum(col("n_phones")), sum(col("n_ipv4")), sum(col("n_ssn")))
        .map(_.cast("long"))
      fold(Privacy.piiScan(batch, docCol, textCol)
        .agg(sums.head, sums.tail: _*))(DriverTracker.cells)
    }

    def current: Census = {
      val Seq(d, f, e, p, i, s) = (0 until 6).map(state.getOrElse(_, 0L))
      Census(d, f, e, p, i, s)
    }
  }
}
