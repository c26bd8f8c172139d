package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness
import graft.core.{AsrWord, EqualRun, GroupedRun}

/** Reference-exact semantics of merge_with_small_gaps
  * (claude_research_optimal.py:291–305): runs sorted by ai0, grouped
  * while word-gap (nxt.ai0 − prev.ai1) ≤ 2 AND time-gap
  * (asr[nxt.ai0].start − asr[prev.ai1−1].end) ≤ 0.5.
  */
class SessionizeSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private def word(doc: Long, i: Long, start: Double, end: Double) =
    AsrWord(doc, i, s"w$i", s"w$i", start, end, 0.9)

  test("mergeWithSmallGaps groups by dual predicate, 0-based ids") {
    val s = spark
    import s.implicits._
    // words every 0.4s, 0.35s long
    val asr = (0L until 20L).map(i => word(1L, i, i * 0.4, i * 0.4 + 0.35))
    // runs: [0,4) [5,9): word gap 5-4=1<=2, time gap w5.start-w3.end
    //       = 2.0-1.55 = 0.45 <= 0.5 => SAME group
    //       [12,16): word gap 12-9=3 > 2 => NEW group
    //       [17,20): word gap 1, time gap w17.start-w15.end
    //       = 6.8-6.35 = 0.45 => same group as prev
    val runs = Seq(
      EqualRun(1L, 0, 4, 0, 4), EqualRun(1L, 5, 9, 5, 9),
      EqualRun(1L, 12, 16, 12, 16), EqualRun(1L, 17, 20, 17, 20))
    val got = Sessionize.mergeWithSmallGaps(
        runs.toDS(), asr.toDS(), maxGapWords = 2, maxGapTime = 0.5)
      .collect().map(g => (g.ai0, g.group_id)).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 0L), (5L, 0L), (12L, 1L), (17L, 1L)))
  }

  test("time gap alone splits groups even when word gap is small") {
    val s = spark
    import s.implicits._
    // two adjacent-index runs but a 1.0s silence between them:
    // word gap 0 <= 2, but time gap 1.0 > 0.5 -> split
    val asr = (0L until 4L).map(i => word(2L, i, i * 0.5, i * 0.5 + 0.4)) ++
      (4L until 8L).map(i => word(2L, i, 2.9 + (i - 3) * 0.5,
        2.9 + (i - 3) * 0.5 + 0.4))
    val runs = Seq(EqualRun(2L, 0, 4, 0, 4), EqualRun(2L, 4, 8, 4, 8))
    val got = Sessionize.mergeWithSmallGaps(
        runs.toDS(), asr.toDS(), 2, 0.5)
      .collect().map(g => (g.ai0, g.group_id)).sortBy(_._1)
    assert(got.toSeq == Seq((0L, 0L), (4L, 1L)))
  }

  test("bridge: no runs, one run, and a time gap equal to maxGapTime") {
    // binary-exact times: word i spans [0.5·i, 0.5·i + 0.25]
    val ws = (0L until 8L).map(i => word(3L, i, i * 0.5, i * 0.5 + 0.25))
    assert(Sessionize.bridge(Nil, ws, 2, 0.25).isEmpty)
    assert(Sessionize.bridge(Seq(EqualRun(3L, 5, 9, 1, 4)), ws, 2, 0.25) ==
      Seq(GroupedRun(3L, 0L, 5, 9, 1, 4, 0.5, 1.75)))
    // [0,2) then [2,4): word gap 0, time gap w2.start − w1.end = 0.25,
    // exactly maxGapTime → bridged (the split test is `>`); any
    // smaller limit splits
    val runs = Seq(EqualRun(3L, 2, 4, 2, 4), EqualRun(3L, 0, 2, 0, 2))
    def groups(maxGapTime: Double) =
      Sessionize.bridge(runs, ws, 2, maxGapTime).map(g => (g.ai0, g.group_id))
    assert(groups(0.25) == Seq((0L, 0L), (2L, 0L)))
    assert(groups(0.2) == Seq((0L, 0L), (2L, 1L)))
  }
}
