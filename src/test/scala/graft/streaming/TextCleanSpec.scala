package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness
import graft.operators.{CorpusOps, LogHistogram}

/** r9 wave 14: X168 streaming quantile tracker, X169 mojibake
  * repair, X170 HTML strip.
  */
class TextCleanSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  test("repairMojibake fixes every table pair, chains within one " +
    "string, and passes clean text through untouched") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "cafÃ© naÃ¯ve?"),        // Ã© -> é (Ã¯ not in table)
      (2L, "itâ€™s â‚¬5 â€¦ fine"),  // ' € …
      (3L, "already clean text"),
      (4L, "GrÃ¶ÃŸe Ã¼ber alles"))   // ö ß ü
      .toDF("id", "t")
    val out = rows.select($"id",
        CorpusOps.repairMojibake($"t").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "café naÃ¯ve?")
    assert(out(2L) == "it's €5 … fine")
    assert(out(3L) == "already clean text")
    assert(out(4L) == "Größe über alles")
  }

  test("stripHtml removes script/style blocks and tags, decodes " +
    "entities exactly once, and collapses whitespace") {
    val s = spark
    import s.implicits._
    val html = "<html><STYLE>b{}</STYLE><body>\n" +
      "<h1 class=\"x\">A &amp; B</h1>" +
      "<script type=\"text/js\">if (1 < 2) {}</script>" +
      "<p>x &lt;tag&gt; &#39;q&#39;&nbsp;end</p>" +
      "<p>double: &amp;lt;</p></body></html>"
    val out = Seq((1L, html)).toDF("id", "t")
      .select(CorpusOps.stripHtml($"t").as("c")).head().getString(0)
    assert(out == "A & B x <tag> 'q' end double: &lt;")
  }

  test("streaming log-histogram tracker: bucket state equals the " +
    "batch build over concatenated batches; quantiles match") {
    val s = spark
    import s.implicits._
    val batches = Seq(
      (1 to 500).map(i => (i * 37L) % 4999L),
      (1 to 300).map(i => (i * 911L) % 50021L),
      Seq(0L, 1L, 2L, 15L))
    val tracker = StreamingLogHistogram.tracker()
    batches.foreach(b => tracker.update(b.map(("s", _)).toDF("k", "v"),
      "v"))
    val whole = LogHistogram.build(
      batches.flatten.map(("s", _)).toDF("k", "v"), "k", "v")
    val wholeMap = whole.collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(tracker.state == wholeMap)
    // quantile readouts equal the batch operator's estimates
    val batchQ = LogHistogram.quantiles(whole, Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getAs[Double]("q") ->
        r.getAs[Double]("estimate")).toMap
    Seq(0.5, 0.9, 0.99).foreach { q =>
      assert(tracker.quantile(q) == batchQ(q), s"q=$q")
    }
  }
}
