package graft.plans

import scala.util.Random

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness

/** `token_ngrams` and `multiset_overlap`: hand cases, the interpreted
  * and generated paths agree, and the overlap equals the explode +
  * groupBy count it replaces.
  */
class TokenExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("a", ArrayType(StringType)),
    StructField("b", ArrayType(StringType))))

  /** An RDD-backed frame: local relations would be folded by the
    * optimizer before either execution path runs.
    */
  private def frame(rows: Seq[(Long, Seq[String], Seq[String])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, a, b) => Row(i, a, b) }, 2), schema)

  private val cases = Seq(
    (0L, Seq("a", "b", "c", "d"), Seq("b", "c", "c")),
    (1L, Seq("a", null, "", "b", "c"), Seq("", "a", null)),
    (2L, Seq("日本", "語", "ü", "語"), Seq("語", "語", "ü")),
    (3L, Seq("x"), Seq()),
    (4L, Seq(), Seq("x")),
    (5L, null, Seq("y")),
    (6L, Seq("a", "a", "a", "b"), Seq("a", "a", "b", "b")))

  private def ngrams(c: String, n: Int, sep: String) =
    call_function("token_ngrams", col(c), lit(n), lit(sep))

  private def overlap = call_function("multiset_overlap", col("a"), col("b"))

  private def eval(df: DataFrame): Seq[Row] =
    df.select(col("id"), ngrams("a", 1, "|"), ngrams("a", 2, "|"),
        ngrams("a", 3, ""), ngrams("b", 2, "·"), overlap)
      .orderBy("id").collect().toSeq

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hand cases: n-grams skip null and empty elements; overlap " +
    "counts multiplicity") {
    val got = eval(frame(cases)).map(r => r.getLong(0) -> r).toMap
    def grams(id: Long, i: Int) =
      Option(got(id).getSeq[String](i)).map(_.toList).orNull
    assert(grams(0L, 2) == List("a|b", "b|c", "c|d"))
    assert(grams(0L, 3) == List("abc", "bcd"))
    assert(grams(1L, 1) == List("a", "b", "c"))
    assert(grams(1L, 2) == List("a|b", "b|c"))
    assert(grams(2L, 2) == List("日本|語", "語|ü", "ü|語"))
    assert(grams(2L, 4) == List("語·語", "語·ü"))
    // n larger than the array, and the empty array, give no grams
    assert(grams(3L, 2) == Nil && grams(4L, 1) == Nil)
    assert(grams(3L, 4) == Nil)
    // a null array gives null
    assert(grams(5L, 1) == null && got(5L).isNullAt(5))
    assert(got(0L).getLong(5) == 2L) // b, c
    assert(got(1L).getLong(5) == 2L) // "" and a; nulls skipped
    assert(got(2L).getLong(5) == 3L) // 語 twice, ü once
    assert(got(3L).getLong(5) == 0L && got(4L).getLong(5) == 0L)
    assert(got(6L).getLong(5) == 3L) // a twice, b once
  }

  test("interpreted and generated code give the same results") {
    val rnd = new Random(11)
    val vocab = Vector("a", "b", "", "ü", "日本", "x y", null)
    def arr = if (rnd.nextInt(10) == 0) null
      else Seq.fill(rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
    val df = frame(cases ++ (10L until 60L).map(i => (i, arr, arr)))
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(eval(df))
    val generated = withConf(
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(eval(df))
    assert(interpreted.size == 57)
    assert(interpreted == generated)
  }

  test("multiset_overlap equals an explode + groupBy count") {
    val rnd = new Random(7)
    val vocab = Vector.tabulate(12)(i => if (i % 5 == 0) s"é$i" else s"t$i")
    def arr = Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
    val df = frame((0L until 200L).map(i => (i, arr, arr)))
    def counts(c: String, as: String) =
      df.select(col("id"), explode(col(c)).as("t"))
        .groupBy("id", "t").agg(count(lit(1)).as(as))
    val reference = counts("a", "ca").join(counts("b", "cb"), Seq("id", "t"))
      .groupBy("id").agg(sum(least(col("ca"), col("cb"))).as("ref"))
    val got = df.select(col("id"), overlap.as("k"))
      .join(reference, Seq("id"), "left")
      .select(col("id"), col("k"), coalesce(col("ref"), lit(0L)))
      .collect()
    assert(got.length == 200)
    got.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
    assert(got.exists(_.getLong(1) > 3))
  }

  test("token_ngrams rejects a non-literal or non-positive width") {
    val df = frame(cases)
    intercept[AnalysisException](
      df.select(call_function("token_ngrams", col("a"), lit(0), lit("|")))
        .collect())
    intercept[AnalysisException](
      df.select(call_function("token_ngrams", col("a"),
        col("id").cast("int"), lit("|"))).collect())
  }

  test("usable from spark.sql text") {
    val r = spark.sql(
      "SELECT token_ngrams(split('a b c', ' '), 2, '_') AS g, " +
        "multiset_overlap(split('a a b', ' '), split('a b b', ' ')) AS o")
      .head()
    assert(r.getSeq[String](0) == Seq("a_b", "b_c") && r.getLong(1) == 2L)
  }
}
