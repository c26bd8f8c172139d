package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[SortLocalRelation]] gives the rows Spark's own sort gives: each
  * query runs with the rule excluded and with it on, over local rows
  * with nulls, NaN, -0.0 and ties.
  */
class SortLocalRelationSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark
  private val Rule = "graft.SortLocalRelation"

  private lazy val local: DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("g", IntegerType), StructField("x", DoubleType),
      StructField("s", StringType)))
    val xs = Seq[Any](1.5, Double.NaN, -0.0, 0.0, null, -2.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val ss = Seq[Any]("b", null, "a", "B", "", "ä", "a")
    val rows = (0 until 40).map { i =>
      Row(i.toLong, if (i % 7 == 3) null else i % 4, xs(i % xs.size),
        ss(i % ss.size))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def sorts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s: Sort => s }.size

  /** `q`'s rows with the rule excluded and on, and the number of
    * `Sort` nodes each optimized plan kept.
    */
  private def both(q: DataFrame => DataFrame): ((Seq[Row], Int),
      (Seq[Row], Int)) = {
    def run() = { val df = q(local); (df.collect().toSeq, sorts(df)) }
    spark.conf.set("spark.sql.optimizer.excludedRules", Rule)
    val off = try run()
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    (off, run())
  }

  /** (name, sort orders, the key expressions they sort by). */
  private val orders: Seq[(String, Seq[Column], Seq[Column])] = Seq(
    ("x asc", Seq(col("x")), Seq(col("x"))),
    ("x desc", Seq(col("x").desc), Seq(col("x"))),
    ("x asc nulls last", Seq(col("x").asc_nulls_last), Seq(col("x"))),
    ("x desc nulls first", Seq(col("x").desc_nulls_first), Seq(col("x"))),
    ("s asc nulls last, g desc",
      Seq(col("s").asc_nulls_last, col("g").desc), Seq(col("s"), col("g"))),
    ("g desc nulls last, x, s desc",
      Seq(col("g").desc_nulls_last, col("x"), col("s").desc),
      Seq(col("g"), col("x"), col("s"))),
    ("g + id % 3, length(s)",
      Seq(col("g") + col("id") % 3, length(col("s"))),
      Seq(col("g") + col("id") % 3, length(col("s")))))

  private def show(rows: Seq[Row]): Seq[String] = rows.map(_.toString)

  test("with a unique last key, every order gives Spark's rows, also " +
    "under a limit") {
    for ((name, sortBy, _) <- orders) {
      val total = sortBy :+ col("id")
      val ((offRows, offSorts), (onRows, onSorts)) =
        both(_.orderBy(total: _*))
      assert(offSorts == 1 && onSorts == 0, name)
      assert(show(onRows) == show(offRows), name)
      val ((offTop, _), (onTop, _)) = both(_.orderBy(total: _*).limit(5))
      assert(show(onTop) == show(offTop), name)
      assert(show(onTop) == show(onRows.take(5)), name)
    }
  }

  test("with ties, the keys come back in Spark's order and the rows are " +
    "the same multiset") {
    for ((name, sortBy, keys) <- orders) {
      // -0.0 and 0.0 are equal keys: either may come first
      def norm(rows: Seq[Row]) = show(rows).map(_.replace("-0.0", "0.0"))
      val ((offKeys, _), (onKeys, _)) =
        both(_.orderBy(sortBy: _*).select(keys: _*))
      assert(norm(onKeys) == norm(offKeys), name)
      val ((offRows, _), (onRows, onSorts)) = both(_.orderBy(sortBy: _*))
      assert(onSorts == 0, name)
      assert(show(onRows).sorted == show(offRows).sorted, name)
    }
  }

  test("an order by rand(seed) gives Spark's rows, and a sort within " +
    "partitions is left to Spark") {
    // the analyzer pulls rand(7) into a projection, which Spark itself
    // evaluates over the local rows before the sort sees them
    val ((offRows, _), (onRows, _)) = both(_.orderBy(rand(7)))
    assert(show(onRows) == show(offRows))
    assert(sorts(local.sortWithinPartitions(col("x"))) == 1)
  }
}
