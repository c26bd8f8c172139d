package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-free hash of a query result, canonicalized the way the
  * DuckDB oracle compare does it: columns sorted by name, rows
  * sorted, floating point to 9 significant digits.
  */
object Canonical {
  def hash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
      .map(r => cols.indices.map(i => cell(r.get(i))).mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(cols.mkString("\u0001").getBytes("UTF-8"))
    rows.foreach(r => md.update(("\n" + r).getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toString
}
