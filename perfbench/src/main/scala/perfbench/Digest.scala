package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a query result: columns sorted by name,
  * each row rendered to text with floating-point values rounded to 10
  * significant figures (the oracle comparison's normalization), rows
  * sorted, then SHA-256. Reported as `<rows>:<first 16 hex digits>`. */
object Digest {
  def apply(rows: Array[Row], schema: StructType): String = {
    val cols = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => cols.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString("|").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private val sig10 = new MathContext(10)

  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(sig10).stripTrailingZeros.toPlainString

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
