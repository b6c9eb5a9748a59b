package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a query result, by the rule the oracle
  * check uses: columns sorted by name, rows sorted, values compared exactly.
  *
  * Integers of every width share one form, as the oracle check lets int32
  * meet int64. Doubles are compared by their bits (with -0.0 folded into
  * 0.0 and every NaN into one), so the fingerprint is exact to the last
  * digit. The rows are rendered to strings and sorted, then hashed.
  */
object Canon {

  def fingerprint(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(i => schema.fields(i).name).mkString("|")
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("|"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "f:nan"
    else "f:" + java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def value(v: Any): String = v match {
    case null => "n"
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => "d:" + x.stripTrailingZeros.toPlainString
    case x: BigDecimal => "d:" + x.bigDecimal.stripTrailingZeros.toPlainString
    case x: Boolean => "b:" + x
    case x: String => "s:" + x.replace("\\", "\\\\").replace("|", "\\p").replace("\n", "\\n")
    case x: java.sql.Timestamp => "t:" + (x.getTime / 1000) + "." + x.getNanos
    case x: java.time.Instant => "t:" + x.getEpochSecond + "." + x.getNano
    case x: java.sql.Date => "D:" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "D:" + x.toEpochDay
    case x: Array[Byte] => "x:" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => value(k) + "=" + value(w) }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(value).mkString("[", ",", "]")
    case x: Row => (0 until x.length).map(i => value(x.get(i))).mkString("(", ",", ")")
    case x => "o:" + x.toString
  }
}
