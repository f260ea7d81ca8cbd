package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Order-independent content hash of a result, computed on the executors.
  *
  * Each row is encoded canonically (columns in name order, values by the
  * rules in [[encode]]), hashed with SHA-256, and the first 8 bytes are
  * summed mod 2^64 together with a row count. Rows may come back in any
  * order, as in the column-sorted, row-sorted compare of `tools/check.py`.
  * The DuckDB oracle's answers arrive as parquet files and are digested
  * here too, so both sides share this one encoding.
  */
object RowHash {

  final case class Digest(rows: Long, sum: Long, columns: Seq[String]) {
    def render: String =
      s"$rows:${java.lang.Long.toUnsignedString(sum, 16)}:${columns.sorted.mkString(",")}"
  }

  private val Sep = "\u001f"

  /** Canonical text of one value. Doubles and floats are compared by their
    * exact IEEE-754 bits, timestamps by epoch microseconds (the session
    * time zone is UTC), so the encoding is as strict as a typed compare. */
  def encode(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => encodeDouble(x.toDouble)
    case x: Double => encodeDouble(x)
    case x: java.math.BigDecimal => x.toPlainString
    case x: scala.math.BigDecimal => x.bigDecimal.toPlainString
    case s: String => s.replace("\\", "\\\\").replace(Sep, "\\u")
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("b", "", "")
    case r: Row => (0 until r.length).map(i => encode(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => encode(k) + "=" + encode(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(encode).mkString("[", ",", "]")
    case other => other.toString
  }

  private def encodeDouble(x: Double): String =
    if (x.isNaN) "NaN"
    else f"d${java.lang.Double.doubleToRawLongBits(x)}%016x"

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def rowHash(md: MessageDigest, row: Row, order: Array[Int]): Long = {
    val sb = new StringBuilder
    var k = 0
    while (k < order.length) {
      if (k > 0) sb.append(Sep)
      sb.append(encode(row.get(order(k))))
      k += 1
    }
    val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** Runs `df` to completion and returns its digest. The hashing runs as a
    * per-partition map over the query's own plan, so the whole plan
    * executes, as it would into a `noop` sink, and only one small tuple per
    * partition reaches the driver. */
  def digest(df: DataFrame): Digest = {
    val names = df.schema.fieldNames.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2).toArray
    val parts = df.mapPartitions { it: Iterator[Row] =>
      val md = MessageDigest.getInstance("SHA-256")
      var n = 0L
      var sum = 0L
      it.foreach { r => sum += rowHash(md, r, order); n += 1 }
      Iterator.single((n, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum, names)
  }
}
