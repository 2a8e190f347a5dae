package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive content hash of a query result, computed the same way
  * as `perfbench/expectations.py` computes it over the DuckDB oracle's
  * rows. Columns are taken in name order; each cell is rendered to a
  * canonical string; each row is MD5-hashed and the first 8 bytes are
  * summed modulo 2^64, so row order does not matter but multiplicity does.
  * A date renders as its midnight (UTC) timestamp: the engines disagree on
  * whether `date_trunc('day', ts)` is a date or a timestamp, and the
  * registry's oracle gate compares the two as equal.
  */
object Check {

  final case class Digest(rows: Long, hash: String, columns: Seq[String])

  final case class Expected(rows: Long, hash: String, columns: Seq[String])

  def cell(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Boolean => if (b) "b:1" else "b:0"
    case x: java.lang.Byte => "i:" + x.longValue
    case x: java.lang.Short => "i:" + x.longValue
    case x: java.lang.Integer => "i:" + x.longValue
    case x: java.lang.Long => "i:" + x
    case x: java.lang.Float => dbl(x.doubleValue)
    case x: java.lang.Double => dbl(x)
    case x: java.math.BigDecimal => "m:" + dec(x)
    case x: scala.math.BigDecimal => "m:" + dec(x.bigDecimal)
    case x: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant =>
      "t:" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      cell(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => cell(x.toLocalDate)
    case x: java.time.LocalDate => "t:" + x.toEpochDay * 86400000000L
    case x: String => "s:" + x
    case x: Array[Byte] => "x:" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: Row => x.toSeq.map(cell).mkString("{", ",", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, vv) => cell(k) + ":" + cell(vv) }.sorted
        .mkString("<", ",", ">")
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ",", "]")
    case x => "?" + x.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "f:nan"
    else "f:" + f"${java.lang.Double.doubleToLongBits(d)}%016x"

  private def dec(x: java.math.BigDecimal): String =
    if (x.signum == 0) "0" else x.stripTrailingZeros.toPlainString

  def rowHash(canonical: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def digest(schema: StructType, rows: Array[Row]): Digest = {
    val names = schema.fieldNames.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => cell(r.get(i))).mkString("\u001f"))
    }
    Digest(rows.length, f"$sum%016x", names.sorted)
  }

  /** Mismatch description, or None when the digest meets expectation. */
  def compare(name: String, got: Digest, exp: Expected): Option[String] =
    if (got.columns != exp.columns)
      Some(s"$name: columns ${got.columns.mkString(",")} != " +
        exp.columns.mkString(","))
    else if (got.rows != exp.rows)
      Some(s"$name: ${got.rows} rows, expected ${exp.rows}")
    else if (got.hash != exp.hash)
      Some(s"$name: content hash ${got.hash} != ${exp.hash}")
    else None

  /** Reads `expectations.json` ({"queries": {name: {rows, hash, columns}}}). */
  def load(path: String): Map[String, Expected] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("queries")
    root.fieldNames().asScala.map { n =>
      val q = root.get(n)
      n -> Expected(q.get("rows").asLong, q.get("hash").asText,
        q.get("columns").elements().asScala.map(_.asText).toSeq)
    }.toMap
  }
}
