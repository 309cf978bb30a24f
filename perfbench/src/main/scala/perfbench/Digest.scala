package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Engine-neutral digest of a query result, computed the same way by
  * `goldens.py` over DuckDB rows: columns sorted by name, row order kept
  * (every benchmarked query ends in ORDER BY on a unique key), and each
  * value in a canonical text form — integers in decimal, every floating or
  * decimal value as the bits of its IEEE double, strings escaped, temporal
  * values as epoch days or microseconds. Equal digests mean the exact
  * equality the repository's oracle check applies. */
object Digest {

  final case class Result(rows: Long, sha256: String)

  def of(df: DataFrame): Result = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => col(s"`$c`")).toIndexedSeq: _*).collect()
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.toSeq.map(value).mkString("|").getBytes(UTF_8))
      md.update('\n'.toByte)
    }
    Result(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private val Special = Set('\\', '|', ',', ':', '[', ']', '(', ')', '{', '}')

  private def escape(s: String): String = s.flatMap {
    case '\n' => "\\n"
    case c if Special(c) => "\\" + c
    case c => c.toString
  }

  private def double(d: Double): String =
    if (d == 0.0) "d0" // -0.0 and 0.0 compare equal in the oracle check
    else "d" + java.lang.Double.doubleToLongBits(d).toString

  private def micros(epochSecond: Long, nano: Int): Long =
    Math.addExact(Math.multiplyExact(epochSecond, 1000000L), (nano / 1000).toLong)

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: BigInt => "i" + x
    case x: java.math.BigInteger => "i" + x
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: java.math.BigDecimal => double(x.doubleValue)
    case x: scala.math.BigDecimal => double(x.toDouble)
    case s: String => "s" + escape(s)
    case t: java.sql.Timestamp =>
      val i = t.toInstant; "t" + micros(i.getEpochSecond, i.getNano)
    case i: java.time.Instant => "t" + micros(i.getEpochSecond, i.getNano)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); "t" + micros(i.getEpochSecond, i.getNano)
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case a: Array[Byte] => "b" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical digest form for ${other.getClass.getName}")
  }
}

/** Golden digests taken once from each query's DuckDB oracle over the
  * benchmark's fixture (`goldens.py` writes them). */
object Goldens {
  private val Entry =
    """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"sha256"\s*:\s*"([0-9a-f]{64})"\s*\}""".r

  def load(path: java.nio.file.Path): Map[String, Digest.Result] =
    Entry.findAllMatchIn(java.nio.file.Files.readString(path))
      .map(m => m.group(1) -> Digest.Result(m.group(2).toLong, m.group(3))).toMap
}
