package graft.sources

import org.apache.spark.sql.types._

import graft.core.RubyStrftime

/** Value → serialized string, one field of the reference's
  * `serializable_hash` shape (`in_sql.rb:87-96, 141`): the keyset resume
  * value is taken from THIS serialized form, so timestamps resume from
  * their formatted string. */
object Serialize {

  /** Zone used for driver-side timestamp rendering — must agree with the
    * Spark-side `date_format` path (which uses the session timezone), or
    * resume boundaries diverge between driver- and executor-serialized
    * values at page boundaries. */
  private def sessionZone: java.time.ZoneId =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(s => java.time.ZoneId.of(s.conf.get("spark.sql.session.timeZone")))
      .getOrElse(java.time.ZoneOffset.UTC)

  /** Serialize ONE external value (a collected scalar — an offset boundary,
    * a sub-range cut) to its resume-string form: the same rendering the
    * event shape applies per record field (`KeysetRangeReader`), so a
    * boundary serialized from an aggregate is byte-identical to the
    * record's own field. */
  def valueToString(dt: DataType, v: Any,
                    rubyTimeFormat: String = RubyStrftime.DefaultRubyFormat): String =
    dt match {
      case TimestampType =>
        val fmt = formatter(rubyTimeFormat)
        v match {
          case t: java.sql.Timestamp  => fmt.format(t.toInstant)
          case i: java.time.Instant   => fmt.format(i)
          case other                  => fmt.format(java.time.Instant.parse(other.toString))
        }
      case _ => v.toString
    }

  /** Whether `s` reads back as a value of `dt` — the inverse of
    * [[valueToString]]: timestamps through the same formatter, dates and
    * numbers through their string form, every other type always. */
  def parses(dt: DataType, s: String, rubyTimeFormat: String): Boolean =
    scala.util.Try(dt match {
      case TimestampType => formatter(rubyTimeFormat).parse(s)
      case DateType      => java.sql.Date.valueOf(s)
      case LongType | IntegerType | ShortType | ByteType => BigInt(s)
      case FloatType | DoubleType => s.toDouble
      case _: DecimalType => BigDecimal(s)
      case _             => ()
    }).isSuccess

  // Locale.US to match Spark's own DateTimeFormatter locale — month/day
  // NAMES must render identically on both serialization paths
  private def formatter(rubyTimeFormat: String) =
    java.time.format.DateTimeFormatter
      .ofPattern(RubyStrftime.toSparkPattern(rubyTimeFormat), java.util.Locale.US)
      .withZone(sessionZone)
}
