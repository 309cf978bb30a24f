package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampType}

import graft.core.RubyStrftime

/** The reference's one query shape (reference `in_sql.rb:129-135`;
  * SQL form `README.md:34`):
  *
  *   SELECT * FROM t WHERE update_col > \$last ORDER BY update_col ASC LIMIT n
  *
  * Semantics preserved:
  *   - strict `>` on the update column (`in_sql.rb:132`); rows sharing the
  *     boundary value across a LIMIT page are skipped — reference behavior.
  *     An optional unique tiebreak column makes page boundaries exact
  *     (documented divergence, needed for deterministic verification).
  *   - no lower bound on the first poll (`in_sql.rb:131`).
  *   - the resume value is the SERIALIZED string of the last emitted row
  *     (`in_sql.rb:131, 141`): timestamps resume from their formatted string,
  *     round-tripped through a cast — mirrored here by parsing with the
  *     table's time_format before comparing.
  *   - `limit <= 0` disables the LIMIT (`in_sql.rb:52, 135`).
  *
  * Scale notes: the lower-bound filter is a Catalyst `filter` that pushes
  * into the parquet/JDBC scan (min/max row-group skipping ≙ the reference's
  * required index on update_column); `orderBy.limit` plans as
  * TakeOrderedAndProject — no global sort, one reduce of per-partition top-N.
  */
object KeysetScan {

  /** A serialized resume value as a typed Column: timestamps parse with
    * the table's time format, every other type casts. */
  private def typedBound(dt: DataType, serialized: String,
                 rubyTimeFormat: String = RubyStrftime.DefaultRubyFormat): Column =
    dt match {
      case TimestampType =>
        to_timestamp(lit(serialized), RubyStrftime.toSparkPattern(rubyTimeFormat))
      case other => lit(serialized).cast(other)
    }

  def lowerBound(df: DataFrame, updateColumn: String, serialized: String,
                 rubyTimeFormat: String = RubyStrftime.DefaultRubyFormat): Column =
    col(updateColumn) > typedBound(df.schema(updateColumn).dataType, serialized, rubyTimeFormat)

  def scan(df: DataFrame, updateColumn: String, last: Option[String], limit: Int,
           tieBreak: Option[String] = None,
           rubyTimeFormat: String = RubyStrftime.DefaultRubyFormat): DataFrame = {
    val filtered = last match {
      case Some(s) => df.filter(lowerBound(df, updateColumn, s, rubyTimeFormat))
      case None    => df // first poll: emit from the beginning (in_sql.rb:131)
    }
    val order = col(updateColumn).asc +: tieBreak.map(c => col(c).asc).toSeq
    val sorted = filtered.orderBy(order: _*)
    if (limit > 0) sorted.limit(limit) else sorted
  }
}
