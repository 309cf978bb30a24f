package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared, driver-verifiable query: the Spark implementation plus an
  * equivalent DuckDB oracle SQL (None → driver records a rows-only check).
  * Column names/aliases MUST match between the two — the driver sorts
  * columns by name and hash-compares values.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = ""
)

object QueryDef {
  def sql(fn: (SparkSession, String) => DataFrame, oracle: String, doc: String = ""): QueryDef =
    QueryDef(fn, Some(oracle), doc)
}
