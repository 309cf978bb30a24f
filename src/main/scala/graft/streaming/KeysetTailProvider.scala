package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.JdbcSource

/** `format("keyset-tail")`: the keyset tail ([[KeysetMultiMicroBatchStream]],
  * see [[KeysetTailMultiProvider]]) over ONE table, emitting that table's
  * typed rows. Its poll, read probe, demotion, rollback, sub-range planning
  * and `Trigger.AvailableNow` run are the multi-table stream's; its offset
  * is the one-entry map `{"last":"v"}`.
  *
  * Options: `url` + `dbtable` (with optional `user`/`password`/`driver`/
  * `sessionInitStatement`), `updateColumn` (required; resolved
  * case-insensitively — Derby et al. upper-case identifiers),
  * `timeFormat` (Ruby strftime, reference default) — the multi stream's
  * `tables.0.*` — plus its `maxRowsPerBatch`, `readFailureDemoteAfter` and
  * `reprobeBackoffStart`.
  */
class KeysetTailProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "keyset-tail"

  /** The table's schema by JDBC reflection. The reference documents an
    * index on the update column as a deployment prerequisite
    * (`README.md:100-102`); without one every poll sorts the remaining
    * table in the database, so its absence is warned here (introspection
    * failures — views, restricted catalogs — stay silent). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = KeysetTailMulti.options(options.asCaseSensitiveMap().asScala.toMap, single = true)
    val t = o.specs.head
    val props = KeysetJdbc.properties(o.connProps)
    val schema = SparkSession.active.read.jdbc(o.url, t.dbtable, props).schema
    val upd = KeysetJdbc.updateColumn(schema, t.updateColumn)
    if (!t.dbtable.trim.startsWith("(") &&
        JdbcSource.hasIndexOn(o.url, t.dbtable, upd, props).contains(false))
      System.err.println(s"[graft.keyset-tail] no index leads with '$upd' on " +
        s"${t.dbtable}: every poll will sort the remaining table in the database " +
        "(README.md:100-102 requires an update-column index)")
    schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KeysetTailTable(
      KeysetTailMulti.options(properties.asScala.toMap, single = true), Some(schema))
}
