package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.{KeysetMultiMicroBatchStream, KeysetMultiOffset, KeysetTailMultiProvider, KeysetTailProvider}

/** Spec-side driver of the keyset tail: builds the stream a format builds at
  * query start, and plays the engine's part (poll, plan, read) by hand. */
object TailHarness {
  /** The stream `format("keyset-tail")` (or `keyset-tail-multi`) builds from
    * `options` — inferSchema, getTable, scan, toMicroBatchStream. */
  def stream(options: Map[String, String], multi: Boolean = false): KeysetMultiMicroBatchStream = {
    SparkSpecBase.session // the providers reflect through the active session
    val provider: TableProvider =
      if (multi) new KeysetTailMultiProvider else new KeysetTailProvider
    val ci = new CaseInsensitiveStringMap(options.asJava)
    provider.getTable(provider.inferSchema(ci), Array.empty, options.asJava)
      .asInstanceOf[SupportsRead].newScanBuilder(ci).build()
      .toMicroBatchStream("unused").asInstanceOf[KeysetMultiMicroBatchStream]
  }

  /** `keyset-tail` options over one Derby/JDBC table. */
  def tail(url: String, dbtable: String, updateColumn: String, maxRowsPerBatch: Int,
           extra: (String, String)*): KeysetMultiMicroBatchStream =
    stream(Map("url" -> url, "dbtable" -> dbtable, "updateColumn" -> updateColumn,
      "maxRowsPerBatch" -> maxRowsPerBatch.toString) ++ extra)

  /** The next offset, as the engine polls it. */
  def poll(s: MicroBatchStream, start: Offset): Offset =
    s.asInstanceOf[KeysetMultiMicroBatchStream].latestOffset(start, ReadLimit.allAvailable())

  /** The single table's boundary in a `keyset-tail` offset. */
  def last(o: Offset): Option[String] = o.asInstanceOf[KeysetMultiOffset].last("last")

  /** A `keyset-tail` offset at boundary `v`. */
  def at(v: Option[String]): KeysetMultiOffset = KeysetMultiOffset(Map("last" -> v))

  /** Each partition's rows, read executor-style through the stream's
    * reader factory (copied: readers reuse nothing, but rows are only
    * valid until the next `next()` by contract). */
  def read(s: MicroBatchStream, parts: Seq[InputPartition]): Seq[Seq[InternalRow]] = {
    val factory = s.createReaderFactory()
    parts.map { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      try while (r.next()) buf += r.get().copy() finally r.close()
      buf.toSeq
    }
  }

  /** One poll from `from`, and the rows of the batch it opens. */
  def batch(s: KeysetMultiMicroBatchStream, from: Offset): (Offset, Seq[InternalRow]) = {
    val to = poll(s, from)
    (to, read(s, s.planInputPartitions(from, to).toSeq).flatten)
  }

  /** `df` as a new table of the database at `url` (Spark's JDBC writer:
    * quoted column names keep their case). */
  def stage(df: DataFrame, url: String, table: String): Unit =
    df.write.mode("overwrite").jdbc(url, table, new java.util.Properties())
}
