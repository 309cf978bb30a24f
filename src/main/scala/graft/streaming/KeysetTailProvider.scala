package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.RubyStrftime
import graft.sources.{JdbcSource, KeysetScan, Serialize}

/** Where a keyset-tail stream reads its rows from. */
sealed trait KeysetReadMode extends Serializable
/** Parquet table directory (the testdata-shaped mode). */
final case class ParquetMode(path: String) extends KeysetReadMode
/** An RDBMS table over JDBC — the reference's ACTUAL scenario
  * (`in_sql.rb:129-135, 188-212`): the keyset page query runs in the
  * database (which has the documented index on the update column,
  * `README.md:100-102`), and each input partition's value sub-range
  * composes into its own pushed-down `WHERE upd > lo AND upd <= hi`
  * executed by the shared [[KeysetRangeReader]] over its OWN executor-side
  * connection. `fetchFirst` selects `FETCH FIRST n ROWS ONLY` for
  * LIMIT-less dialects ([[JdbcSource.fetchFirstDialect]]). `props` carries
  * credentials / driver / sessionInitStatement ([[KeysetJdbc.connOptions]],
  * applied by [[JdbcSource.connect]]). */
final case class JdbcMode(url: String, dbtable: String,
    props: Map[String, String], fetchFirst: Boolean) extends KeysetReadMode

/** Structured Streaming keyset-tail source (`format("keyset-tail")`):
  * the reference's poll loop (`in_sql.rb:129-135, 255-278`) as a DSv2
  * `MicroBatchStream`, over parquet ([[ParquetMode]]) or a live RDBMS
  * ([[JdbcMode]] — the reference's core scenario).
  *
  *   - Offset = the SERIALIZED update-column value of the last emitted row
  *     (mirrors the YAML state file, `in_sql.rb:269-271, 280-307`; timestamps
  *     round-trip through their formatted string, `in_sql.rb:131, 141`).
  *   - Each micro-batch is one keyset page: `upd > last ORDER BY upd LIMIT n`
  *     with `maxRowsPerBatch` ≙ `select_limit` (`<= 0` disables the limit,
  *     `in_sql.rb:52`) and the trigger interval ≙ `select_interval`.
  *   - Offsets commit to the checkpoint log AFTER the batch is processed —
  *     the same at-least-once contract as the reference.
  *
  * NO page row ever materializes on the driver, and the driver's poll state
  * is CONSTANT-SIZE regardless of page size or distinct-value count:
  * `latestOffset` runs ONE distributed aggregation per poll returning
  * (max boundary, row count, ≤ `maxPartitionsPerBatch`−1 equi-height cut
  * candidates via `percentile_approx` — actual row values from the sketch),
  * and `planInputPartitions` reuses that same pass's cuts for the matching
  * (start, end] batch (a replayed batch after restart recomputes them with
  * one equivalent pass). A `limit <= 0` poll over a near-unique update
  * column — the reference's PK default (`in_sql.rb:107-114`) — therefore
  * holds O(`maxPartitionsPerBatch`) values on the driver, never O(rows) or
  * O(distinct). Types `percentile_approx` cannot sketch (e.g. strings)
  * fall back to a deterministic hash-thinned distinct sample bounded at
  * ~8× the cut budget.
  *
  * Cut candidates are EXACT row values kept strictly increasing inside the
  * typed (start, end] interval, so sub-ranges are disjoint and tile the
  * batch exactly; a replayed batch always re-reads the same (start, end]
  * content even if the cut positions differ. Each sub-range's bounds are
  * pushed into ITS OWN read: parquet readers get per-partition
  * `GreaterThan`/`LessThanOrEqual` filters (row-group pruning confines each
  * reader to data that can match — not just the page range); JDBC
  * sub-ranges are [[KeysetRange]]s of the shared JDBC keyset cursor
  * ([[KeysetJdbc]], the same one `keyset-tail-multi` reads through), whose
  * reader composes `upd > lo AND upd <= hi` into the executor-side query
  * the database answers with its index.
  *
  * Options: `path` (parquet mode) OR `url` + `dbtable` (JDBC mode, with
  * optional `user`/`password`/`driver`/`sessionInitStatement`);
  * `updateColumn` (required; resolved case-insensitively — Derby et al.
  * upper-case identifiers), `maxRowsPerBatch` (default 500; `<= 0` reads
  * all available), `timeFormat` (Ruby strftime, reference default),
  * `maxRowsPerPartition` (default 250), `maxPartitionsPerBatch`
  * (default 64 — the driver-state bound).
  */
class KeysetTailProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "keyset-tail"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("url"))
      SparkSession.active.read.jdbc(options.get("url"), options.get("dbtable"),
        KeysetJdbc.properties(options.asCaseSensitiveMap().asScala.toMap)).schema
    else SparkSession.active.read.parquet(options.get("path")).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KeysetTailTable(schema, properties.asScala.toMap)
}

final class KeysetTailTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  private val ci: Map[String, String] = props.map { case (k, v) => k.toLowerCase -> v }
  override def name(): String =
    s"keyset-tail(${ci.getOrElse("path", ci.getOrElse("dbtable", "?"))})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  private def mode: KeysetReadMode = ci.get("url") match {
    case Some(url) =>
      val dbtable = ci.getOrElse("dbtable", sys.error("keyset-tail JDBC mode requires dbtable"))
      JdbcMode(url, dbtable, KeysetJdbc.connOptions(ci), JdbcSource.fetchFirstDialect(url))
    case None => ParquetMode(ci.getOrElse("path",
      sys.error("keyset-tail requires path (parquet) or url+dbtable (JDBC)")))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new KeysetMicroBatchStream(schema, mode,
          ci.getOrElse("updatecolumn", sys.error("keyset-tail requires updateColumn")),
          ci.getOrElse("maxrowsperbatch", "500").toInt,
          ci.getOrElse("timeformat", RubyStrftime.DefaultRubyFormat),
          ci.getOrElse("maxrowsperpartition", "250").toInt,
          ci.getOrElse("maxpartitionsperbatch", "64").toInt)
    }
}

/** Offset = serialized last update-column value (None before the first row).
  * Its JSON is the one-key case of [[KeysetMultiOffset]]'s:
  * `{"last":"v"}` / `{"last":null}`, through the same codec. */
final case class KeysetOffset(last: Option[String]) extends Offset {
  override def json(): String = KeysetOffset.writeJson(Seq("last" -> last))
}
object KeysetOffset {
  /** The one offset codec of both tails: a flat JSON object of string keys
    * to a string or `null`, keys in the given order.
    *
    * The JSON must stay ONE LINE: Spark's offset log is line-oriented, so a
    * raw newline inside a value (legal in a string update column) would
    * corrupt the checkpoint. Control characters are JSON-escaped, and
    * [[parseJson]] unescapes in a single pass (sequential `replace` calls
    * mis-handle adjacent escapes like a literal backslash-n). */
  private[streaming] def writeJson(pairs: Seq[(String, Option[String])]): String =
    pairs.map { case (k, v) =>
      "\"" + escape(k) + "\":" + v.map(s => "\"" + escape(s) + "\"").getOrElse("null")
    }.mkString("{", ",", "}")

  private val Pair =
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(null|\"(?:[^\"\\\\]|\\\\.)*\")".r
  private[streaming] def parseJson(s: String): Map[String, Option[String]] =
    Pair.findAllMatchIn(s).map { m =>
      val v = m.group(2) match {
        case "null" => None
        case quoted => Some(unescape(quoted.substring(1, quoted.length - 1)))
      }
      unescape(m.group(1)) -> v
    }.toMap

  private def escape(v: String): String = {
    val sb = new StringBuilder(v.length + 8)
    v.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.toString
  }
  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' if i + 5 < s.length + 1 && i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case o   => sb.append(o); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
  def fromJson(s: String): KeysetOffset = KeysetOffset(parseJson(s).get("last").flatten)
}

final class KeysetMicroBatchStream(schema: StructType, mode: KeysetReadMode,
    updateColumn: String, maxRowsPerBatch: Int, rubyTimeFormat: String,
    maxRowsPerPartition: Int = 250, maxPartitionsPerBatch: Int = 64)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active
  private val updCol: String = KeysetJdbc.updateColumn(schema, updateColumn)
  private val updType: DataType = schema(updCol).dataType

  // The reference documents an index on the update column as a deployment
  // prerequisite (README.md:100-102). Without one, EVERY poll's page query
  // is a full-table sort in the database — silent and quadratic-ish over a
  // long tail. Warn once at stream construction (the reference's stance is
  // documentation-only, so this is a warning, not an error; introspection
  // failures — views, restricted catalogs — stay silent).
  mode match {
    case JdbcMode(url, dbtable, props, _) if !dbtable.trim.startsWith("(") =>
      if (JdbcSource.hasIndexOn(url, dbtable, updCol,
            KeysetJdbc.properties(props)).contains(false))
        System.err.println(s"[graft.keyset-tail] no index leads with " +
          s"'$updCol' on $dbtable: every poll will sort the remaining table " +
          "in the database (README.md:100-102 requires an update-column index)")
    case _ => ()
  }

  // Config-time %z guard (r12 verdict #8): a timestamp/date update column
  // serialized through a %z-bearing time_format fails on a zone-less
  // dialect only when the FIRST boundary literal re-enters the DB cast —
  // fail at stream construction instead, naming the table and the fix.
  mode match {
    case JdbcMode(url, dbtable, _, _) =>
      KeysetJdbc.guardZoneSuffix(url, dbtable, updCol, updType, rubyTimeFormat)
    case _ => ()
  }

  /** The keyset page `upd > last ORDER BY upd LIMIT n` in the mode's native
    * engine: a Catalyst scan over parquet, or pushed INSIDE the dbtable
    * subquery so the database's index answers it (`JdbcSource.keysetPage`). */
  private def pageDf(last: Option[String], limit: Int): DataFrame = mode match {
    case ParquetMode(path) =>
      KeysetScan.scan(spark.read.schema(schema).parquet(path), updCol, last,
        limit, rubyTimeFormat = rubyTimeFormat)
    case JdbcMode(url, dbtable, props, ff) =>
      JdbcSource.keysetPage(spark, url, dbtable, KeysetJdbc.quote(url, updCol), updType,
        last, limit, KeysetJdbc.properties(props), ff)
  }

  override def initialOffset(): Offset = KeysetOffset(None)
  override def deserializeOffset(json: String): Offset = KeysetOffset.fromJson(json)
  override def commit(end: Offset): Unit = () // checkpoint log is the state store

  override def getDefaultReadLimit: ReadLimit =
    if (maxRowsPerBatch > 0) ReadLimit.maxRows(maxRowsPerBatch)
    else ReadLimit.allAvailable() // limit <= 0 disables paging (in_sql.rb:52)

  /** One poll from the engine-provided committed offset: the serialized
    * boundary of the next page. Stateless — restart-safe by construction
    * (the checkpoint log's offset IS the resume point, like the reference's
    * state file). Unchanged offset → empty poll cycle. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KeysetOffset]
    pollAggregate(s.last, endSer = None) match {
      case Some((boundary, cuts)) =>
        lastPoll = Some((s.last, boundary, cuts))
        KeysetOffset(Some(boundary))
      case None => s
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("uses latestOffset(start, limit)")

  /** The ONE distributed pass per poll's fused result, reused by the
    * subsequent planInputPartitions for the same (start, end] batch:
    * (start offset, serialized boundary, cut candidates). Driver-held size
    * is O(maxPartitionsPerBatch) by construction. */
  @volatile private var lastPoll: Option[(Option[String], String, Vector[Any])] = None

  /** ONE distributed aggregation per poll: the page's max update value
    * (the serialized offset boundary) and its ≤ `maxPartitionsPerBatch`−1
    * equi-height cut candidates, in the same pass. `endSer` bounds a
    * replayed batch's recomputation to its committed (start, end] range.
    * Returns None on an empty page. */
  private def pollAggregate(last: Option[String],
                            endSer: Option[String]): Option[(String, Vector[Any])] = {
    val base = endSer match {
      case None    => pageDf(last, maxRowsPerBatch)
      case Some(e) => // value-delimited replay range (start, end]
        pageDf(last, 0).filter(col(updCol) <= KeysetScan.typedBound(updType, e, rubyTimeFormat))
    }
    val upd = col(updCol)
    val cap = math.max(1, maxPartitionsPerBatch)
    val wantQ = cap > 1 && supportsPercentile(updType)
    val aggCols = Seq(max(upd).as("mx"), count(lit(1L)).as("cnt")) ++
      (if (wantQ)
        Seq(percentile_approx(upd,
          array((1 until cap).map(i => lit(i.toDouble / cap)): _*),
          lit(10000)).as("qs"))
      else Nil)
    val row = base.agg(aggCols.head, aggCols.drop(1): _*).collect().head
    if (row.isNullAt(0)) return None
    val boundary = Serialize.valueToString(updType, row.get(0), rubyTimeFormat)
    val cnt = row.getLong(1)
    val needed = math.min(cap.toLong,
      math.max(1L, (cnt + maxRowsPerPartition - 1) / math.max(1, maxRowsPerPartition))).toInt
    val cuts: Vector[Any] =
      if (needed <= 1) Vector.empty
      else if (wantQ) {
        // cap-1 equi-height values; pick `needed`-balanced interior cuts
        val qs = Option(row.getSeq[Any](2)).getOrElse(Seq.empty).toVector
        if (qs.isEmpty) Vector.empty
        else (1 until needed).map { j =>
          qs(math.min(qs.size - 1, math.max(0, j * cap / needed - 1)))
        }.toVector
      } else sampledCuts(base, cnt, needed)
    Some((boundary, cuts))
  }

  /** percentile_approx's input domain (actual row values come back from the
    * sketch — exactly what a cut must be). */
  private def supportsPercentile(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Cut candidates for types percentile_approx cannot sketch (e.g. string
    * update columns): a DETERMINISTIC hash-thinned distinct sample —
    * expected size ~8× the cut budget, never O(distinct) on the driver —
    * then balanced picks. Cuts only steer partition balance; batch content
    * is exact regardless (sub-ranges tile (start, end] by construction). */
  private def sampledCuts(base: DataFrame, cnt: Long, needed: Int): Vector[Any] = {
    val budget = 8L * math.max(1, needed)
    val m = math.max(1L, cnt / budget)
    val sample = base.select(col(updCol))
      .where(col(updCol).isNotNull && pmod(abs(xxhash64(col(updCol))), lit(m)) === 0)
      .distinct().orderBy(col(updCol))
      .limit(2 * budget.toInt) // hard driver bound even under hash skew
      .collect().map(_.get(0)).toVector
    if (sample.isEmpty) Vector.empty
    else (1 until needed).map { j =>
      sample(math.min(sample.size - 1, j * sample.size / needed))
    }.toVector.distinct
  }

  /** Parse a serialized boundary to its EXTERNAL typed value with the same
    * expression `KeysetScan.lowerBound` filters with (to_timestamp with the
    * table's time format for timestamps, a cast otherwise) — evaluated over
    * a LOCAL one-row relation (LocalTableScan, whose executeTake answers on
    * the driver), so no Spark job runs and parity is exact. */
  private def parseExternal(serialized: String): Any = {
    val bound = KeysetScan.typedBound(updType, serialized, rubyTimeFormat)
    val oneRow = spark.createDataFrame(
      java.util.Collections.singletonList(Row(1)),
      StructType(Seq(StructField("one", IntegerType))))
    oneRow.select(bound.as("v")).head.get(0)
  }

  /** [[parseExternal]] with fail-loud context: an unparseable boundary —
    * null under legacy parsing, a thrown CANNOT_PARSE_* under ANSI — is
    * re-raised naming WHICH boundary and the likely cause. A silently
    * dropped START offset would otherwise replay the table from the
    * beginning (e.g. a checkpoint written under a different timeFormat). */
  private def parseBoundary(which: String, v: String): Any = {
    def fail(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"keyset-tail: $which '$v' does not parse as $updType " +
          "(checkpoint written under a different timeFormat?)", cause)
    val p = try parseExternal(v) catch { case scala.util.control.NonFatal(e) => fail(e) }
    if (p == null) fail(null)
    p
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KeysetOffset]
    val e = end.asInstanceOf[KeysetOffset]
    if (s == e || e.last.isEmpty) return Array.empty
    val hiExt = parseBoundary("end boundary", e.last.get)
    val loExt: Option[Any] = s.last.map(parseBoundary("start offset", _))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(updType)
    val ord = TypeUtils.getInterpretedOrdering(updType)
    val hiInt = toInternal(hiExt)
    val loInt = loExt.map(toInternal)
    // Cut candidates: the fused poll pass computed them alongside the
    // boundary; a batch planned without that pass in memory (restart
    // replay) recomputes them with one equivalent bounded aggregation.
    val cutsExt: Vector[Any] = lastPoll match {
      case Some((ls, le, cuts)) if ls == s.last && le == e.last.get => cuts
      case _ => pollAggregate(s.last, endSer = Some(e.last.get)).map(_._2).getOrElse(Vector.empty)
    }
    // exact row values, strictly increasing, strictly inside (lo, hi):
    // disjoint sub-ranges that tile the batch exactly even when ties or
    // coarse time formats collapse cuts
    val interior: Vector[(Any, Any)] = cutsExt.filter(_ != null)
      .map(c => (c, toInternal(c)))
      .foldLeft(Vector.empty[(Any, Any)]) { case (acc, (ce, ci)) =>
        val inRange = loInt.forall(l => ord.gt(ci, l)) && ord.lt(ci, hiInt)
        if (inRange && (acc.isEmpty || ord.gt(ci, acc.last._2))) acc :+ ((ce, ci)) else acc
      }
    mode match {
      case ParquetMode(path) =>
        // Each sub-range gets its OWN read function with ITS bounds pushed
        // down — row-group pruning confines each reader to files/groups
        // that can match its (lo, hi], not just the page range.
        val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
        val files = spark.read.schema(schema).parquet(path).inputFiles.toSeq.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val st = p.getFileSystem(hadoopConf).getFileStatus(p)
          (f, st.getLen, st.getModificationTime)
        }
        val hisExt = interior.map(_._1) :+ hiExt
        val hisInt = interior.map(_._2) :+ hiInt
        val losExt = loExt +: hisExt.init.map(Some(_))
        val losInt = loInt +: hisInt.init.map(Some(_))
        hisExt.indices.map { i =>
          val pushed: Seq[Filter] =
            losExt(i).map(v => GreaterThan(updCol, v)).toSeq :+
              LessThanOrEqual(updCol, hisExt(i))
          val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
            spark, schema, StructType(Nil), schema, pushed,
            Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf)
          KeysetRangePartition(files, losInt(i), hisInt(i), readFunc): InputPartition
        }.toArray
      case JdbcMode(url, dbtable, props, _) =>
        // JDBC readers filter in the DATABASE's comparison space, so bounds
        // travel as serialized strings (the same literal form the page
        // query pushes, `JdbcSource.keysetPage`). A coarse time format can
        // collapse a cut's round-trip — re-parse each serialized cut and
        // keep only those still strictly increasing inside (start, end];
        // dropped cuts cost balance, never content.
        val serCuts = interior.map(p => Serialize.valueToString(updType, p._1, rubyTimeFormat))
          .foldLeft(Vector.empty[(String, Any)]) { (acc, sc) =>
            // a cut whose round-trip fails to parse is DROPPED (balance-only
            // cost), unlike the batch boundaries which must fail loudly
            val pe = scala.util.Try(parseExternal(sc)).getOrElse(null)
            val pi = if (pe == null) null else toInternal(pe)
            val ok = pi != null &&
              loInt.forall(l => ord.gt(pi, l)) && ord.lt(pi, hiInt) &&
              acc.lastOption.forall(prev => ord.gt(pi, prev._2))
            if (ok) acc :+ ((sc, pi)) else acc
          }.map(_._1)
        val his = serCuts :+ e.last.get
        val los: Vector[Option[String]] = s.last +: his.init.map(Some(_))
        los.zip(his).map { case (lo, hi) =>
          KeysetJdbc.range(url, dbtable, props, schema, updCol, lo, hi): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KeysetReaderFactory(schema, updCol)

  override def stop(): Unit = ()
}

/** A value sub-range of one micro-batch: `(lo, hi]` in the update column's
  * INTERNAL type (micros Long for timestamps, UTF8String for strings, …)
  * plus the table's file inventory and this sub-range's parquet read
  * function (bounds pushed down). Carries NO rows — the reader fetches
  * them executor-side. */
final case class KeysetRangePartition(
    files: Seq[(String, Long, Long)],
    lo: Option[Any], hi: Any,
    readFunc: PartitionedFile => Iterator[InternalRow]) extends InputPartition

/** Executor-side readers: parquet sub-ranges scan the table's files through
  * the shipped read function (vectorized, sub-range row-group pruning) and
  * re-filter per record for exactness; JDBC sub-ranges are read by the
  * shared [[KeysetRangeReader]] (typed shape). Iterators auto-close at
  * exhaustion; rows follow the DSv2 contract (valid until next `next()`). */
final class KeysetReaderFactory(schema: StructType, updateColumn: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: KeysetRangePartition => parquetReader(p)
      case p: KeysetRange          => new KeysetRangeReader(p)
    }

  private def parquetReader(p: KeysetRangePartition): PartitionReader[InternalRow] = {
    val ordinal = schema.fieldIndex(updateColumn)
    val dt = schema(updateColumn).dataType
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val it = p.files.iterator.flatMap { case (f, len, mod) =>
      p.readFunc(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f),
        0L, len, Array.empty[String], mod, len))
    }.filter { row =>
      !row.isNullAt(ordinal) && {
        val v = row.get(ordinal, dt)
        p.lo.forall(l => ord.gt(v, l)) && ord.lteq(v, p.hi)
      }
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        val h = it.hasNext
        if (h) current = it.next()
        h
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
