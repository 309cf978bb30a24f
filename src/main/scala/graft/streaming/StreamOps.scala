package graft.streaming

import graft.core.Materialize.StageOps
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.reflect.runtime.universe.TypeTag

/** Event-time streaming operators over the keyset tail (or any streaming
  * DataFrame): the windowing surface the reference never had (its event time
  * is extracted, `in_sql.rb:143-148`, but never windowed — SURVEY §2.2).
  *
  * All operators are watermark-bounded so state is finite at 100 TB/day
  * rates: Spark drops per-window state once the watermark passes, and the
  * same code runs unchanged in batch mode (watermark becomes a no-op),
  * which is how the specs assert stream==batch parity.
  */
object StreamOps {

  /** Tumbling event-time counts/sums per window × event type.
    * Late rows beyond `watermarkDelay` are dropped, bounding state. */
  def tumblingAgg(events: DataFrame, tsCol: String, watermarkDelay: String,
                  windowDur: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double").as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n_events"),
        col("total_value"))

  /** Streaming twin of [[graft.ops.Stats.welchTTest]]: per tumbling
    * event-time window x event_type, the same portable hash-arm split,
    * the same exact decimal moment accumulators (all mergeable partial
    * aggregates — counts + power sums, constant state per window x type x
    * arm), and the same t / Satterthwaite-df expression. The live A/B
    * readout: a window's verdict is final once the watermark closes it. */
  def abTestStream(events: DataFrame, tsCol: String, watermarkDelay: String,
                   windowDur: String): DataFrame = {
    val armed = events.withColumn("arm", graft.ops.Stats.hashBucket(col("user_id"), 2))
    val aggs = graft.ops.Stats.welchAggs("arm", "value")
    armed.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(graft.ops.Stats.welchSelect(
        Seq(col("w.start").as("w_start"), col("event_type"))): _*)
  }

  /** Windowed approximate-distinct via the mergeable KMV sketch
    * (`graft.ops.Sketch.KmvAgg`): per tumbling window, estimate distinct
    * `keyCol` values. Mergeability is exactly what streaming needs — each
    * micro-batch folds its partial bottom-k into the window's state, and
    * the emitted estimate equals the batch computation over the same rows
    * (asserted stream==batch in StreamOpsSpec). */
  def tumblingKmvDistinct(events: DataFrame, tsCol: String, watermarkDelay: String,
                          windowDur: String, keyCol: String, k: Int = 64): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      // COUNT(DISTINCT) semantics: null keys don't count (and would crash
      // the Aggregator's primitive Long input encoder)
      .filter(col(keyCol).isNotNull)
      .select(col(tsCol), graft.ops.Sketch.portableUnitHashLong(col(keyCol)).as("h"))
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(org.apache.spark.sql.functions.udaf(new graft.ops.Sketch.KmvAgg(k))
        .apply(col("h")).as("est_distinct"))
      .select(col("w.start").as("w_start"), col("est_distinct"))

  /** Windowed count-min cells (`graft.ops.Sketch.cmCell`): per tumbling
    * window, the depth×width frequency-sketch cell table over `keyCol`.
    * Like the windowed KMV, the construction is a partially-aggregable
    * count — each micro-batch's partial cells merge into window state by
    * addition, so the emitted table equals the batch sketch over the same
    * rows (asserted stream==batch in StreamOpsSpec). Downstream consumers
    * answer point queries with min-over-rows against the emitted cells. */
  def tumblingCountMin(events: DataFrame, tsCol: String, watermarkDelay: String,
                       windowDur: String, keyCol: String,
                       width: Int = 32, depth: Int = 4): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), posexplode(
          array((0 until depth).map(d =>
            graft.ops.Sketch.cmCell(col(keyCol), d, width)): _*))
        .as(Seq("d", "cell")))
      .groupBy(window(col(tsCol), windowDur).as("w"), col("d"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("d"), col("cell"), col("cnt"))

  /** Windowed HDR-histogram quantile buckets ([[graft.ops.Sketch
    * .hdrBucketLb]]): per tumbling window, the log-bucketed integer
    * histogram of a positive exact-integer measure. Same mergeable-
    * by-addition discipline as [[tumblingCountMin]] — each micro-batch's
    * partial bucket counts add into window state, bounded at
    * ≤ (64−m)·2^m occupied buckets per window regardless of traffic, and
    * the emitted table equals the batch sketch over the same rows
    * (asserted stream==batch in StreamOpsSpec). Downstream consumers rank
    * the emitted buckets for any quantile
    * ([[graft.ops.Sketch.hdrQuantiles]] runs the same selection). */
  def tumblingHdrBuckets(events: DataFrame, tsCol: String, watermarkDelay: String,
                         windowDur: String, cents: Column, m: Int): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), graft.ops.Sketch.hdrBucketLb(cents, m).as("lb"))
      .groupBy(window(col(tsCol), windowDur).as("w"), col("lb"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("lb"), col("cnt"))

  /** Tumbling-window latest-k per key through the NATIVE bounded top-k
    * aggregate ([[graft.functions.TopKPairs]]): per (window, key), the k
    * latest `(ts, id)` pairs as a sorted struct array. State per group is
    * HARD-bounded at k pairs regardless of window traffic — the streaming
    * property the aggregate was built for (a row_number ranking is not
    * even expressible on a streaming Dataset). Append-mode emission on
    * watermark close, like the other tumbling aggregates here. */
  def tumblingLatestK(events: DataFrame, tsCol: String, watermarkDelay: String,
                      windowDur: String, keyCol: String, idCol: String,
                      k: Int): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"), col(keyCol))
      .agg(graft.functions.TopKPairs.topK(
        -unix_micros(col(tsCol)), col(idCol), k).as("tk"))
      .select(col("w.start").as("w_start"), col(keyCol),
        posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("w_start"), col(keyCol), (col("i") + 1).cast("long").as("rn"),
        col("e.id").as(idCol), timestamp_micros(-col("e.ord")).as(tsCol))

  /** Tumbling-window heavy hitters through the native Misra–Gries
    * aggregate ([[graft.functions.MisraGries]]): per window, the ≤
    * k-counter summary exploded to (term, est) rows. Window state is
    * HARD-bounded at k counters regardless of traffic or key cardinality
    * — the property that makes a heavy-hitter query runnable over an
    * unbounded keyed stream at all (an exact per-key count table grows
    * with the key space). With k at or above the per-window distinct-key
    * count the summary degenerates to exact counts and the stream equals
    * the batch run bit-for-bit; under pressure the MG bounds
    * (undercount ≤ windowN/(k+1), every heavy hitter present) hold per
    * emitted window. Append emission on watermark close. */
  def tumblingHeavyHitters(events: DataFrame, tsCol: String, watermarkDelay: String,
                           windowDur: String, keyCol: String, k: Int): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"))
      .agg(graft.functions.MisraGries.mg(col(keyCol), k).as("mg"))
      .select(col("w.start").as("w_start"), explode(col("mg")).as("e"))
      .select(col("w_start"), col("e.term").as("term"), col("e.est").as("est"))

  /** Gap-based session windows (native `session_window`): per user, sessions
    * close after `gap` of event-time silence. */
  def sessionAgg(events: DataFrame, tsCol: String, watermarkDelay: String,
                 gap: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming exact dedup: each key emitted once for the stream's
    * lifetime — the streaming form of Dedup.exactGroups. State grows with
    * the distinct-key count (a fingerprint set; at 100 TB prefer
    * `dedupStreamBounded` unless the key space is itself bounded). */
  def dedupStream(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicates(keys)

  /** Watermark-bounded streaming dedup: exact within the watermark horizon,
    * constant state; a key re-appearing after the watermark passes is
    * re-emitted (at-least-once per key, by design). */
  def dedupStreamBounded(events: DataFrame, tsCol: String, watermarkDelay: String,
                         keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Watermarked stream-stream interval join: rows pair when keys match and
    * the right event time falls in [leftTs - lower, leftTs + upper]. The
    * watermark + interval bound is what lets Spark evict join state — an
    * unbounded stream-stream join would buffer both streams forever. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String, watermarkDelay: String,
                   keyCond: org.apache.spark.sql.Column,
                   lower: String, upper: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, keyCond &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lower") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upper"))
  }

  /** One emitted near-dup candidate from [[minhashNearDupStream]]:
    * `est_jaccard` is the fraction of agreeing permutations as an exact
    * micro-unit value (agree·10^6 div numPerm — the repo's truncating
    * integer contract, so the emitted double is reproducible). A pair
    * sharing several band buckets is emitted once per shared band
    * (the stateful op can't see other buckets' state); `band` rides along
    * so consumers dedup with a distinct over (id_a, id_b) in their sink
    * window — the streaming stand-in for the batch tier's distinct(). */
  final case class StreamPair(id_a: Long, id_b: Long, band: Int, est_jaccard: Double)

  /** Parallel-list state (ids(i) ↔ sigs(i)): a List[(Long, List[Long])]
    * would be the natural shape, but the tuple-inside-collection encoder
    * fails janino codegen in the state store — flat ArrayType fields
    * encode cleanly. Public because the state-store codegen resolves the
    * accessors reflectively (a `private` nested class fails janino with a
    * misleading "no applicable method" error). */
  final case class BucketState(ids: List[Long], sigs: List[List[Long]])

  /** Streaming MinHash-LSH near-dup — the stateful streaming twin of
    * `Dedup.minhashIncrementalPairsPortable`: documents stream in, each
    * band bucket `(band, bk)` keeps a CAPPED member list (doc id + full
    * signature) in keyed state, and a new arrival emits one candidate per
    * stored member whose ESTIMATED Jaccard (agreeing permutations /
    * numPerm) clears the threshold.
    *
    * Differences from the batch tier, both forced by streaming state
    * bounds and documented rather than hidden: (a) verification is the
    * signature estimate, not exact shingle Jaccard — exact verify would
    * need unbounded text state; precision tunes with numPerm (the batch
    * tier remains the precision-1.0 path for backfills); (b) `maxBucket`
    * caps state per bucket by ARRIVAL order (first `maxBucket` members
    * stay; later arrivals still pair against them but are not stored),
    * where the batch tier drops oversized buckets wholesale.
    *
    * State per bucket ≤ maxBucket × (8 + 8·numPerm) bytes; bucket count is
    * bounded by the distinct band-key space actually seen. Signatures come
    * from the same native one-pass md5 expression as the batch portable
    * tier, so for identical input the candidate structure matches
    * bit-for-bit (asserted stream==batch in StreamOpsSpec). */
  def minhashNearDupStream(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, numPerm: Int = 32, rowsPerBand: Int = 2,
                           threshold: Double = 0.5, maxBucket: Int = 64): Dataset[StreamPair] =
    minhashBuckets[StreamPair](docs, idCol, textCol, n, numPerm, rowsPerBand, threshold, maxBucket)(
      (_, _) => None)((band, a, b, est) => StreamPair(a, b, band, est))

  /** The two MinHash streams' shared pair generation: the portable band
    * keys of the batch tier ([[graft.ops.Dedup.md5BandKeys]]) through
    * [[arrivalOrderBuckets]], keeping a pair when its signature-estimated
    * Jaccard — agreeing permutations in truncating micro-units
    * (agree·10^6 div numPerm), the 6-dp value [[StreamPair]] carries —
    * clears `threshold`. */
  private def minhashBuckets[O <: Product : TypeTag](
      docs: DataFrame, idCol: String, textCol: String, n: Int, numPerm: Int,
      rowsPerBand: Int, threshold: Double, maxBucket: Int)(
      announce: (Int, Long) => Option[O])(edge: (Int, Long, Long, Double) => O): Dataset[O] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = graft.ops.Dedup.md5BandKeys(
        docs.select(col(idCol).cast("long").as("id"),
          graft.ops.TextOps.shingles(col(textCol), n).as("shs")), numPerm, rowsPerBand)
      .select("band", "bk", "id", "sig").as[(Int, String, Long, List[Long])]
    arrivalOrderBuckets(banded, maxBucket)(announce) { (band, a, b, sig, msig) =>
      val agree = sig.iterator.zip(msig).count(p => p._1 == p._2)
      val est = (agree.toLong * 1000000L / numPerm).toDouble / 1000000d
      if (est >= threshold) Some(edge(band, a, b, est)) else None
    }
  }

  /** Bounded arrival-order bucket state, the loop under every near-dup
    * stream: each `(band, key)` group keeps its first `maxBucket` members
    * (id + signature) in keyed state. An arrival not yet stored is first
    * offered to `announce`, then tested by `pair` against every stored
    * member — called as (band, smaller id, larger id, arrival signature,
    * member signature) — and stored while the bucket has room; later
    * arrivals still pair against the stored members but are not stored.
    * Rows are id-sorted within the batch, so emission and the cap are
    * deterministic under micro-batch re-partitioning. */
  private def arrivalOrderBuckets[K: TypeTag, O <: Product : TypeTag](
      banded: Dataset[(Int, K, Long, List[Long])], maxBucket: Int)(
      announce: (Int, Long) => Option[O])(
      pair: (Int, Long, Long, List[Long], List[Long]) => Option[O]): Dataset[O] = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[BucketState, O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), rows, state) =>
          val st = state.getOption.getOrElse(BucketState(Nil, Nil))
          var ids = st.ids
          var sigsStored = st.sigs
          val out = scala.collection.mutable.ListBuffer.empty[O]
          rows.toSeq.sortBy(_._3).foreach { case (_, _, id, sig) =>
            if (!ids.contains(id)) {
              out ++= announce(band, id)
              ids.iterator.zip(sigsStored.iterator).foreach { case (mid, msig) =>
                out ++= pair(band, math.min(id, mid), math.max(id, mid), sig, msig)
              }
              if (ids.size < maxBucket) { ids = ids :+ id; sigsStored = sigsStored :+ sig }
            }
          }
          state.update(BucketState(ids, sigsStored))
          out.iterator
      }
  }

  /** One cluster-graph delta from [[clusterDeltaStream]]: kind = "node"
    * (a doc id first seen by its band-0 bucket) or "edge" (a near-dup
    * candidate whose signature-estimated Jaccard cleared the threshold).
    * Consumers absorb deltas idempotently (incremental CC is), so
    * at-least-once replay is safe. */
  final case class ClusterDelta(id_a: Long, id_b: Long, kind: String)

  /** Streaming dedup-cluster maintenance, stage 1: the doc stream →
    * (node, edge) deltas. Pair generation is exactly
    * [[minhashNearDupStream]]'s bounded keyed bucket state
    * (flatMapGroupsWithState, state ≤ maxBucket·(8 + 8·numPerm) bytes per
    * bucket); band-0 groups ADDITIONALLY announce each doc id on first
    * sight — every doc lands in exactly one (band=0, bk) bucket, so the
    * announcement is once per doc under exactly-once delivery and
    * harmlessly repeated under replay.
    *
    * Stage 2 is [[ClusterMaintainer]]: label merges span arbitrary bucket
    * keys (two components merging live in two different groups), which
    * keyed streaming state cannot express with bounded per-key state —
    * the label table is therefore maintained batch-side per micro-batch
    * (foreachBatch + [[graft.ops.Graph.incrementalComponents]], the
    * upsert-table shape), while pair generation keeps its keyed state. */
  def clusterDeltaStream(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, numPerm: Int = 32, rowsPerBand: Int = 2,
                         threshold: Double = 0.5, maxBucket: Int = 64): Dataset[ClusterDelta] =
    minhashBuckets[ClusterDelta](docs, idCol, textCol, n, numPerm, rowsPerBand, threshold, maxBucket)(
      (band, id) => if (band == 0) Some(ClusterDelta(id, id, "node")) else None)(
      (_, a, b, _) => ClusterDelta(a, b, "edge"))

  /** Stage 2 of streaming cluster maintenance (see [[clusterDeltaStream]]):
    * absorbs each micro-batch of deltas into a maintained (id, label)
    * table via the contraction-based incremental CC — history is never
    * re-clustered; per batch the star rounds run on a graph bounded by the
    * batch plus touched components. Labels after any number of batches
    * equal a one-shot CC over all deltas seen (spec-proven on a replayed
    * two-batch feed). Thread-safe for Structured Streaming's serialized
    * foreachBatch calls. */
  final class ClusterMaintainer(initial: DataFrame) {
    @volatile private var labelsDf: DataFrame = initial.staged()
    def labels: DataFrame = labelsDf
    def absorb(deltas: DataFrame): Unit = synchronized {
      val nodes = deltas.filter(col("kind") === "node")
        .select(col("id_a").as("id")).distinct()
      val edges = deltas.filter(col("kind") === "edge")
        .select(col("id_a"), col("id_b")).distinct()
      labelsDf = graft.ops.Graph.incrementalComponents(labelsDf, nodes, edges)
        .staged()
    }
  }

  final case class ImagePair(id_a: Long, id_b: Long, chunk: Int, hamming: Long)

  /** Streaming perceptual image near-dup — the stateful streaming twin of
    * `Dedup.chunk4x16Pairs` over `Multimodal.ahashBmpAssets` signatures:
    * image assets stream in, are decoded and aHashed in the stateless
    * prefix (`mapPartitions` codec batches work unchanged on a streaming
    * Dataset), and each of the four 16-bit chunk buckets keeps a CAPPED
    * member list in keyed state; a new arrival emits one pair per stored
    * member within `maxHamming` (exact popcount verify — the signature IS
    * the full fingerprint, so unlike the MinHash stream there is no
    * estimate-vs-exact gap with the batch tier).
    *
    * Cap semantics follow [[minhashNearDupStream]]: arrival-order
    * first-`maxBucket` members persist (later arrivals pair but are not
    * stored), vs the batch tier's drop-oversized-bucket rule — identical
    * outputs whenever no bucket exceeds the cap (spec-asserted on the
    * fixture). State per bucket ≤ maxBucket × 40 bytes. */
  def ahashNearDupStream(assets: DataFrame, maxHamming: Int = 4,
                         maxBucket: Int = 64): Dataset[ImagePair] = {
    val spark = assets.sparkSession
    import spark.implicits._
    val banded = graft.ops.Dedup.chunkBands(
        graft.ops.Multimodal.ahashBmpAssets(assets).withColumnRenamed("asset_id", "id"))
      .select(col("chunk"), col("v"), col("id"),
        array(col("c0"), col("c1"), col("c2"), col("c3")).as("sig"))
      .as[(Int, Long, Long, List[Long])]
    arrivalOrderBuckets[Long, ImagePair](banded, maxBucket)((_, _) => None) { (chunk, a, b, sig, msig) =>
      val ham = sig.iterator.zip(msig).map(p => java.lang.Long.bitCount(p._1 ^ p._2).toLong).sum
      if (ham <= maxHamming) Some(ImagePair(a, b, chunk, ham)) else None
    }
  }

  /** Per-asset cursor for [[keyframeStream]]: the previous frame's index
    * and 4-chunk aHash signature — five primitive longs per asset forever
    * (public, collection-free per the janino state-store rules). */
  final case class FrameCursor(lastIdx: Long, c0: Long, c1: Long, c2: Long, c3: Long)
  final case class KeyframeRow(doc_id: Long, frame_idx: Long, ham: Long, is_key: Boolean)

  /** Streaming twin of [[graft.ops.Multimodal.keyframes]]: the stateless
    * frame-synthesis + BMP-codec aHash stage is shared
    * (`Multimodal.frameSigs`), and the batch op's doc-bounded lag window
    * becomes a per-asset 5-long cursor state — the shape a live video
    * ingest needs, where a shot detector cannot wait for an asset's
    * frames to "finish". Rows inside a batch are ordered by frame index;
    * across batches the cursor threads the chain (the markovStream
    * arrival-order caveat). State is 5 longs per asset regardless of
    * frame count; stream==batch asserted in StreamOpsSpec. */
  def keyframeStream(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", nFrames: Int = 6,
                     threshold: Int = 10): Dataset[KeyframeRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.ops.Multimodal.frameSigs(docs, idCol, textCol, nFrames)
      .as[(Long, Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FrameCursor, KeyframeRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (doc: Long, rows: Iterator[(Long, Long, Long, Long, Long, Long)],
         state: GroupState[FrameCursor]) =>
          var cur = state.getOption.getOrElse(FrameCursor(-1L, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[KeyframeRow]
          rows.toSeq.sortBy(_._2).foreach { case (_, f, c0, c1, c2, c3) =>
            val ham =
              if (cur.lastIdx < 0) -1L
              else java.lang.Long.bitCount(c0 ^ cur.c0) +
                java.lang.Long.bitCount(c1 ^ cur.c1) +
                java.lang.Long.bitCount(c2 ^ cur.c2) +
                java.lang.Long.bitCount(c3 ^ cur.c3)
            out += KeyframeRow(doc, f, ham, f == 0 || ham >= threshold)
            cur = FrameCursor(f, c0, c1, c2, c3)
          }
          state.update(cur)
          out.iterator
      }
  }

  /** Custom keyed state via flatMapGroupsWithState: per-key high-watermark
    * monitor that emits one row per micro-batch per key whose running max
    * `value` advanced. State = one double per key (timeout-free here;
    * production would set an event-time timeout). Demonstrates the
    * arbitrary-state API where built-in windows can't express the op. */
  final case class MaxState(maxValue: Double)
  final case class MaxAdvance(user_id: Long, new_max: Double)

  def runningMaxAdvances(events: DataFrame): Dataset[MaxAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[MaxState]) =>
          val prev = state.getOption.map(_.maxValue).getOrElse(Double.NegativeInfinity)
          val batchMax = rows.map(_._2).foldLeft(Double.NegativeInfinity)(math.max)
          if (batchMax > prev) {
            state.update(MaxState(batchMax))
            Iterator(MaxAdvance(user, batchMax))
          } else Iterator.empty
      }
  }

  /** Per-user sequence cursor for [[markovStream]]: the last event seen —
    * three primitive fields per key forever (public, collection-free per
    * the janino state-store rules). */
  final case class LastEvent(tsMicros: Long, eventId: Long, cur: String)
  final case class TransitionHop(user_id: Long, cur: String, nxt: String)

  /** Streaming twin of [[graft.ops.Stats.markovTransitions]]: emit one
    * (cur, nxt) hop per consecutive event pair per user, with the chain
    * threaded across micro-batches by a 3-field per-key cursor. Rows
    * inside a batch are ordered by (ts, event_id) — the batch operator's
    * order — so stream==batch holds whenever per-key arrival respects
    * event time ACROSS batches (the keyset tail's delivery order; a
    * source that reorders across batches would hop differently, the
    * standard arbitrary-state caveat). Downstream counts/probabilities
    * are one groupBy over the emitted hops. */
  def markovStream(events: DataFrame): Dataset[TransitionHop] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[LastEvent]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var last = state.getOption
          val out = Seq.newBuilder[TransitionHop]
          sorted.foreach { e =>
            last.foreach(l => out += TransitionHop(user, l.cur, e._4))
            last = Some(LastEvent(e._2, e._3, e._4))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** CUSUM per-type state: the recurrence needs exactly TWO longs per key
    * forever — the upper and lower accumulators. Public primitive-only
    * case class for the janino state-store rules. */
  final case class CusumState(su: Long, sd: Long)
  final case class CusumAlarm(event_type: String, day: Long, n: Long,
                              cusum_up_micro: Long, cusum_dn_micro: Long,
                              alarm: Boolean)

  /** Streaming twin of [[graft.ops.EventOps.cusumDrift]]: Page's two-sided
    * CUSUM over a stream of per-type DAILY COUNTS (in production the
    * output of a tumbling daily count upstream), with the reference mean
    * `muMicro` fit on history and passed in (the batch tier self-fits;
    * a detector that refits on the stream it monitors absorbs the very
    * drift it should flag). Here the recurrence form S_t = max(0, S_{t-1}
    * + dev_t) IS the natural shape — the batch tier's prefix-sum closed
    * form exists precisely because batch SQL has no recurrence. State is
    * two longs per type, forever; alarm when either side exceeds h = μ.
    * Within a micro-batch days process in day order (the determinism
    * discipline of [[bloomDedupStream]]); across batches feed days
    * forward — CUSUM is a sequential statistic. */
  def cusumStream(daily: DataFrame, muMicro: Map[String, Long]): Dataset[CusumAlarm] = {
    val spark = daily.sparkSession
    import spark.implicits._
    daily.select(col("event_type").cast("string"), col("day").cast("long"),
        col("n").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (t: String, rows: Iterator[(String, Long, Long)], state: GroupState[CusumState]) =>
          val mu = muMicro.getOrElse(t, 0L)
          val k = mu / 4
          var su = state.getOption.map(_.su).getOrElse(0L)
          var sd = state.getOption.map(_.sd).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { case (_, day, n) =>
            su = math.max(0L, su + (n * 1000000L - mu - k))
            sd = math.max(0L, sd + (mu - k - n * 1000000L))
            CusumAlarm(t, day, n, su, sd, su > mu || sd > mu)
          }
          state.update(CusumState(su, sd))
          out.iterator
      }
  }

  /** Packed Bloom bitmap per bucket (mPerBucket/64 longs). Public flat-List
    * state for the same janino state-store rules as [[BucketState]]. */
  final case class BloomBucketState(bits: List[Long])
  final case class BloomSeen(key: Long, bucket: Int, dup: Boolean)

  /** FIXED-STATE approximate stream dedup via bucketed Bloom filters — the
    * bounded-forever alternative to [[dedupStream]] (whose exact state
    * grows with every distinct key) and [[dedupStreamBounded]] (bounded
    * only because the watermark forgets, re-admitting old keys): total
    * state is `buckets × mPerBucket` bits FOR THE LIFETIME of the query,
    * the per-key cost of never forgetting. The price is approximate
    * verdicts in one direction only — a repeat is NEVER missed (no false
    * negatives), but a first arrival can be falsely flagged dup with the
    * standard (1-e^(-jn/m))^j probability as its bucket fills; size
    * buckets × mPerBucket to the expected key cardinality. Keys partition
    * by `floorMod(key, buckets)`, so bucket filters fill evenly under any
    * roughly-uniform key space and the stateful work spreads across
    * executors like any keyed aggregation.
    *
    * Bit positions come from [[graft.ops.Sketch.BloomAgg.position]] — the
    * SAME md5 family as the batch bloom tier, so verdicts are spec-proven
    * equal to a sequential reference fold on identical arrival order
    * (within a micro-batch, arrivals process in key order — the
    * determinism discipline of [[minhashNearDupStream]]). */
  def bloomDedupStream(events: DataFrame, keyCol: String, buckets: Int = 32,
                       mPerBucket: Int = 1024, j: Int = 3): Dataset[BloomSeen] = {
    require(mPerBucket % 64 == 0 && mPerBucket > 0, "mPerBucket must be a multiple of 64")
    require(buckets >= 1 && j >= 1 && j <= 4, "buckets >= 1; md5 allows j <= 4")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("long").as("k"),
        pmod(col(keyCol).cast("long"), lit(buckets)).cast("int").as("bucket"))
      .as[(Long, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[BloomBucketState, BloomSeen](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (bucket: Int, rows: Iterator[(Long, Int)], state: GroupState[BloomBucketState]) =>
          val bits = state.getOption
            .map(_.bits.toArray)
            .getOrElse(new Array[Long](mPerBucket / 64))
          val out = scala.collection.mutable.ListBuffer.empty[BloomSeen]
          rows.map(_._1).toSeq.sorted.foreach { k =>
            val ks = k.toString
            val dup = graft.ops.Sketch.BloomAgg.contains(bits, ks, j, mPerBucket)
            if (!dup) {
              var t = 0
              while (t < j) {
                val pos = graft.ops.Sketch.BloomAgg.position(ks, t, mPerBucket)
                bits(pos >> 6) |= (1L << (pos & 63))
                t += 1
              }
            }
            out += BloomSeen(k, bucket, dup)
          }
          state.update(BloomBucketState(bits.toList))
          out.iterator
      }
  }

  /** Versioned per-key dimension buffer for [[asofEnrichStream]]: the
    * newest `maxVersions` (time, payload) pairs as PARALLEL primitive
    * lists ascending by time (flat fields for the janino state-store
    * rules — no tuples inside collections). `overflowed` records that
    * older versions were evicted, so a miss below the buffer can be told
    * apart from "no version ever existed". */
  final case class DimVersions(ts: List[Long], payloads: List[Long],
                               overflowed: Boolean)
  final case class AsofEnriched(event_id: Long, user_id: Long,
                                ts_micros: Long, asof_payload: Option[Long])

  /** Streaming twin of the as-of join ([[graft.ops.AsofJoin.asofJoin]] /
    * `graft.plans.AsOfJoinExec`) — the temporal-table enrichment pattern:
    * a fact stream (`events`: event_id, user_id, ts) joined to a
    * slowly-changing dimension stream (`dims`: k, ts, payload), each
    * event picking the newest dimension version with `dim.ts <= event.ts`
    * for its key, same-instant included, null when none.
    *
    * State per key is a BOUNDED version buffer — the newest `maxVersions`
    * (time, payload) pairs — not the full dimension history: ≤ 16·maxV
    * bytes per key forever, the hard-bounded-state discipline of every
    * twin in this file. Consequences, documented not hidden: an event is
    * answered exactly whenever its as-of version is among the newest
    * `maxVersions` seen so far (so dim-before-fact replay up to maxV
    * versions deep is EXACT, unlike a single-row cursor), and a fact
    * older than the whole buffer answers None when no version was ever
    * evicted (provably no version existed at its time) but degrades to
    * the OLDEST buffered version after eviction (the exact answer may be
    * gone; at that point the batch operator is the backfill path).
    * Within a micro-batch rows process in (time, side, id) order
    * with the dimension first at equal times (the batch tie contract);
    * across batches the per-key time-order caveat of [[markovStream]]
    * applies to the fact side. */
  def asofEnrichStream(events: DataFrame, dims: DataFrame,
                       maxVersions: Int = 8): Dataset[AsofEnriched] = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    val spark = events.sparkSession
    import spark.implicits._
    val l = events.select(col("user_id").cast("long").as("k"),
      unix_micros(col("ts")).as("t"), lit(1).as("is_l"),
      col("event_id").cast("long").as("a"))
    val r = dims.select(col("k").cast("long"), unix_micros(col("ts")).as("t"),
      lit(0).as("is_l"), col("payload").cast("long").as("a"))
    l.unionByName(r).as[(Long, Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[(Long, Long, Int, Long)],
         state: GroupState[DimVersions]) =>
          val sorted = rows.toSeq.sortBy(e => (e._2, e._3, e._4))
          var ts = state.getOption.map(_.ts).getOrElse(Nil)
          var ps = state.getOption.map(_.payloads).getOrElse(Nil)
          var overflowed = state.getOption.exists(_.overflowed)
          val out = Seq.newBuilder[AsofEnriched]
          sorted.foreach { e =>
            if (e._3 == 0) {
              // insert ascending by time (equal-time later arrival lands
              // after = newer), then cap by dropping the oldest
              val pos = ts.count(_ <= e._2)
              ts = (ts.take(pos) :+ e._2) ++ ts.drop(pos)
              ps = (ps.take(pos) :+ e._4) ++ ps.drop(pos)
              if (ts.length > maxVersions) { ts = ts.tail; ps = ps.tail; overflowed = true }
            } else {
              val i = ts.lastIndexWhere(_ <= e._2)
              out += AsofEnriched(e._4, k, e._2,
                if (i >= 0) Some(ps(i))
                // below the whole buffer: None is PROVABLY exact only if
                // nothing was ever evicted; after eviction the oldest
                // surviving version is the documented degraded answer
                else if (overflowed && ts.nonEmpty) Some(ps.head)
                else None)
            }
          }
          if (ts.nonEmpty) state.update(DimVersions(ts, ps, overflowed))
          out.result().iterator
      }
  }
}
