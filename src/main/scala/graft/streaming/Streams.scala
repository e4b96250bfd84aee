package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.gtfs.Schemas

/** Structured Streaming variant of the GTFS pipeline (SURVEY.md §2.10
  * — an extension: the reference is batch-only, its "streaming" is a
  * 15 s polling loop, main.py:39-46), plus the windowed-aggregation
  * operators (tumbling / sliding / session) as batch catalog entries
  * over `events`.
  *
  * Streaming semantics upgrades over the reference's batch analogs:
  *   - late data: a watermark on event time replaces the
  *     date == current_date filter (which silently drops stale-clock
  *     pings, gtfstransformerSilver.py:43);
  *   - dedup across polls: `dropDuplicatesWithinWatermark` bounds the
  *     dedup state that the batch `dropDuplicates` holds unbounded;
  *   - the 15 s poll cadence becomes a real micro-batch trigger.
  */
object Streams {
  type Q = (SparkSession, String) => DataFrame

  /** Streaming bronze source: the same partitioned JSON layout the
    * ingester writes (S3), consumed incrementally. */
  def bronzeStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 8): DataFrame = {
    Tables.pin(spark)
    spark.readStream
      .option("multiline", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .schema(Schemas.bronzeSchema)
      .json(path)
  }

  /** Cleaned, watermarked ping stream WITHOUT dedup: the reference's
    * clean/filter chain ending at `withWatermark`. Feed this to
    * [[enrichedStream]], which performs its own EXACT deterministic
    * dedup inside the stateful operator (same winner as the batch
    * row_number dedup); feed [[silverStream]] (this + bounded-state
    * dedup) to consumers that want deduped rows but don't care which
    * duplicate payload survives. */
  def cleanStream(raw: DataFrame, watermark: String = "10 minutes"): DataFrame =
    raw.select(explode(col("result")).as("v"))
      .select(
        trim(col("v.Lines")).as("Lines"),
        trim(col("v.VehicleNumber")).as("VehicleNumber"),
        col("v.Lat").cast(DoubleType).as("Lat"),
        col("v.Lon").cast(DoubleType).as("Lon"),
        // try_cast: the silver transform's pre-ANSI malformed → null
        // contract, legal in the ANSI lane too (see SilverTransform)
        expr("try_cast(v.Time AS TIMESTAMP)").as("Time"))
      .na.drop("any")
      .filter(col("Lat").between(Schemas.LatMin, Schemas.LatMax) &&
        col("Lon").between(Schemas.LonMin, Schemas.LonMax))
      .filter(col("Lines") =!= "")
      .withWatermark("Time", watermark)

  /** Streaming silver: [[cleanStream]] + watermark-bounded dedup
    * (first arrival wins) instead of the batch's date filter +
    * unbounded dropDuplicates. */
  def silverStream(raw: DataFrame, watermark: String = "10 minutes"): DataFrame =
    cleanStream(raw, watermark)
      .dropDuplicatesWithinWatermark("VehicleNumber", "Time")

  /** Streaming per-line tumbling-window stats — the daily-report
    * analog emitted continuously. */
  def lineWindowStats(silver: DataFrame, window: String = "15 minutes"): DataFrame =
    silver
      .groupBy(org.apache.spark.sql.functions.window(col("Time"), window), col("Lines"))
      // exact distinct aggregation is unsupported over streaming state;
      // HLL approx is the streaming-native (and 100 TB-native) choice
      .agg(count(lit(1)).as("pings"),
        approx_count_distinct(col("VehicleNumber")).as("vehicles"))
      .select(col("window.start").as("window_start"), col("Lines"),
        col("pings"), col("vehicles"))

  /** st03's streaming form: per-user session windows (1 h inactivity
    * gap) over an unbounded event stream. Session state MERGES across
    * micro-batches (two pings arriving in different batches inside
    * the gap fuse into one session); a session emits in append mode
    * once the watermark passes its close, and its state is freed —
    * the exact batch analog is the `st05`-style equivalence the
    * StreamingSpec proves through a real readStream. Same
    * decimal-exact value sum as the batch entry, so streamed rows
    * equal batch rows bit for bit. */
  def sessionStream(events: DataFrame, gap: String = "1 hour",
      delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Tables.dsum(col("value"), 2).as("session_value"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("user_id"), col("n_events"), col("session_value"))

  /** One silver ping (input to stateful enrichment). */
  final case class SilverPing(Lines: String, VehicleNumber: String,
      Lat: Double, Lon: Double, Time: java.sql.Timestamp)

  /** Ping with state-attached previous-ping columns. */
  final case class PingWithPrev(Lines: String, VehicleNumber: String,
      Lat: Double, Lon: Double, Time: java.sql.Timestamp,
      prev_lat: Option[Double], prev_lon: Option[Double],
      prev_time: Option[java.sql.Timestamp])

  /** Per-vehicle enrichment state: the last EMITTED ping (the
    * event-time predecessor of the next emission) plus the reorder
    * buffer of pings not yet safe to emit. */
  final case class EnrichState(prev: Option[SilverPing], buf: List[SilverPing])

  /** Streaming enrichment: previous-ping columns come from per-vehicle
    * GroupState instead of a batch lag window, so segments SURVIVE
    * micro-batch boundaries (a per-batch lag would silently zero every
    * boundary-spanning segment). Metric math is the shared
    * GoldReport.metricsFromPrevs — one code path with batch.
    *
    * The state is an EVENT-TIME REORDER BUFFER, which makes the
    * operator equal to the batch `lag` window (a sort within each
    * vehicle partition) even when micro-batches deliver a vehicle's
    * pings slightly out of event-time order — e.g. Spark's file
    * source interleaving same-mtime files, or a replayed/ backfilled
    * feed. A ping is held until the vehicle's own max event time
    * passes it by `reorderSec` (per-key punctuation — no global
    * watermark dependency, so a stale-clocked vehicle running hours
    * behind the fleet still flushes off its OWN later pings), then
    * emitted in event-time order, paired with its true predecessor.
    * Pings arriving at-or-before the already-emitted predecessor are
    * dropped: at == a duplicate of an emitted key (dedup), < ==
    * disorder beyond the horizon (standard late-data semantics).
    *
    * Dedup is done HERE, exactly: duplicate (VehicleNumber, Time)
    * rows buffered within the horizon keep the minimum
    * (Lines, Lat, Lon) payload — the same deterministic winner as
    * the batch row_number dedup (SilverTransform D1) — so feeding the
    * un-deduped [[cleanStream]] reproduces the batch pipeline
    * BIT-EXACTLY (StreamingSpec's day=23 equivalence test). Feeding
    * the pre-deduped [[silverStream]] also works; payload choice then
    * belongs to the upstream first-arrival dedup.
    *
    * State TTL: state per key is one prev + the pings inside a
    * `reorderSec` horizon — bounded by ping rate, not stream length.
    * The 100 TB posture must also survive key churn. The semantics —
    * "an event-time gap > stateTtlSec ends the episode; the next ping
    * restarts at first-ping dist 0" — live in the PAIRING RULE
    * itself: a ping whose predecessor is more than the TTL older
    * pairs with none, wherever the two pings fell relative to
    * micro-batch boundaries (same batch, adjacent batches, or either
    * side of a timeout — the rule sees only event time, so batch
    * packing can never change the output). The watermark-driven
    * event-time timeout is then purely the REAPER: it FLUSHES the
    * buffer in order (no data loss — this is also what emits each
    * vehicle's tail pings) and frees the slot for keys that never
    * return, so state tracks the ACTIVE key set. (The timeout alone
    * could not carry the semantics: it fires only when the watermark
    * crosses the deadline before the key's next data batch, a race
    * on arrival pacing.)
    */
  def enrichedStream(silver: DataFrame,
      fuelLPer100Km: Double = graft.gtfs.GoldReport.DefaultFuelLPer100Km,
      fuelPricePln: Double = graft.gtfs.GoldReport.DefaultFuelPricePln,
      reorderSec: Long = 60L,
      stateTtlSec: Long = 7200L): DataFrame = {
    import silver.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    // the batch dedup's deterministic pick: min (Lines, Lat, Lon)
    def keepMin(a: SilverPing, b: SilverPing): SilverPing = {
      val c = a.Lines.compareTo(b.Lines)
      val aWins =
        if (c != 0) c < 0
        else if (a.Lat != b.Lat) a.Lat < b.Lat
        else a.Lon <= b.Lon
      if (aWins) a else b
    }
    // pair pings (already event-time-sorted) with their predecessors,
    // applying the TTL gap rule: a predecessor more than the TTL
    // older is a different episode — pair with none (dist 0)
    val ttlMs = stateTtlSec * 1000L
    def emitAll(ps: Seq[SilverPing], start: Option[SilverPing])
        : (Seq[PingWithPrev], Option[SilverPing]) = {
      var prev = start
      val out = ps.map { p =>
        val linked = prev.filter(q => p.Time.getTime - q.Time.getTime <= ttlMs)
        val r = PingWithPrev(p.Lines, p.VehicleNumber, p.Lat, p.Lon, p.Time,
          linked.map(_.Lat), linked.map(_.Lon), linked.map(_.Time))
        prev = Some(p)
        r
      }
      (out, prev)
    }

    // Timeout arming, shared by every branch. Spark CLEARS the
    // timeout on each invocation, so every path must re-arm it.
    // While the reorder buffer holds pings, the deadline is the
    // EARLIEST held ping + reorderSec — once the watermark passes
    // that, the ping is safe to emit (nothing at-or-before it can
    // still arrive in-watermark) and waiting the full TTL would be a
    // tail-latency hole for keys that just stopped sending. With an
    // empty buffer the deadline is lastMs + TTL: pure state reaping.
    // Never at/behind the current watermark (Spark rejects it).
    val ttlArmMs = stateTtlSec * 1000L
    def armTimeout(state: org.apache.spark.sql.streaming.GroupState[EnrichState],
        st: EnrichState): Unit = {
      val wmNext = state.getCurrentWatermarkMs() + 1L
      val deadline = st.buf.map(_.Time.getTime).minOption match {
        case Some(earliestHeld) => earliestHeld + reorderSec * 1000L
        case None =>
          (st.prev.map(_.Time.getTime).getOrElse(0L)) + ttlArmMs
      }
      state.setTimeoutTimestamp(math.max(deadline, wmNext))
    }

    val withPrevs = silver
      .select("Lines", "VehicleNumber", "Lat", "Lon", "Time").as[SilverPing]
      .groupByKey(_.VehicleNumber)
      .flatMapGroupsWithState[EnrichState, PingWithPrev](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, pings: Iterator[SilverPing], state: GroupState[EnrichState]) =>
          if (state.hasTimedOut) {
            // The deadline passed with no data. Flush every held ping
            // the watermark has certified (wm ≥ t + reorderSec: no
            // in-watermark row can precede it), in order; then either
            // re-arm for the remainder, keep the bare prev for
            // episode-linking until its TTL, or reap the slot.
            val st = state.get
            val wm = state.getCurrentWatermarkMs()
            val cut = wm - reorderSec * 1000L
            val sorted = st.buf.sortBy(_.Time.getTime)
            val (ready, stillHeld) = sorted.partition(_.Time.getTime <= cut)
            val (out, newPrev) = emitAll(ready, st.prev)
            val lastMs = (newPrev.map(_.Time.getTime) ++
              stillHeld.map(_.Time.getTime)).maxOption.getOrElse(0L)
            if (stillHeld.isEmpty && wm >= lastMs + ttlArmMs) {
              state.remove() // true TTL reap: the vehicle is gone
            } else {
              val next = EnrichState(newPrev, stillHeld)
              state.update(next)
              armTimeout(state, next)
            }
            out.iterator
          } else {
            val st = state.getOption.getOrElse(EnrichState(None, Nil))
            val prevMs = st.prev.map(_.Time.getTime).getOrElse(Long.MinValue)
            // Defensive late-data drop: FlatMapGroupsWithStateExec
            // already filters rows below the watermark before the
            // function runs (verified empirically — StreamingSpec);
            // repeating the predicate here makes the invariant local
            // instead of inherited, so a Spark-side change cannot
            // silently hand us rows that would emit behind an
            // already-flushed predecessor.
            val wmMs = state.getCurrentWatermarkMs()
            val byTime = scala.collection.mutable.TreeMap.empty[Long, SilverPing]
            st.buf.foreach(p => byTime(p.Time.getTime) = p)
            pings.foreach { p =>
              val t = p.Time.getTime
              if (t > prevMs && t >= wmMs)
                byTime(t) = byTime.get(t).map(keepMin(p, _)).getOrElse(p)
            }
            if (byTime.isEmpty) {
              // every arriving ping was a duplicate/late drop —
              // re-arm from the stored state or the key is never
              // flushed/reaped
              state.getOption.foreach(armTimeout(state, _))
              Iterator.empty
            } else {
              val maxMs = byTime.lastKey
              val cut = maxMs - reorderSec * 1000L
              val (ready, hold) = byTime.values.toList.partition(_.Time.getTime <= cut)
              val (out, newPrev) = emitAll(ready, st.prev)
              val next = EnrichState(newPrev, hold)
              state.update(next)
              armTimeout(state, next)
              out.iterator
            }
          }
      }
    graft.gtfs.GoldReport.metricsFromPrevs(withPrevs.toDF(), fuelLPer100Km, fuelPricePln)
  }

  /** Continuous gold refresh: stateful enrichment → per-micro-batch
    * MERGEABLE (date, Lines) partials (GoldReport.
    * partialReportFromEnriched — sums/counts/maxes only) written as a
    * batch_id partition. The write is an idempotent dynamic partition
    * overwrite — a replayed batch (crash between write and checkpoint
    * commit) rewrites its own batch_id partition instead of
    * double-appending. Readers fold partials by (date, Lines): sums
    * and counts add, maxes take max, then derive
    * avg_speed = sum_speed_kmh/data_points_count and
    * cost_of_1km = total_cost_pln/total_distance_km. Returns the
    * started query; callers own its lifecycle.
    */
  def goldRefresh(silver: DataFrame, outDir: String,
      checkpointDir: String,
      reorderSec: Long = 60L,
      stateTtlSec: Long = 7200L): org.apache.spark.sql.streaming.StreamingQuery =
    enrichedStream(silver, reorderSec = reorderSec, stateTtlSec = stateTtlSec).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val partials = graft.gtfs.GoldReport.partialReportFromEnriched(
          batch.withColumn("date", to_date(col("Time"))),
          groupKeys = Seq("date", "Lines"))
        partials
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        ()
      }
      .start()

  // ------------------------------------------------------------------
  // Stream-stream join
  // ------------------------------------------------------------------

  /** Stream-stream INTERVAL join (attribution shape): pair each right
    * event with the left events of the same key whose timestamps fall
    * in [r.ts - windowSec, r.ts]. Both sides are watermarked — that is
    * what lets Spark BOUND the join state: a buffered left row can be
    * dropped once the watermark passes `l.ts + windowSec` (no future
    * right row can reach back to it), and symmetric for the right.
    * Without the time-range predicate the state is unbounded and the
    * query is rightly rejected in append mode.
    *
    * Inputs are generic frames with (`key`, `ts`, payload...) — column
    * names are parameters so the operator is reusable (clicks →
    * purchases, impressions → conversions, sensor → alarm...).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      windowSec: Long = 3600L,
      leftWatermark: String = "10 minutes",
      rightWatermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, leftWatermark)
    val r = right.withWatermark(rightTs, rightWatermark)
    l.join(r,
      l(key) === r(key) &&
        l(leftTs) >= r(rightTs) - expr(s"INTERVAL $windowSec SECONDS") &&
        l(leftTs) <= r(rightTs))
      .drop(r(key))
  }

  // ------------------------------------------------------------------
  // transformWithState — the Spark 4 arbitrary-state API (v2)
  // ------------------------------------------------------------------

  /** Output row of [[runningCounts]]: one per (user, micro-batch). */
  final case class UserCount(user_id: Long, n_events: Long)

  /** Per-user running event counter on `transformWithState` — the
    * Spark 4 replacement for `mapGroupsWithState` and the state API
    * the 100 TB posture standardizes on: typed, NAMED state handles
    * (`ValueState`/`ListState`/`MapState`, each independently
    * TTL-able), timers decoupled from state, and a contract that
    * REQUIRES the RocksDB provider — disk-spilling state is the
    * default, not an opt-in. The processor keeps one ValueState[Long]
    * per user and emits the running total once per micro-batch; the
    * legacy operators (tripSegments, enrichedStream) stay on
    * flatMapGroupsWithState to cover both API generations.
    */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, UserCount] {
    @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      count = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Long],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCount] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single(UserCount(key, n))
    }
  }

  /** `events`-shaped frame (streaming or batch-testable via
    * AvailableNow) → per-user running counts, OutputMode.Update. */
  def runningCounts(events: DataFrame): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long")).as[Long]
      .groupByKey(identity)
      .transformWithState(new RunningCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        Encoders.product[UserCount])
  }

  /** Stream-static dimension enrichment — the third streaming join
    * class next to stream-stream ([[intervalJoin]]) and the stateful
    * operators: a streaming fact left-joined to a STATIC dimension.
    * No watermark and no join state — each micro-batch plans a plain
    * batch join, and the static side is re-resolved per batch (a dim
    * table updated between batches is picked up on the next trigger).
    * The broadcast hint keeps every micro-batch's join map-side; at
    * 100 TB this is the streaming mirror of j01 (dims broadcast,
    * facts never shuffle on the dim key).
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** st04: 1-in-ReplayMod events are redelivered ReplayDelaySec later
    * (the at-least-once duplicate model for the batch analog and the
    * streaming spec). */
  val ReplayMod = 10
  val ReplayDelaySec = 30

  /** At-least-once → effectively-once: drop redelivered copies of an
    * event while its key state is younger than the watermark delay.
    * `dropDuplicatesWithinWatermark` is the bounded-state form of
    * batch `dropDuplicates` — state for a key is freed once the
    * watermark passes its event time + delay, so the dedup map scales
    * with the redelivery horizon (minutes of traffic), not the stream
    * history. First ARRIVAL wins inside the horizon; the batch
    * catalog analog (`st04_stream_dedup`) resolves the same keys by
    * event-time minimum, the deterministic arrival-order-free form.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** st05's streaming form: NEAR-dup (MinHash/LSH) dedup of an
    * incoming doc stream against the persisted corpus band index —
    * st04 dedups exact event_id redeliveries; this is the
    * LLM-pipeline version where an arriving doc is a duplicate if the
    * corpus holds a signature-verified near neighbor (est Jaccard
    * ≥ 0.5). All the work is stream-legal by construction (inline
    * signatures, stream-static band join, windowed argmax aggregate —
    * see [[graft.ops.Dedup!.nearDupDecisions]]); the watermark bounds
    * the aggregate's state: a 10-min arrival window's decisions emit
    * in append mode once the watermark passes its end, and its state
    * is freed — state scales with the redelivery horizon, not stream
    * history. */
  def nearDupDedupStream(docs: DataFrame, corpusBands: DataFrame,
      corpusSigs: DataFrame, delay: String = "30 minutes"): DataFrame =
    graft.ops.Dedup.nearDupDecisions(
      docs.withWatermark("ts", delay), corpusBands, corpusSigs)

  /** ANN serving as a stream (st09's real readStream form): arriving
    * query vectors probe the persisted IVF index `prefix`; per-query
    * top-k emits within the arrival window through the K-bounded
    * `topk_struct` aggregate. Same state story as
    * [[nearDupDedupStream]] — the watermark frees each window's
    * K-row-per-query state; see [[graft.ops.VecIndex!.annTopK]]. */
  def annProbeStream(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, delay: String = "30 minutes"): DataFrame =
    graft.ops.VecIndex.annTopK(spark, dir, prefix,
      queries.withWatermark("ts", delay))

  /** st16's real-stream form: [[graft.ops.VecIndex.filteredAnnTopK]]
    * behind a watermark — metadata-predicated ANN serving, the
    * stream-static label dim join inside. */
  def filteredAnnProbeStream(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, delay: String = "30 minutes"): DataFrame =
    graft.ops.VecIndex.filteredAnnTopK(spark, dir, prefix,
      queries.withWatermark("ts", delay))

  /** st17's real-stream form: [[graft.ops.VecIndex.coveringFilteredAnnTopK]]
    * behind a watermark — the covering-index serving stream, label
    * read from the cell row (no stream-static dim join). */
  def coveringAnnProbeStream(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, delay: String = "30 minutes"): DataFrame =
    graft.ops.VecIndex.coveringFilteredAnnTopK(spark, dir, prefix,
      queries.withWatermark("ts", delay))

  /** st18's per-micro-batch core: hybrid text+vector serving over an
    * arrivals frame (query_id, embedding, ts). The lexical lane is
    * the MEMOIZED static BM25 index (tx15's ranked lists, localCheckpoint-
    * pinned — built once, joined per batch), the vector lane probes
    * the persisted IVF cells ([[graft.ops.VecIndex.annTopK]], st09's
    * lane), and the two rank lists fuse with RRF exactly as sim26.
    * Each query's result depends only on its own rows + static state
    * — streaming-legal per micro-batch by construction. */
  def hybridServeCore(s: SparkSession, d: String,
      arrivals: DataFrame): DataFrame =
    fuseLexAndVec(s, d, arrivals,
      graft.ops.Dedup.memoFrame(s, d, "st18_bm25")(
        graft.ops.TextAnalysis.queries("tx15_bm25_topk")(s, d).localCheckpoint()))

  /** The fusion core st18 and st19 share VERBATIM (they differ only
    * in where the lexical ranked lists come from — session memo vs
    * persisted postings index), so the RRF arithmetic, tie-breaks
    * and rounding their shared oracle hash-checks cannot diverge
    * between the two entries. `lexRanked` carries tx15's output
    * shape (query_id, rk, doc_id, …). */
  private def fuseLexAndVec(s: SparkSession, d: String,
      arrivals: DataFrame, lexRanked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = graft.ops.Similarity.RrfK
    val bm = lexRanked
      .select(col("query_id").cast("bigint").as("query_id"),
        col("doc_id").as("item_id"), col("rk").as("ra"))
      .join(broadcast(arrivals.select("query_id").distinct()), Seq("query_id"))
    val vr = graft.ops.VecIndex.annTopK(s, d,
        graft.ops.VecIndex.ensurePersisted(s, d), arrivals)
      .withColumn("rb", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .select(col("query_id"), col("neighbor_id").as("item_id"), col("rb"))
    val fused = bm.join(vr, Seq("query_id", "item_id"), "full_outer")
      .withColumn("rrf", expr(
        s"""coalesce(CAST(1 AS DOUBLE) / CAST($K + ra AS DOUBLE), 0.0)
           | + coalesce(CAST(1 AS DOUBLE) / CAST($K + rb AS DOUBLE), 0.0)"""
          .stripMargin))
    fused.withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf").desc, col("item_id").asc)))
      .filter(col("rk") <= graft.ops.Similarity.FusionTopK)
      .select(col("query_id"), col("rk").cast("int").as("rk"),
        col("item_id"), col("ra").cast("int").as("ra"),
        col("rb").cast("int").as("rb"), round(col("rrf"), 6).as("rrf"))
  }

  /** st19's per-micro-batch core (round 15): [[hybridServeCore]] with
    * the lexical lane on the PERSISTED BM25 postings index
    * ([[graft.ops.LexIndex.probe]] — bucket-pruned matched postings,
    * no raw-text scan, durable across sessions) instead of the
    * session-memoized tx15 frame. Both lanes now have the full
    * train-once/serve-many story: per micro-batch the serving tier
    * pays one bucket-pruned postings probe + one cell-pruned vector
    * probe + the k-bounded fusion join — nothing corpus-sized
    * rebuilds, in-session or otherwise. Decisions identical to
    * sim26/st18 (LexIndex.probe ≡ tx15's rows; the vector lane is
    * st18's own). */
  def hybridServedCore(s: SparkSession, d: String,
      arrivals: DataFrame): DataFrame =
    fuseLexAndVec(s, d, arrivals,
      graft.ops.LexIndex.probe(s, d, graft.ops.LexIndex.ensurePersisted(s, d)))

  /** st12's real-stream form: [[graft.ops.VecIndex.pqAnnTopK]] behind
    * a watermark — ADC serving from the persisted IVF-PQ index
    * `prefix`. */
  def pqServeStream(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, delay: String = "30 minutes"): DataFrame =
    graft.ops.VecIndex.pqAnnTopK(spark, dir, prefix,
      queries.withWatermark("ts", delay))

  // ------------------------------------------------------------------
  // Custom streaming state: trip segmentation
  // ------------------------------------------------------------------

  /** One GPS ping (input to trip segmentation). */
  final case class Ping(VehicleNumber: String, Time: java.sql.Timestamp,
      Lat: Double, Lon: Double)

  /** Open-trip state carried across micro-batches. */
  final case class TripState(startMs: Long, lastMs: Long, pings: Int)

  /** A closed trip (emitted when a gap > gapSec is observed). */
  final case class Trip(VehicleNumber: String, trip_start: java.sql.Timestamp,
      trip_end: java.sql.Timestamp, pings: Int)

  /** Per-vehicle trip segmentation with `flatMapGroupsWithState` —
    * the KeyValueGroupedDataset custom-state operator (SURVEY.md
    * §2.10 extension): pings of one vehicle separated by more than
    * `gapSec` belong to different trips; a trip is emitted when the
    * ping that closes it arrives, OR when the event-time watermark
    * passes its last ping + `gapSec` (timeout): once the watermark is
    * beyond the gap, no in-watermark ping can ever extend the trip,
    * so it is final — emit it and free the state. The timeout both
    * bounds state under key churn and fixes the completeness hole of
    * the NoTimeout version (a vehicle's LAST trip of the day was
    * never emitted).
    *
    * "Final" leans on late rows being dropped: Spark's
    * FlatMapGroupsWithStateExec filters input rows below the
    * watermark before this function runs, and the function repeats
    * that predicate itself (defense in depth), so a ping older than
    * the watermark can never recreate state after a timeout emitted
    * the trip — without the drop, such a ping would start a second,
    * overlapping trip for the same vehicle.
    */
  def tripSegments(silver: DataFrame, gapSec: Long = 1800): org.apache.spark.sql.Dataset[Trip] = {
    import silver.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    silver.select("VehicleNumber", "Time", "Lat", "Lon").as[Ping]
      .groupByKey(_.VehicleNumber)
      .flatMapGroupsWithState[TripState, Trip](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (vehicle: String, pings: Iterator[Ping], state: GroupState[TripState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastMs + gap: the open trip is final
            val s = state.get
            state.remove()
            Iterator.single(Trip(vehicle, new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.lastMs), s.pings))
          } else {
            // explicit late-data drop (see scaladoc): rows below the
            // watermark must not reopen an emitted trip
            val wmMs = state.getCurrentWatermarkMs()
            val sorted = pings.toSeq.filter(_.Time.getTime >= wmMs)
              .sortBy(_.Time.getTime)
            val out = scala.collection.mutable.ArrayBuffer.empty[Trip]
            var st = state.getOption.orNull
            sorted.foreach { p =>
              val t = p.Time.getTime
              st match {
                case null =>
                  st = TripState(t, t, 1)
                case s if t - s.lastMs > gapSec * 1000 =>
                  out += Trip(vehicle, new java.sql.Timestamp(s.startMs),
                    new java.sql.Timestamp(s.lastMs), s.pings)
                  st = TripState(t, t, 1)
                case s =>
                  st = TripState(s.startMs, math.max(s.lastMs, t), s.pings + 1)
              }
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.lastMs + gapSec * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  // ------------------------------------------------------------------
  // Batch windowed-agg catalog entries (oracle-checked)
  // ------------------------------------------------------------------

  /** The batch analogs' synthetic, deterministic arrival time:
    * epoch-aligned base + `id` seconds. */
  private def arrivalTs(id: String): Column =
    expr(s"timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, $id)").as("ts")

  /** The vector streams' arrival frame (st09, st12, st16–st19): the
    * fixed query batch as (query_id, embedding[, label], ts). */
  private[graft] def arrivalQueries(s: SparkSession, d: String,
      withLabel: Boolean): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(Seq(col("vec_id").as("query_id"), col("embedding")) ++
        (if (withLabel) Seq(col("label")) else Nil) :+ arrivalTs("vec_id"): _*)

  val queries: Map[String, Q] = Map(
    // Tumbling event-time window (epoch-aligned, matches date_trunc)
    "st01_tumbling_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value"), 2).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")),

    // Sliding window (1 h size, 30 min slide → every event in 2 windows)
    "st02_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")),

    // Session window per user (1 h inactivity gap)
    "st03_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), Tables.dsum(col("value"), 2).as("session_value"))
        .select(date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("user_id"), col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")),

    // Batch analog of [[dedupWithinWatermark]]: the event stream plus
    // a hash-chosen redelivered slice (same event_id, 30 s later —
    // the at-least-once duplicate model), resolved to one row per key
    // by event-time minimum. n_seen exposes which keys were actually
    // redelivered, so the oracle checks the dedup did real work. One
    // hash exchange on event_id — exactly the state partitioning the
    // streaming operator uses.
    "st04_stream_dedup" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("user_id"),
        trim(col("event_type")).as("event_type"), col("ts"))
      val replay = e.filter(expr(
          s"${graft.functions.Portable.phashExpr("concat('rp:', CAST(event_id AS STRING))")} % $ReplayMod = 0"))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $ReplayDelaySec SECONDS"))
      e.unionByName(replay)
        .groupBy("event_id")
        .agg(max(col("user_id")).as("user_id"),
          max(col("event_type")).as("event_type"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          count(lit(1)).as("n_seen"))
        .orderBy("event_id")
    }),

    // Batch analog of [[nearDupDedupStream]] (the shared core IS the
    // streaming plan — StreamingSpec proves equivalence through a real
    // readStream): the incremental batch slice arrives as a stream
    // (synthetic deterministic arrival time: epoch-aligned base +
    // doc_id seconds), and each doc gets its near-dup verdict against
    // the standing corpus index within its 10-min arrival window.
    "st05_stream_neardup" -> ((s, d) => {
      val batch = Tables.documents(s, d)
        .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
        .select(col("doc_id"), col("text"), arrivalTs("doc_id"))
      val (cb, cs) = graft.ops.Dedup.corpusIndex(s, d)
      graft.ops.Dedup.nearDupDecisions(batch, cb, cs).orderBy("batch_doc")
    }),

    // st05 probed against the PERSISTED bucketed index (ops/BandIndex
    // — dd15's pristine read-only index is shared): the full 100 TB
    // ingest shape in one entry — an arriving doc stream computes its
    // signatures inline, probes the on-disk bucketed corpus band
    // table via the single folded bkey join (so the bucket layout's
    // co-partitioning can fire — only the arrivals shuffle), verifies
    // against the bucketed signature table, and emits one decision
    // per (arrival window, doc). Decisions are DEFINED identical to
    // st05's (same corpus content, persisted layout); StreamingSpec
    // drives the same core through a real readStream against the
    // persisted tables.
    "st06_stream_index_probe" -> ((s, d) => {
      val prefix = graft.ops.BandIndex.ensurePersisted(s, d)
      val batch = Tables.documents(s, d)
        .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
        .select(col("doc_id"), col("text"), arrivalTs("doc_id"))
      val (bands, sigs) = graft.ops.BandIndex.corpusFrames(s, prefix, None)
      graft.ops.Dedup.nearDupDecisions(batch, bands, sigs).orderBy("batch_doc")
    }),

    // The streaming ingest-maintenance LOOP's batch analog
    // (BandIndex.sequencedCycle): day 0 probes the batch and appends
    // its novel docs; day 1 re-ingests the SAME feed under
    // DayOffset-shifted ids and probes the index day 0 just grew.
    // Sequencing is observable in the output: every day-0 novel's
    // day-1 copy comes back dup_of its day-0 twin at est 1.0 — rows
    // non-null ONLY because the append between the probes happened.
    // This is what a foreachBatch maintenance sink does per
    // micro-batch (StreamingSpec drives the same two days through a
    // real readStream and requires row-identical decisions);
    // decisions are order-dependent by design, so the oracle replays
    // the two phases verbatim, shifted ids included.
    "st07_stream_index_maintain" -> ((s, d) =>
      graft.ops.BandIndex.sequencedCycle(s, d, "st07")),

    // st07's cycle driven through the log-fenced maintainBatch
    // sink, with day 0 REPLAYED in between — the batch analog of a
    // checkpoint restart that lost day 0's commit marker. The index's
    // commit log (stored WITH the index) turns the replay into a whole-batch
    // no-op; a second mutation would flip every day-0 novel to
    // dup_of-itself on day 1, which the shared two-phase oracle
    // would catch. StreamingSpec additionally proves the replay path
    // through a REAL checkpoint restart (commit marker deleted).
    "st08_stream_exactly_once" -> ((s, d) =>
      graft.ops.BandIndex.replayedCycle(s, d, "st08")),

    // The exactly-once design's WORST crash window driven end to end
    // (round 11): day 0's first attempt commits its band rows and
    // then "crashes" before the signature rows and the log commit. The
    // replay must re-probe behind the self-excluding batch fence
    // (bit-identical decisions to the crashed attempt — asserted
    // in-cycle), complete only the missing table (no duplicate band
    // rows), and the finished cycle must be indistinguishable from
    // st07's clean run — which the shared two-phase oracle proves.
    "st11_selffence_replay" -> ((s, d) =>
      graft.ops.BandIndex.selfFenceCycle(s, d, "st11")),

    // ANN SERVING as a stream — the vector-family analog of st06: a
    // query-vector stream (synthetic deterministic arrival times)
    // selects its probe cells via broadcast centroids in one
    // stateless projection, joins the PERSISTED cell table
    // (VecIndex/sim14 — the corpus never moves), and emits each
    // query's top-k within its arrival window through the
    // K-bounded topk_struct aggregate (state = K rows per query,
    // never cell-proportional). Batch analog of the shared core;
    // StreamingSpec drives the same dataflow through a real
    // readStream. Decisions = sim04's behind a window_start.
    "st09_stream_ann_probe" -> ((s, d) =>
      graft.ops.VecIndex.annTopK(s, d, graft.ops.VecIndex.ensurePersisted(s, d),
        arrivalQueries(s, d, withLabel = false)).orderBy("query_id", "neighbor_id")),

    // STREAMING MAINTENANCE for the vector index (round-11; VERDICT
    // r10 item 6) — st08's exactly-once discipline composed with
    // VecIndex.append: a fresh index on 3/4 of the corpus takes a
    // new-embeddings micro-batch through the log-fenced
    // maintainBatch, the batch is REPLAYED (commit marker lost) and
    // must be a whole-batch no-op, then the serving probe runs
    // against the maintained index. Final decisions are DEFINED
    // identical to sim04/sim14 (the maintained index equals the full
    // build), so the oracle is sim04's. StreamingSpec drives the
    // same maintenance through a real readStream foreachBatch with a
    // checkpoint restart.
    "st10_stream_ann_maintain" -> ((s, d) =>
      graft.ops.VecIndex.maintainedCycle(s, d, "st10")),

    // PQ SERVING as a stream — st09's analog over the IVF-PQ CODE
    // cells (sim18's layout): probe-cell selection is the same
    // stateless HOF ranking; ADC scoring joins the broadcast STATIC
    // codebook per code column (the batch LUT would be a
    // stream-stream join — see VecIndex.pqAnnTopK); per-query top-k
    // through topk_struct, where ADC's natural ascending order needs
    // no negation. Decisions = sim18's behind a window_start.
    "st12_stream_pq_serving" -> ((s, d) =>
      graft.ops.VecIndex.pqAnnTopK(s, d, graft.ops.VecIndex.ensurePqPersisted(s, d),
        arrivalQueries(s, d, withLabel = false)).orderBy("query_id", "neighbor_id")),

    // STREAMING MAINTENANCE for the PQ SERVING index (round 12 —
    // st10's discipline one level up): a fresh generation on 3/4 of
    // the corpus takes a new-embeddings micro-batch through the
    // log-fenced pqMaintainBatch (encoding against the
    // generation's PERSISTED codebook), the batch is REPLAYED
    // (commit marker lost) and must be a whole-batch no-op, then the
    // ADC serve runs against the maintained code cells. Final
    // decisions equal sim18's full build, same composed oracle.
    // StreamingSpec drives the same maintenance through a real
    // readStream foreachBatch with a checkpoint restart.
    "st13_stream_pq_maintain" -> ((s, d) =>
      graft.ops.VecIndex.pqMaintainedCycle(s, d, "st13")),

    // DRIFT MONITORING at the ingest stream (round 12 — dq07's
    // streaming form, st14): new-vector arrivals assign to cells via
    // the stateless broadcast-centroid HOF argmax, the reference
    // occupancy rides in as a broadcast static array BEFORE the one
    // pivoted aggregation (K bounded conditional sums per window —
    // never a second groupBy), and the per-window KL decision is the
    // same fixed decimal-exact fold as dq07's. Batch analog of the
    // shared core; StreamingSpec drives a real readStream.
    "st14_stream_drift" -> ((s, d) => {
      val batch = graft.Tables.embeddings(s, d)
        .filter(pmod(col("vec_id"), lit(4)) === lit(0))
        .select(col("vec_id"), col("embedding"), arrivalTs("vec_id"))
      graft.ops.VecIndex.streamingCellDrift(s, d, batch)
        .orderBy("window_start")
    }),

    // STREAMING FILTERED ANN (round 12, st16): sim22's
    // metadata-predicated serving as a stream — st09's dataflow with
    // the label predicate applied via a stream-static join against
    // the column-pruned label dim, BEFORE the cosine and the
    // K-bounded top-k state. Decisions = sim22's behind a
    // window_start; StreamingSpec drives a real readStream.
    "st16_stream_filtered_ann" -> ((s, d) =>
      graft.ops.VecIndex.filteredAnnTopK(s, d, graft.ops.VecIndex.ensurePersisted(s, d),
        arrivalQueries(s, d, withLabel = true)).orderBy("query_id", "neighbor_id")),

    // STREAMING COVERING-INDEX ANN (round 13, st17): st16's serving
    // stream against the COVERING cells (sim23's layout) — the label
    // predicate reads the cell row, so the per-micro-batch
    // stream-static dim join is gone. Decisions = st16's (same
    // assignment, same predicate, same ranking), so the oracle is
    // shared; StreamingSpec drives a real readStream.
    "st17_stream_covering_ann" -> ((s, d) =>
      graft.ops.VecIndex.coveringFilteredAnnTopK(s, d,
        graft.ops.VecIndex.ensureCoveringPersisted(s, d),
        arrivalQueries(s, d, withLabel = true)).orderBy("query_id", "neighbor_id")),

    // STREAMING HYBRID SEARCH (round 14, st18): sim26's text+vector
    // serving as an ingest stream — arriving query vectors probe the
    // PERSISTED IVF cell table (st09's lane) while their lexical
    // ranks come from the memoized static BM25 index (tx15's ranked
    // lists, built once and pinned — the train-once/serve-many split:
    // per micro-batch the lexical lane is a k-bounded join, never a
    // postings rebuild), fused with RRF per query. A query's fused
    // result needs only its own rows plus static state, so the
    // per-micro-batch form equals the whole-workload batch core row
    // for row (StreamingSpec drives a real readStream + foreachBatch).
    // Decisions are DEFINED identical to sim26's (the persisted-index
    // probe's decisions are sim04's — st09/st10's established
    // equivalence — and the lexical lane IS tx15's output), so the
    // oracle is shared.
    "st18_stream_hybrid_search" -> ((s, d) =>
      hybridServeCore(s, d, arrivalQueries(s, d, withLabel = false))
        .orderBy("query_id", "rk")),

    // FULLY-SERVED STREAMING HYBRID (round 15, st19): st18 with the
    // lexical lane moved from the session memo onto the PERSISTED
    // BM25 postings index — the durable serving split on both lanes
    // (sim29's streaming twin). Decisions DEFINED identical to
    // sim26/st18, shared oracle; StreamingSpec drives the served
    // core through the same two-micro-batch readStream protocol.
    "st19_stream_hybrid_served" -> ((s, d) =>
      hybridServedCore(s, d, arrivalQueries(s, d, withLabel = false))
        .orderBy("query_id", "rk")),

    // STREAMING LEXICAL MAINTENANCE (round 16, st20): the lexical
    // lane's st10 — the vector lane has had foreachBatch index
    // maintenance since round 11, but until now a restart after new
    // document arrivals would serve a STALE lexical postings index.
    // A fresh index on 3/4 of the corpus takes the arriving quarter
    // through the log-fenced LexIndex.maintainBatch (the log commit
    // made LAST certifies the batch; per-table idempotence
    // completes exactly what a crash left unwritten), the batch is
    // REPLAYED (commit marker lost) and must be a whole-batch no-op,
    // a compaction folds the appended files to one per bucket, then
    // the serving probe runs. Final index = full corpus, so the
    // oracle is tx15's; StreamingSpec drives the same maintenance
    // through a real readStream foreachBatch with a checkpoint
    // restart.
    "st20_stream_lex_maintain" -> ((s, d) =>
      graft.ops.LexIndex.maintainedCycle(s, d, "st20")),

    // STREAMING ADMISSION PIPELINE (round 12, st15): the composed
    // ingest flow — eval/quality/langid gates (row-local), the
    // contamination check against the static broadcast eval shingle
    // set, then the persisted-index near-dup probe for gate survivors
    // only (the production ordering: cheap stateless checks cut probe
    // volume). One verdict row per arriving doc. Batch analog of
    // Pipeline.admissionCore; StreamingSpec drives the same core
    // per micro-batch through a real readStream + foreachBatch and
    // requires row-identical verdicts.
    "st15_stream_admission" -> ((s, d) => {
      val arrivals = graft.Tables.documents(s, d)
        .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
        .select(col("doc_id"), col("lang"), col("text"), arrivalTs("doc_id"))
      graft.ops.Pipeline.admissionCore(s, d, graft.ops.BandIndex.ensurePersisted(s, d), arrivals)
        .orderBy("batch_doc")
    })
  )

  val oracle: Map[String, String] = oracleBase +
    // st06 = st05's decisions read through the persisted bucketed
    // index; identical by definition, so the oracle is the same SQL —
    // a divergence means the persisted layout (or the bkey-join path)
    // changed the dataflow's semantics.
    ("st06_stream_index_probe" -> oracleBase("st05_stream_neardup")) +
    ("st07_stream_index_maintain" -> st07OracleSql) +
    // st08 = st07's decisions, with a log-skipped replay in the
    // middle; DEFINED identical, so the oracle is the same SQL — a
    // divergence means the replay mutated the index after all.
    ("st08_stream_exactly_once" -> st07OracleSql) +
    // st11 = st07's decisions with a crash-between-table-writes +
    // self-fenced replay in the middle; DEFINED identical, so the
    // oracle is the same SQL — a divergence means the partial commit
    // leaked into the replay's decisions or the completed index.
    ("st11_selffence_replay" -> st07OracleSql) +
    // st09 = sim04's decisions behind the arrival window (same
    // synthetic ts convention as st05): the streamed top-k must
    // equal the batch IVF ANN row for row.
    ("st09_stream_ann_probe" -> st09OracleSql) +
    // st10 = sim04's decisions from a maintained (build-on-3/4 →
    // log-fenced append → replay-skipped) index; DEFINED
    // identical to the full build, so the oracle is sim04's — a
    // divergence means the maintenance mutated the decisions.
    ("st10_stream_ann_maintain" -> graft.ops.Similarity.oracle("sim04_ivf_ann")) +
    // st12 = sim18's ADC decisions behind the arrival window (the
    // st09 wrapper shape, adc_dist instead of cosine).
    ("st12_stream_pq_serving" -> st12OracleSql) +
    // st13 = sim18's decisions from a maintained (build-on-3/4 →
    // log-fenced append → replay-skipped) generation; DEFINED
    // identical to the full build, so the oracle is sim18's — a
    // divergence means maintenance re-encoded or mutated the cells.
    ("st13_stream_pq_maintain" -> graft.ops.Similarity.oracle("sim18_ivfpq_probe")) +
    // st20 = tx15's decisions from a maintained (build-on-3/4 →
    // log-fenced append + replay no-op → compact) lexical index:
    // the final index equals the full corpus, so the oracle is
    // tx15's — a divergence means maintenance changed serving.
    ("st20_stream_lex_maintain" -> graft.ops.TextAnalysis.oracle("tx15_bm25_topk")) +
    // st14 = dq07's KL decision per arrival window (see
    // Similarity.st14Sql — assignment, smoothing, and the
    // decimal-exact term fold mirrored end to end).
    ("st14_stream_drift" -> graft.ops.Similarity.st14Sql) +
    // st18 = sim26's fused decisions: the persisted-index vector
    // lane's decisions are sim04's (st09/st10's equivalence) and the
    // lexical lane IS tx15's output, so the fusion is DEFINED
    // identical — a divergence means the persisted probe or the
    // memoized lexical index changed the dataflow's semantics.
    ("st18_stream_hybrid_search" -> graft.ops.Similarity.oracle("sim26_hybrid_search")) +
    // st19 = st18's decisions with the lexical lane on the persisted
    // postings index; LexIndex.probe ≡ tx15's rows (tx16's oracle
    // identity), so the fusion is DEFINED identical — shared oracle.
    ("st19_stream_hybrid_served" -> graft.ops.Similarity.oracle("sim26_hybrid_search")) +
    // st15 = the admission gates composed with st05's probe shape;
    // the oracle coalesces verdicts exactly as admissionCore does.
    ("st15_stream_admission" -> graft.ops.Pipeline.st15Sql) +
    // st16 = sim22's decisions behind the arrival window (the st09
    // wrapper shape over the filtered-ANN oracle).
    ("st16_stream_filtered_ann" -> st16OracleSql) +
    // st17 = st16 served from the covering cells; decisions defined
    // identical, so the oracle is shared.
    ("st17_stream_covering_ann" -> st16OracleSql)

  private lazy val st12OracleSql: String = {
    import graft.ops.Similarity.KnnQueries
    s"""WITH t AS (
       |  ${graft.ops.Similarity.oracle("sim18_ivfpq_probe")}
       |),
       |q AS (
       |  SELECT vec_id AS query_id,
       |         TIMESTAMP '2024-01-01 00:00:00' + vec_id * INTERVAL 1 SECOND AS ts
       |  FROM embeddings WHERE vec_id < $KnnQueries
       |)
       |SELECT strftime(to_timestamp(CAST(floor(epoch(q.ts) / 600) AS BIGINT) * 600),
       |                '%Y-%m-%d %H:%M:%S') AS window_start,
       |       t.query_id, t.neighbor_id, t.cluster, t.adc_dist
       |FROM t JOIN q ON q.query_id = t.query_id
       |ORDER BY t.query_id, t.neighbor_id""".stripMargin
  }

  private lazy val st16OracleSql: String = {
    import graft.ops.Similarity.KnnQueries
    s"""WITH t AS (
       |  ${graft.ops.Similarity.oracle("sim22_filtered_ann")}
       |),
       |q AS (
       |  SELECT vec_id AS query_id,
       |         TIMESTAMP '2024-01-01 00:00:00' + vec_id * INTERVAL 1 SECOND AS ts
       |  FROM embeddings WHERE vec_id < $KnnQueries
       |)
       |SELECT strftime(to_timestamp(CAST(floor(epoch(q.ts) / 600) AS BIGINT) * 600),
       |                '%Y-%m-%d %H:%M:%S') AS window_start,
       |       t.query_id, t.neighbor_id, t.cluster, t.cosine
       |FROM t JOIN q ON q.query_id = t.query_id
       |ORDER BY t.query_id, t.neighbor_id""".stripMargin
  }

  private lazy val st09OracleSql: String = {
    import graft.ops.Similarity.KnnQueries
    s"""WITH t AS (
       |  ${graft.ops.Similarity.oracle("sim04_ivf_ann")}
       |),
       |q AS (
       |  SELECT vec_id AS query_id,
       |         TIMESTAMP '2024-01-01 00:00:00' + vec_id * INTERVAL 1 SECOND AS ts
       |  FROM embeddings WHERE vec_id < $KnnQueries
       |)
       |SELECT strftime(to_timestamp(CAST(floor(epoch(q.ts) / 600) AS BIGINT) * 600),
       |                '%Y-%m-%d %H:%M:%S') AS window_start,
       |       t.query_id, t.neighbor_id, t.cluster, t.cosine
       |FROM t JOIN q ON q.query_id = t.query_id
       |ORDER BY t.query_id, t.neighbor_id""".stripMargin
  }

  /** Two-phase CTE replay of the sequenced maintenance loop: day 0
    * probes the batch against the corpus bands; its unmatched docs'
    * bands join the corpus for day 1's probe of the SAME feed under
    * DayOffset-shifted ids (identical text ⇒ identical signature, so
    * day-1 bands/sigs are day-0's with shifted doc ids) — exactly
    * the engine's probe→append→probe sequencing. */
  private lazy val st07OracleSql: String = {
    import graft.ops.Dedup.{minhashCte, bandSelects, matchSum, MinhashK, IncBatchSrc}
    val Off = graft.ops.BandIndex.DayOffset
    s"""WITH $minhashCte,
       |src AS (SELECT doc_id, source FROM documents),
       |bands AS (
       |  $bandSelects
       |),
       |bb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
       |       WHERE s.source = '$IncBatchSrc'),
       |cb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
       |       WHERE s.source <> '$IncBatchSrc'),
       |bdocs AS (SELECT doc_id FROM documents WHERE source = '$IncBatchSrc'),
       |cand0 AS (
       |  SELECT DISTINCT bb.doc_id AS batch_doc, cb.doc_id AS corpus_doc
       |  FROM bb JOIN cb ON bb.key = cb.key AND bb.band = cb.band
       |),
       |v0 AS (
       |  SELECT batch_doc, corpus_doc,
       |         CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
       |  FROM cand0
       |  JOIN sigs sa ON sa.doc_id = batch_doc
       |  JOIN sigs sb ON sb.doc_id = corpus_doc
       |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
       |),
       |best0 AS (
       |  SELECT batch_doc, corpus_doc AS dup_of, est_jaccard,
       |         row_number() OVER (PARTITION BY batch_doc
       |                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
       |  FROM v0
       |),
       |dec0 AS (
       |  SELECT 0 AS day, d.doc_id AS batch_doc, b.dup_of, b.est_jaccard
       |  FROM bdocs d LEFT JOIN best0 b ON b.batch_doc = d.doc_id AND b.rn = 1
       |),
       |adm0 AS (
       |  SELECT batch_doc AS doc_id FROM dec0 WHERE dup_of IS NULL
       |),
       |cb1 AS (
       |  SELECT * FROM cb
       |  UNION ALL
       |  SELECT b.* FROM bands b JOIN adm0 ON adm0.doc_id = b.doc_id
       |),
       |bb1 AS (
       |  SELECT doc_id + $Off AS doc_id, band, key FROM bb
       |),
       |cand1 AS (
       |  SELECT DISTINCT bb1.doc_id AS batch_doc, cb1.doc_id AS corpus_doc
       |  FROM bb1 JOIN cb1 ON bb1.key = cb1.key AND bb1.band = cb1.band
       |),
       |v1 AS (
       |  SELECT batch_doc, corpus_doc,
       |         CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
       |  FROM cand1
       |  JOIN sigs sa ON sa.doc_id = batch_doc - $Off
       |  JOIN sigs sb ON sb.doc_id = corpus_doc
       |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
       |),
       |best1 AS (
       |  SELECT batch_doc, corpus_doc AS dup_of, est_jaccard,
       |         row_number() OVER (PARTITION BY batch_doc
       |                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
       |  FROM v1
       |),
       |dec1 AS (
       |  SELECT 1 AS day, d.doc_id + $Off AS batch_doc, b.dup_of, b.est_jaccard
       |  FROM bdocs d LEFT JOIN best1 b ON b.batch_doc = d.doc_id + $Off AND b.rn = 1
       |)
       |SELECT * FROM dec0
       |UNION ALL
       |SELECT * FROM dec1
       |ORDER BY batch_doc""".stripMargin
  }

  private lazy val oracleBase: Map[String, String] = Map(
    "st01_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // each event belongs to windows starting at floor(epoch/1800)*1800
    // and that minus 1800 (size = 2 × slide)
    "st02_sliding_window" ->
      """SELECT strftime(to_timestamp(CAST(floor(floor(epoch(ts)) / 1800) AS BIGINT) * 1800 - k * 1800),
        |                '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n
        |FROM events, (SELECT unnest([0, 1]) AS k) kk
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // session windows = gap-flag cumulative sum (classic sessionization)
    "st03_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |               OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) >= 3600
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |),
        |sessions AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged
        |)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, user_id,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "st04_stream_dedup" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, trim(event_type) AS event_type, ts FROM events
         |),
         |u AS (
         |  SELECT * FROM e
         |  UNION ALL
         |  SELECT event_id, user_id, event_type,
         |         ts + INTERVAL $ReplayDelaySec SECOND AS ts
         |  FROM e
         |  WHERE ${graft.functions.Portable.phashSql("'rp:' || CAST(event_id AS VARCHAR)")} % $ReplayMod = 0
         |)
         |SELECT event_id, max(user_id) AS user_id, max(event_type) AS event_type,
         |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
         |       count(*) AS n_seen
         |FROM u GROUP BY event_id ORDER BY event_id""".stripMargin,

    "st05_stream_neardup" ->
      s"""WITH ${graft.ops.Dedup.minhashCte},
         |bands AS (
         |  ${graft.ops.Dedup.bandSelects}
         |),
         |bt AS (
         |  SELECT doc_id,
         |         TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS ts
         |  FROM documents WHERE source = '${graft.ops.Dedup.IncBatchSrc}'
         |),
         |bb AS (
         |  SELECT b.* FROM bands b JOIN documents d ON b.doc_id = d.doc_id
         |  WHERE d.source = '${graft.ops.Dedup.IncBatchSrc}'
         |),
         |cb AS (
         |  SELECT b.* FROM bands b JOIN documents d ON b.doc_id = d.doc_id
         |  WHERE d.source <> '${graft.ops.Dedup.IncBatchSrc}'
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS batch_doc, c.doc_id AS corpus_doc
         |  FROM bb a JOIN cb c ON a.key = c.key AND a.band = c.band
         |),
         |best AS (
         |  SELECT batch_doc, corpus_doc, est,
         |         row_number() OVER (PARTITION BY batch_doc
         |                            ORDER BY est DESC, corpus_doc ASC) AS rn
         |  FROM (
         |    SELECT batch_doc, corpus_doc,
         |           CAST(${graft.ops.Dedup.matchSum} AS DOUBLE) / ${graft.ops.Dedup.MinhashK}.0 AS est
         |    FROM cand
         |    JOIN sigs sa ON sa.doc_id = batch_doc
         |    JOIN sigs sb ON sb.doc_id = corpus_doc
         |  ) WHERE est >= 0.5
         |)
         |SELECT strftime(to_timestamp(CAST(floor(epoch(bt.ts) / 600) AS BIGINT) * 600),
         |                '%Y-%m-%d %H:%M:%S') AS window_start,
         |       bt.doc_id AS batch_doc, b.corpus_doc AS dup_of,
         |       round(b.est, 6) AS est_jaccard
         |FROM bt LEFT JOIN best b ON b.batch_doc = bt.doc_id AND b.rn = 1
         |ORDER BY batch_doc""".stripMargin
  )
}
