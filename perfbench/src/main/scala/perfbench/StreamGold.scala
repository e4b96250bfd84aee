package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.gtfs.{GoldReport, SilverTransform}
import graft.streaming.Streams
import Main.Conf

/** Incremental gold: a generator thread drops staged bronze polls into
  * the stream's source directory on the input's open-loop schedule
  * (copied aside, then renamed in atomically); `Streams.cleanStream`
  * over `Streams.bronzeStream` (its default files-per-trigger cap)
  * feeds `Streams.goldRefresh`. Latency of a
  * poll = commit time of the micro-batch that read it minus the
  * poll's scheduled write time. After the run a far-future sentinel
  * poll flushes the reorder buffers, and the folded gold partials
  * must equal the batch gold report over the same polls. */
final class StreamGold(c: Conf) extends Workload(c) {
  val name = "stream_gold"
  private val staged = s"${conf.data}/polls"
  /** The staged polls in drop order: (file, records, drop time in ms
    * after the measured phase starts; -2 for a set-up warm-up poll, -1
    * for a warm-up poll dropped right before the measured phase). */
  private val staging: Seq[(String, Long, Long)] =
    scala.io.Source.fromFile(s"$staged/schedule.tsv").getLines().map { l =>
      val Array(n, r, at) = l.split("\t"); (n, r.toLong, at.toLong)
    }.toSeq
  private val records: Map[String, Long] = staging.map(p => p._1 -> p._2).toMap
  private def warmPolls(at: Long): Seq[String] = staging.filter(_._3 == at).map(_._1)

  private var base = ""
  private var q: StreamingQuery = _
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val qListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private def src = s"$base/src"

  /** Copy a staged poll aside, then rename it into the source dir. */
  private def drop(n: String): Long = {
    val tmp = Paths.get(s"$base/tmp/$n")
    Files.copy(Paths.get(s"$staged/$n"), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(s"$src/$n"), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  def setUp(spark: SparkSession): Unit = {
    base = s"${conf.work}/stream"
    Seq("src", "tmp").foreach(d => new File(s"$base/$d").mkdirs())
    spark.streams.addListener(qListener)
    // as StreamingSpec's day-parity proof: a 25 h watermark and TTL
    // cover stale-clock pings; the day filter mirrors the batch gate
    val clean = Streams.cleanStream(
      Streams.bronzeStream(spark, src), watermark = "25 hours")
      .filter(to_date(col("Time")) === lit(java.sql.Date.valueOf(Day.day)))
    q = Streams.goldRefresh(clean, s"$base/gold", s"$base/ckpt", stateTtlSec = 25L * 3600L)
  }

  /** Warm-up: one micro-batch per warm-up poll. */
  override def warmUp(spark: SparkSession): Unit = warmPolls(-2).foreach(dropOne)
  def rewarm(): Unit = warmPolls(-1).foreach(dropOne)
  private def dropOne(n: String): Unit = { drop(n); q.processAllAvailable() }

  override def close(spark: SparkSession): Unit = {
    if (q != null && q.isActive) q.stop()
    spark.streams.removeListener(qListener)
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  /** file name -> source log offset, from the checkpoint's
    * file-source log (plain and compacted entries). */
  private def logOffsetOfFile(): Map[String, Long] = {
    val dir = new File(s"$base/ckpt/sources/0")
    val Entry = "\"path\":\"([^\"]+)\"[^}]*\"batchId\":(\\d+)".r
    dir.listFiles().filter(_.isFile).flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      Entry.findAllMatchIn(text).map(m => m.group(1).split('/').last -> m.group(2).toLong)
    }.toMap
  }

  private def logOffset(json: String): Long =
    Option(json).flatMap("\"logOffset\":(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).getOrElse(-1L)

  /** file name -> query batch id: a batch holds the source log
    * offsets in (startOffset, endOffset]. */
  private def batchOfFile(prog: Seq[StreamingQueryProgress]): Map[String, Long] = {
    val ranges = prog.filter(_.sources.nonEmpty).map { p =>
      (logOffset(p.sources(0).startOffset), logOffset(p.sources(0).endOffset), p.batchId)
    }
    logOffsetOfFile().flatMap { case (n, off) =>
      ranges.find { case (lo, hi, _) => off > lo && off <= hi }.map(r => n -> r._3)
    }
  }

  /** Wait until the listener has seen the query's last progress. */
  private def drainProgress(): Unit = {
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val until = System.currentTimeMillis() + 10000
    while (!progress.asScala.exists(_.batchId >= last) && System.currentTimeMillis() < until)
      Thread.sleep(10)
  }

  def measure(spark: SparkSession, res: Result, listener: EngineListener): Unit = {
    val measured = staging.filter(p => p._3 >= 0 && p._3 < conf.seconds * 1000)
    val n = measured.size
    val polls = measured.map(_._1)
    val warmBatches = progress.asScala.map(_.batchId).toSet
    val t0 = System.currentTimeMillis() + 100
    val sched = measured.map(t0 + _._3)
    val actual = new Array[Long](n)
    val gen = new Thread(() => {
      polls.indices.foreach { k =>
        val wait = sched(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        actual(k) = drop(polls(k))
      }
    }, "poll-generator")
    Trace.on = conf.trace
    Trace.run = "stream"
    val c0 = listener.snapshot
    listener.busyNs = 0L
    gen.start()
    gen.join()
    q.processAllAvailable()
    val w1 = System.currentTimeMillis()
    Trace.on = false
    drainProgress()
    val all = progress.asScala.toSeq.sortBy(_.batchId)
    val byFile = batchOfFile(all)
    val prog = all.filterNot(p => warmBatches(p.batchId)).filter(_.numInputRows > 0)
    val commit = prog.map(p => p.batchId -> commitMs(p)).toMap
    val lat = polls.indices.flatMap { k =>
      byFile.get(polls(k)).flatMap(commit.get).map(cm => (cm - sched(k)) / 1000.0)
    }
    res.attempted += n
    val lost = n - lat.size
    if (lost > 0) {
      res.failed += lost
      res.failures += s"$lost polls never committed"
    }
    res.series("latency_s") = lat
    res.series("batch_files") = prog.map(p => byFile.count(_._2 == p.batchId).toDouble)
    res.series("batch_s") = prog.map(p => p.durationMs.get("triggerExecution").longValue / 1000.0)
    res.metric("latency_p50_s", Stats.median(lat), "s")
    res.metric("latency_p95_s", Stats.quantile(lat, 0.95), "s")
    val late = polls.indices.map(k => (actual(k) - sched(k)).toDouble)
    res.metric("generator.late_ms", Stats.quantile(late, 0.95), "ms")
    val dur = (p: StreamingQueryProgress, k: String) =>
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    val recsOf = prog.map { p =>
      p.batchId -> byFile.filter(_._2 == p.batchId).keys.toSeq.map(records.getOrElse(_, 0L)).sum
    }.toMap
    res.metric("stream.rows_per_s",
      Stats.median(prog.map(p => recsOf(p.batchId) / dur(p, "triggerExecution"))), "1/s")
    res.metric("stream.batch_s", Stats.median(prog.map(dur(_, "triggerExecution"))), "s")
    res.metric("stream.add_batch_s", Stats.median(prog.map(dur(_, "addBatch"))), "s")
    res.metric("stream.latest_offset_s", Stats.median(prog.map(dur(_, "latestOffset"))), "s")
    res.metric("stream.wal_commit_s", Stats.median(prog.map(dur(_, "walCommit"))), "s")
    res.metric("stream.batches", prog.size.toDouble, "count")
    res.metric("stream.files_per_batch",
      Stats.median(prog.map(p => byFile.count(_._2 == p.batchId).toDouble)), "count")
    val lastState = prog.lastOption.flatMap(_.stateOperators.headOption)
    res.metric("stream.state_rows", lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    res.metric("stream.state_bytes", lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    // backlog at each drop: polls dropped so far minus polls committed
    val commitOfPoll = polls.indices.map(k => byFile.get(polls(k)).flatMap(commit.get).getOrElse(Long.MaxValue))
    val backlog = polls.indices.map { k =>
      (0 to k).count(j => commitOfPoll(j) > actual(k)).toDouble
    }
    res.metric("stream.backlog_max_polls", if (backlog.isEmpty) 0.0 else backlog.max, "count")
    res.metric("stream.space_amp", Proc.dirBytes(s"$base/gold").toDouble / Proc.dirBytes(src), "ratio")
    res.metric("stream.output_files_per_batch", Proc.dataFiles(s"$base/gold").toDouble / math.max(1, prog.size), "count")
    if (conf.trace) {
      // per-batch spans from the query progress: the batch, with one
      // child per reported phase (latestOffset, addBatch, walCommit, ...)
      prog.foreach { p =>
        val s = Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val e = commitMs(p) * 1000000L
        val id = Trace.record("bench", "stream.batch", 0, s, e)
        var at = s
        p.durationMs.keySet.asScala.toSeq.sorted.filter(_ != "triggerExecution").foreach { k =>
          val d = (dur(p, k) * 1e9).toLong
          Trace.record("streaming.Streams", s"stream.$k", id, at, at + d)
          at += d
        }
      }
      val nb = math.max(1, prog.size).toDouble
      Report.engine(res, Seq((listener.snapshot - c0, listener.driverGapMs(t0, w1) / 1000.0)),
        prefix = "stream.", per = nb)
      val self = Trace.selfByLayer("stream")
      val batchNs = prog.map(p => (commitMs(p) - Instant.parse(p.timestamp).toEpochMilli) * 1e6).sum
      res.metric("stream.trace.self_cover",
        self.filter(_._1 != "bench").values.sum / math.max(1.0, batchNs), "ratio")
      res.metric("stream.trace.spans", Trace.all.count(_.run == "stream") / nb, "count")
      // no untraced twin runs in this process, so the overhead is the
      // recorder's and the listener's own time per second of batches
      res.metric("stream.trace.overhead", (Trace.bookkeepingNs + listener.busyNs) / 1e9 /
        math.max(1e-9, prog.map(dur(_, "triggerExecution")).sum), "ratio")
    }
  }

  /** End the stream: flush the reorder buffers and stop the query. */
  def flush(): Unit = {
    // end-of-capture flush: a far-future sentinel advances the
    // watermark past every vehicle's last ping + TTL
    val sentinel = "WAW_20260226_000000.json"
    Files.write(Paths.get(s"$base/tmp/$sentinel"),
      """{"result":[{"Lines":"999","VehicleNumber":"SENTINEL","Lat":52.2,"Lon":21.0,"Time":"2026-02-26 00:00:00"}]}"""
        .getBytes("UTF-8"))
    Files.move(Paths.get(s"$base/tmp/$sentinel"), Paths.get(s"$src/$sentinel"),
      StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
    q.stop()
  }

  override def check(spark: SparkSession, res: Result): Unit = {
    if (q.isActive) flush()
    val partials = spark.read.parquet(s"$base/gold")
    val folded = partials.groupBy("Lines").agg(
      sum("total_distance_km").as("total_distance_km"),
      sum("total_cost_pln").as("total_cost_pln"),
      max("max_segment_km").as("max_segment_km"),
      sum("data_points_count").as("data_points_count"),
      sum("sum_speed_kmh").as("sum_speed_kmh"),
      max("max_recorded_speed").as("max_recorded_speed"))
      .withColumn("avg_speed", col("sum_speed_kmh") / col("data_points_count"))
      .select("Lines", "total_distance_km", "total_cost_pln", "max_segment_km",
        "data_points_count", "avg_speed", "max_recorded_speed")
    val batch = GoldReport.createDailyReport(
      SilverTransform.transform(SilverTransform.readBronze(spark, src), Day.day))
      .select("Lines", "total_distance_km", "total_cost_pln", "max_segment_km",
        "data_points_count", "avg_speed", "max_recorded_speed")
    val got = Rows.canon(folded.collect())
    val want0 = Rows.canon(batch.collect())
    val want = if (conf.corrupt) Rows.corrupt(want0) else want0
    res.attempted += 1
    res.metric("stream.gold_lines", got.size.toDouble, "count")
    if (got != want) {
      res.failed += 1
      res.failures += s"folded partials != batch report (${got.size} vs ${want.size} lines; " +
        s"${got.diff(want).take(2).mkString("; ")})"
    }
  }
}
