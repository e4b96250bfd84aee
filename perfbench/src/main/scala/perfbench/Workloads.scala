package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.gtfs.{GoldReport, SilverTransform}
import graft.ops.{BandIndex, Dedup, IndexCore, LexIndex, Pipeline, VecIndex}
import Main.Conf

object Day {
  val day: LocalDate = LocalDate.of(2026, 2, 23)
}

/** The medallion job, closed loop, one job at a time: bronze JSON polls
  * -> silver parquet -> gold report parquet -> the most-expensive-line /
  * hardest-vehicle drill-down, collected. Every job starts from fresh
  * engine state and writes to a new directory. In a traced run, even
  * jobs are traced and odd ones are not, so the tracing overhead is
  * measured in the same process. Outputs are checked by run.py. */
final class Medallion(c: Conf) extends Workload(c) {
  val name = "medallion"
  private val bronze = s"${conf.data}/bronze"
  private val inputRows = conf.rows
  private def jobDir(i: Int) = s"${conf.work}/jobs/j$i"
  private var drill: (Row, Row) = _

  /** Timed jobs read the full input; the set-up's untimed job reads a
    * small sample (`i < 0`): the same plans at a fraction of the cost
    * (the median of the timed jobs leaves out the first one's JIT
    * warm-up at full size). */
  private def job(spark: SparkSession, i: Int): Unit = {
    val d = jobDir(i)
    val input = if (i < 0) s"${conf.data}/bronze_warm" else bronze
    val raw = Trace.span("gtfs.SilverTransform", "silver.read") {
      SilverTransform.readBronze(spark, s"$input/WAW")
    }
    val silver = Trace.span("gtfs.SilverTransform", "silver.transform") {
      SilverTransform.transform(raw, Day.day)
    }
    Trace.span("gtfs.SilverTransform", "silver.save") {
      SilverTransform.saveSilver(silver, s"$d/silver")
    }
    val saved = Trace.span("spark", "silver.load") { spark.read.parquet(s"$d/silver") }
    Trace.span("gtfs.GoldReport", "gold.report") {
      GoldReport.saveGold(GoldReport.createDailyReport(saved), s"$d/gold", Day.day)
    }
    drill = Trace.span("gtfs.GoldReport", "gold.drill") {
      val top = GoldReport.mostExpensiveLine(spark.read.parquet(s"$d/gold")).collect()
      val topDf = spark.createDataFrame(
        java.util.Arrays.asList(top: _*), top.head.schema)
      val slice = GoldReport.lineSlice(GoldReport.enrichWithMetrics(saved), topDf)
      (top.head, GoldReport.hardestWorkingVehicle(slice).collect().head)
    }
  }

  def setUp(spark: SparkSession): Unit = ()

  override def warmUp(spark: SparkSession): Unit = {
    Main.freshState(spark)
    job(spark, -1)
    Proc.deleteTree(jobDir(-1))
  }

  /** Untimed bookkeeping after a timed job: output record, cleanup. */
  private def afterJob(spark: SparkSession, i: Int, res: Result): Unit = {
    val d = jobDir(i)
    if (!res.metrics.contains("silver.rows_kept")) {
      val kept = spark.read.parquet(s"$d/silver").count().toDouble
      res.metric("silver.rows_in", inputRows.toDouble, "count")
      res.metric("silver.rows_kept", kept, "count")
      res.metric("silver.keep_ratio", kept / inputRows, "ratio")
      res.metric("gold.lines_out", spark.read.parquet(s"$d/gold").count().toDouble, "count")
    }
    Proc.deleteTree(s"$d/silver")
    val (top, veh) = drill
    res.checks += Json.obj(Seq(
      "kind" -> Json.str("gold"), "job" -> i.toString,
      "gold" -> Json.str(s"$d/gold"),
      "top_line" -> Json.str(top.getAs[String]("Lines")),
      "vehicle" -> Json.str(veh.getAs[String]("VehicleNumber")),
      "vehicle_km" -> Json.num(veh.getAs[Double]("total_v_dist"))))
  }

  /** Wait until the listener's counters stop moving (its bus is async). */
  private def quiesce(l: EngineListener): Unit = {
    var last = l.snapshot
    var stable = 0
    val until = System.nanoTime() + 3000000000L
    while (stable < 3 && System.nanoTime() < until) {
      Thread.sleep(20)
      val now = l.snapshot
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  def measure(spark: SparkSession, res: Result, listener: EngineListener): Unit = {
    val sc = spark.sparkContext
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val eng = mutable.ArrayBuffer.empty[(Counters, Double)]
    val tracedRuns = mutable.ArrayBuffer.empty[String]
    val pairs = mutable.Map.empty[Int, Double]
    val ratios = mutable.ArrayBuffer.empty[Double]
    val outFiles = mutable.ArrayBuffer.empty[Double]
    val outBytes = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    var i = 0
    var listening = conf.trace
    // a traced run alternates traced and untraced jobs: at least two
    // pairs after the first, whose warm-up tail is left out of the
    // overhead estimate
    val need = if (conf.trace) 6 else Main.MinJobs
    while (i < need || System.nanoTime() < deadline) {
      val tr = conf.trace && i % 2 == 0
      if (conf.trace && tr != listening) {
        if (tr) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
        listening = tr
      }
      Main.freshState(spark)
      val runId = s"job$i"
      Trace.run = runId
      Trace.on = tr
      if (tr) { quiesce(listener); listener.forget() }
      val c0 = listener.snapshot
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      res.attempted += 1
      val ok =
        try { Trace.span("bench", s"$name.job")(job(spark, i)); true }
        catch {
          case e: Throwable =>
            res.failed += 1
            res.failures += s"job $i: ${e.toString}"
            e.printStackTrace()
            false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      Trace.on = false
      if (ok) {
        if (tr) {
          traced += secs
          tracedRuns += runId
          pairs(i / 2) = secs
          quiesce(listener)
          val d = listener.snapshot - c0
          eng += ((d, listener.driverGapMs(w0, w1) / 1000.0))
        } else {
          plain += secs
          if (conf.trace) pairs.get(i / 2).foreach(t => ratios += t / secs)
        }
        outFiles += Proc.dataFiles(jobDir(i)).toDouble
        outBytes += Proc.dirBytes(jobDir(i)).toDouble
        afterJob(spark, i, res)
      }
      i += 1
    }
    // leave the listener attached, as a traced run found it
    if (conf.trace && !listening) sc.addSparkListener(listener)
    val jobs = if (plain.nonEmpty) plain.toSeq else traced.toSeq
    res.series("job_s") = jobs
    res.series("traced_job_s") = traced.toSeq
    val p50 = Stats.median(jobs)
    res.metric("job_s", p50, "s")
    res.metric("job_p95_s", Stats.quantile(jobs, 0.95), "s")
    res.metric("rows_per_s", inputRows / p50, "1/s")
    res.metric("jobs", jobs.size.toDouble, "count")
    res.metric("space_amp", Stats.median(outBytes.toSeq) / Proc.dirBytes(bronze), "ratio")
    res.metric("spark.output_files", Stats.median(outFiles.toSeq), "count")
    if (conf.trace && traced.nonEmpty) {
      Report.engine(res, eng.toSeq)
      Report.layers(res, tracedRuns.toSeq, traced.toSeq)
      // traced job 2k against untraced job 2k+1, pair 0 left out
      res.metric("trace.overhead", Stats.median(ratios.drop(1).toSeq) - 1.0, "ratio")
    }
  }
}

/** The paper's gtfs layer, batch and incremental, in one process:
  * the closed-loop medallion phase (`SilverTransform` and `GoldReport`,
  * job time), then the open-loop stream phase (`Streams`, poll
  * latency). Each phase measures for `--seconds`. */
final class GtfsDay(c: Conf) extends Workload(c) {
  val name = "gtfs_day"
  private val med = new Medallion(c)
  private val stream = new StreamGold(c)
  def setUp(spark: SparkSession): Unit = {
    stream.setUp(spark)
    med.setUp(spark)
  }
  // the medallion's warm-up directly precedes its timed jobs
  override def warmUp(spark: SparkSession): Unit = {
    stream.warmUp(spark)
    med.warmUp(spark)
  }
  /** The stream warms up again right before it is timed, as it would
    * as a workload of its own: the first micro-batch after the
    * medallion phase runs ~50% slower. That is set-up time too. */
  def measure(spark: SparkSession, res: Result, listener: EngineListener): Unit = {
    med.measure(spark, res, listener)
    val t0 = System.nanoTime()
    stream.rewarm()
    val (setup, unit) = res.metrics("setup_s")
    res.metric("setup_s", setup + (System.nanoTime() - t0) / 1e9, unit)
    stream.measure(spark, res, listener)
    stream.flush()
  }
  override def check(spark: SparkSession, res: Result): Unit = stream.check(spark, res)
  override def close(spark: SparkSession): Unit = stream.close(spark)
}

/** The LLM-data day over a seeded corpus, as one job measured from a
  * cold JVM, the way a nightly batch job runs: the pipe01 curation
  * audit and pipe02 shard manifest (each written to parquet), then the
  * day-N+1 lifecycle of the band, lex and vec index families --
  * persist the base, one daily maintainBatch append, its replay, which
  * must be a no-op, compact, and a serving probe written to
  * parquet. Latency percentiles are over the day's public calls.
  * Checks: the curation outputs against the DuckDB oracle SQL
  * (run.py); each final probe against a probe of an index built in
  * one shot over the same rows, and every replay a no-op (here). */
final class CorpusDay(c: Conf) extends Workload(c) {
  val name = "corpus_day"
  private val dir = s"${conf.data}/corpus"
  private def out = s"${conf.work}/day"

  /** One index family as the lifecycle drives it. */
  private final class Fam(val key: String, val layer: String,
      val persist: (SparkSession, String, String) => Unit,
      val maintain: (SparkSession, String) => (Boolean, Option[DataFrame]),
      val compact: (SparkSession, String) => Unit,
      val probe: (SparkSession, String) => DataFrame,
      val oneShot: (SparkSession, String, String) => Unit,
      val tables: String => Seq[String],
      val drop: (SparkSession, String) => Unit)

  private def docs(s: SparkSession) = graft.Tables.documents(s, dir)
  private def vecs(s: SparkSession) = graft.Tables.embeddings(s, dir).select("vec_id", "embedding")
  // lex/vec: the base holds ids with id % 4 != 3, the day's batch the
  // rest. band: the base is the corpus (source != src0, as
  // Dedup.corpusIndex defines it), the day's batch is src0.
  private val Batch = 0L
  private def held(id: String) = expr(s"$id % 4 = 3")
  private def bandBatch(s: SparkSession) =
    docs(s).filter(col("source") === Dedup.IncBatchSrc).select("doc_id")

  private val fams: Seq[Fam] = Seq(
    new Fam("band", "ops.BandIndex",
      (s, path, p) => BandIndex.persist(s, dir, path, p),
      (s, p) => { val r = BandIndex.maintainBatch(s, dir, p, bandBatch(s), Batch); (r.isDefined, r) },
      (s, p) => BandIndex.compact(s, p),
      (s, p) => BandIndex.probe(s, dir, p),
      (s, path, p) => {
        BandIndex.persist(s, dir, path, p)
        BandIndex.maintainBatch(s, dir, p, bandBatch(s), Batch)
      },
      p => Seq(BandIndex.bandsTable(p), BandIndex.sigsTable(p)),
      (s, p) => BandIndex.drop(s, p)),
    new Fam("lex", "ops.LexIndex",
      (s, path, p) => LexIndex.persist(s, dir, path, p, Some(docs(s).filter(expr("doc_id % 4 != 3")))),
      (s, p) => (LexIndex.maintainBatch(s, dir, p, docs(s).filter(held("doc_id")), Batch), None),
      (s, p) => LexIndex.compact(s, p),
      (s, p) => LexIndex.probe(s, dir, p),
      (s, path, p) => LexIndex.persist(s, dir, path, p),
      p => Seq(LexIndex.postingsTable(p), LexIndex.docstatsTable(p), LexIndex.statsTable(p)),
      (s, p) => LexIndex.drop(s, p)),
    new Fam("vec", "ops.VecIndex",
      (s, path, p) => VecIndex.persist(s, dir, path, p, Some(vecs(s).filter(expr("vec_id % 4 != 3")))),
      (s, p) => (VecIndex.maintainBatch(s, dir, p, vecs(s).filter(held("vec_id")), Batch), None),
      (s, p) => VecIndex.compact(s, p),
      (s, p) => VecIndex.probe(s, dir, p),
      (s, path, p) => VecIndex.persist(s, dir, path, p),
      p => Seq(VecIndex.cellsTable(p)),
      (s, p) => VecIndex.drop(s, p)))

  private def prefix(f: Fam) = s"pb_${f.key}"

  /** Set-up: the oracle SQL for run.py and the corpus tables resolved
    * (the session itself is started by the caller). */
  def setUp(spark: SparkSession): Unit = {
    Seq("pipe01_curation_audit", "pipe02_shard_manifest").foreach { q =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${conf.work}/$q.sql"),
        Pipeline.oracle(q).getBytes("UTF-8"))
    }
    docs(spark).schema
    vecs(spark).schema
  }

  override def close(spark: SparkSession): Unit = fams.foreach(f => f.drop(spark, prefix(f)))

  private val ops = mutable.ArrayBuffer.empty[Double]
  private var replayOk = true
  private val admitted = mutable.ArrayBuffer.empty[DataFrame]

  /** One public call: timed always, traced when tracing is on. */
  private def op[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.span(layer, name)(body)
    ops += (System.nanoTime() - t0) / 1e9
    r
  }

  private def fileCount(s: SparkSession, f: Fam, p: String): Int =
    Trace.span("ops.IndexCore", s"${f.key}.table_files") {
      f.tables(p).map(t => IndexCore.tableFiles(s, t).size).sum
    }

  def measure(spark: SparkSession, res: Result, listener: EngineListener): Unit = {
    val counts = mutable.LinkedHashMap.empty[String, Double]
    Main.freshState(spark)
    Trace.run = "day"
    Trace.on = conf.trace
    listener.busyNs = 0L
    val c0 = listener.snapshot
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    Trace.span("bench", s"$name.job") {
      op("ops.Pipeline", "curation.audit") {
        Pipeline.queries("pipe01_curation_audit")(spark, dir).write.parquet(s"$out/audit")
      }
      op("ops.Pipeline", "curation.manifest") {
        Pipeline.queries("pipe02_shard_manifest")(spark, dir).write.parquet(s"$out/manifest")
      }
      fams.foreach { f =>
        val p = prefix(f)
        op(f.layer, s"${f.key}.persist")(f.persist(spark, s"$out/${f.key}", p))
        val (applied, dec) = op(f.layer, s"${f.key}.maintain")(f.maintain(spark, p))
        replayOk &&= applied
        admitted ++= dec
        val (replayed, _) = op(f.layer, s"${f.key}.replay")(f.maintain(spark, p))
        replayOk &&= !replayed
        counts(s"${f.key}.files_before_compact") = fileCount(spark, f, p)
        op(f.layer, s"${f.key}.compact")(f.compact(spark, p))
        counts(s"${f.key}.files_after_compact") = fileCount(spark, f, p)
        op(f.layer, s"${f.key}.probe")(f.probe(spark, p).write.parquet(s"$out/probe_${f.key}"))
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    Trace.on = false
    res.attempted += ops.size
    res.series("job_s") = Seq(secs)
    res.series("op_s") = ops.toSeq
    res.metric("job_s", secs, "s")
    res.metric("latency_p50_s", Stats.median(ops.toSeq), "s")
    res.metric("latency_p95_s", Stats.quantile(ops.toSeq, 0.95), "s")
    res.metric("rows_per_s", conf.rows / secs, "1/s")
    counts.foreach { case (k, v) => res.metric(k, v, "count") }
    val inBytes = Proc.dirBytes(s"$dir/documents.parquet") + Proc.dirBytes(s"$dir/embeddings.parquet")
    val idxBytes = fams.map { f =>
      val b = Proc.dirBytes(s"$out/${f.key}").toDouble
      res.metric(s"${f.key}.index_bytes", b, "bytes")
      b
    }.sum
    res.metric("space_amp", idxBytes / inBytes, "ratio")
    res.metric("spark.output_files", Proc.dataFiles(out).toDouble, "count")
    val all = admitted.map(_.count()).sum.toDouble
    res.metric("band.admit_ratio",
      admitted.map(_.filter(col("dup_of").isNull).count()).sum / math.max(1.0, all), "ratio")
    res.checks += Json.obj(Seq(
      "kind" -> Json.str("curation"), "job" -> "0",
      "audit" -> Json.str(s"$out/audit"), "manifest" -> Json.str(s"$out/manifest")))
    if (conf.trace) {
      Report.engine(res, Seq((listener.snapshot - c0, listener.driverGapMs(w0, w1) / 1000.0)))
      Report.layers(res, Seq("day"), Seq(secs))
      // one job per run, so no untraced twin: the overhead is the
      // recorder's and the listener's own time per second of job
      res.metric("trace.overhead", (Trace.bookkeepingNs + listener.busyNs) / 1e9 / secs, "ratio")
    }
  }

  override def check(spark: SparkSession, res: Result): Unit = {
    if (!replayOk) {
      res.failed += 1
      res.failures += "a daily append was skipped or a replayed batch was not a no-op"
    }
    // the three one-shot references are independent: build them
    // concurrently (graft's session-scoped memos are concurrent maps)
    Main.freshState(spark)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(fams.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val refs = fams.map { f =>
      Future {
        val p = s"pb_${f.key}_ref"
        f.oneShot(spark, s"${conf.work}/ref/${f.key}", p)
        val rows = Rows.canon(f.probe(spark, p).collect())
        f.drop(spark, p)
        f -> rows
      }
    }
    val expected = try Await.result(Future.sequence(refs), Duration.Inf) finally pool.shutdown()
    expected.foreach { case (f, want0) =>
      val want = if (conf.corrupt) Rows.corrupt(want0) else want0
      if (Rows.canon(spark.read.parquet(s"$out/probe_${f.key}").collect()) != want) {
        res.failed += 1
        res.failures += s"${f.key}: final probe differs from a one-shot build's"
      }
    }
  }
}

/** Row canonicalisation for result comparison: values rendered to
  * strings, doubles to 9 significant digits, rows sorted. */
object Rows {
  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d == 0.0) "0" else f"$d%.9g"
    case f: Float => f"${f.toDouble}%.6g"
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case o => o.toString
  }
  def canon(rows: Array[Row]): Seq[String] =
    rows.map(r => r.toSeq.map(cell).mkString("|")).toSeq.sorted
  /** A deliberately wrong expectation (one row dropped). */
  def corrupt(rows: Seq[String]): Seq[String] = rows.drop(1)
}
