package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. Runs one workload in this JVM:
  * set-up (session start, the workload's preparation and one untimed
  * warm-up iteration), then closed-loop timed jobs for `--seconds`,
  * then output checks outside the timed region. Writes one result
  * JSON file; `run.py` turns it into the benchmark's output line.
  *
  * Usage: Main --workload <name> --data <dir> --work <dir> --out <file>
  *   --seconds <n> --trace <0|1> --t0-ms <launch epoch ms>
  *   --rows <input rows> [--corrupt 1]
  */
object Main {
  val MinJobs = 5

  final case class Conf(workload: String, data: String, work: String, out: String,
      seconds: Double, trace: Boolean, t0Ms: Long, corrupt: Boolean, rows: Long)

  def parse(args: Array[String]): Conf = {
    val flags = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(flags("workload"), flags("data"), flags("work"), flags("out"),
      flags("seconds").toDouble, flags.get("trace").contains("1"), flags("t0-ms").toLong,
      flags.get("corrupt").contains("1"), flags("rows").toLong)
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(conf: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def freshState(spark: SparkSession): Unit = {
    graft.ops.Relational.clearMemo(spark)
    graft.ops.Dedup.clearMemo(spark)
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    new File(conf.work).mkdirs()
    val wl: Workload = conf.workload match {
      case "gtfs_day" => new GtfsDay(conf)
      case "corpus_day" => new CorpusDay(conf)
      case other => sys.error(s"unknown workload $other")
    }
    val res = new Result
    // set-up: process launch (the launcher's stamp, moved to the
    // nanoTime clock) -> session started, workload prepared, one
    // untimed warm-up iteration done
    val launchNs = System.nanoTime() - (System.currentTimeMillis() - conf.t0Ms) * 1000000L
    val spark = session(conf)
    val ts = System.nanoTime()
    wl.setUp(spark)
    val tw = System.nanoTime()
    wl.warmUp(spark)
    val setup = (System.nanoTime() - launchNs) / 1e9
    res.metric("setup_s", setup, "s")
    val tm = System.nanoTime()
    val listener = new EngineListener
    if (conf.trace) {
      spark.sparkContext.addSparkListener(listener)
      Trace.listener = Some(listener)
    }
    try wl.measure(spark, res, listener)
    catch {
      case e: Throwable =>
        res.failures += s"measure: ${e.toString}"
        res.failed += 1
        res.attempted += 1
        e.printStackTrace()
    }
    val tc = System.nanoTime()
    // the timed part is over: run.py may start its own checks now
    Files.write(Paths.get(s"${conf.work}/measured"), Array.emptyByteArray)
    try wl.check(spark, res)
    catch {
      case e: Throwable =>
        res.failures += s"check: ${e.toString}"
        res.failed += 1
        e.printStackTrace()
    }
    wl.close(spark)
    spark.stop()
    System.err.println(f"[perfbench] setup $setup%.1f s (session ${(ts - launchNs) / 1e9}%.1f s, " +
      f"prepare ${(tw - ts) / 1e9}%.1f s, warm-up ${setup - (tw - launchNs) / 1e9}%.1f s), measure " +
      f"${(tc - tm) / 1e9}%.1f s, check ${(System.nanoTime() - tc) / 1e9}%.1f s")
    res.metric("peak_rss_mb", Proc.vmHwmKb() / 1024.0, "MB")
    if (conf.trace)
      Files.write(Paths.get(s"${conf.work}/spans.json"),
        Trace.toJson.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(conf.out), res.toJson.getBytes(StandardCharsets.UTF_8))
  }
}

/** What a run reports back to run.py. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val series = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val checks = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }),
    "series" -> Json.obj(series.toSeq.map { case (k, xs) =>
      k -> xs.map(Json.num).mkString("[", ",", "]")
    }),
    "checks" -> checks.mkString("[", ",", "]"))) + "\n"
}

object Proc {
  def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally src.close()
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Data files (not checksums or markers) under `path`. */
  def dataFiles(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.count()
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
