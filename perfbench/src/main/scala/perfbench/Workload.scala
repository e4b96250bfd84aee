package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Main.Conf

/** One benchmark workload: set up per session, measure, check. */
abstract class Workload(val conf: Conf) {
  def name: String
  /** Session-scoped preparation, part of the set-up. */
  def setUp(spark: SparkSession): Unit
  /** One untimed warm-up iteration, the last part of the set-up: it
    * pays the JVM's and the session's first-use costs (class loading,
    * JIT, codegen) before anything is timed. */
  def warmUp(spark: SparkSession): Unit = ()
  def measure(spark: SparkSession, res: Result, listener: EngineListener): Unit
  /** Output checks made here, outside the timed region (run.py makes
    * the DuckDB ones). */
  def check(spark: SparkSession, res: Result): Unit = ()
  def close(spark: SparkSession): Unit = ()
}

/** Per-layer metrics shared by the workloads. */
object Report {
  /** Engine counters: median over the given units (jobs or batches)
    * of each counter delta, with the unit's driver gap, divided by
    * `per` (a count of units the deltas span). */
  def engine(res: Result, units: Seq[(Counters, Double)], prefix: String = "",
      per: Double = 1.0): Unit = {
    def med(f: Counters => Double) = Stats.median(units.map(e => f(e._1))) / per
    res.metric(s"${prefix}spark.scan_bytes", med(_.scanBytes.toDouble), "bytes")
    res.metric(s"${prefix}spark.task_run_s", med(_.taskRunMs / 1000.0), "s")
    res.metric(s"${prefix}spark.task_cpu_s", med(_.taskCpuNs / 1e9), "s")
    res.metric(s"${prefix}spark.gc_s", med(_.gcMs / 1000.0), "s")
    res.metric(s"${prefix}spark.shuffle_write_bytes", med(_.shuffleWrite.toDouble), "bytes")
    res.metric(s"${prefix}spark.shuffle_read_bytes", med(_.shuffleRead.toDouble), "bytes")
    res.metric(s"${prefix}spark.spill_bytes", med(_.spill.toDouble), "bytes")
    res.metric(s"${prefix}spark.output_bytes", med(_.outBytes.toDouble), "bytes")
    res.metric(s"${prefix}spark.jobs", med(_.jobs.toDouble), "count")
    res.metric(s"${prefix}spark.stages", med(_.stages.toDouble), "count")
    res.metric(s"${prefix}spark.driver_gap_s", Stats.median(units.map(_._2)) / per, "s")
  }

  /** Layer self times, their coverage of the job wall time, and the
    * median duration of each named span, over the traced runs. */
  def layers(res: Result, runIds: Seq[String], jobSecs: Seq[Double]): Unit = {
    val selfs = runIds.map(Trace.selfByLayer)
    val cover = selfs.zip(jobSecs).map { case (s, secs) =>
      s.filter(_._1 != "bench").values.sum / 1e9 / secs
    }
    res.metric("trace.self_cover", Stats.median(cover), "ratio")
    res.metric("trace.spans", Trace.all.count(s => runIds.contains(s.run)).toDouble / runIds.size, "count")
    selfs.flatMap(_.keys).distinct.foreach { l =>
      res.metric(s"layer.$l.self_s", Stats.median(selfs.map(_.getOrElse(l, 0L) / 1e9)), "s")
    }
    val perRun = runIds.map { r =>
      Trace.all.filter(s => s.run == r && s.layer != "bench")
        .groupBy(_.name).map { case (n, ss) => n -> ss.map(s => (s.endNs - s.startNs) / 1e9) }
    }
    perRun.flatMap(_.keys).distinct.sorted.foreach { n =>
      val calls = perRun.map(_.getOrElse(n, Nil))
      // one call per run: median per run; repeated calls (daily
      // maintenance): median per call
      val v = if (calls.forall(_.size <= 1)) Stats.median(calls.map(_.sum))
              else Stats.median(calls.flatten)
      res.metric(s"${n}_s", v, "s")
    }
  }
}
