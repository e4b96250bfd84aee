package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev instrument (round 17): attribute the wall time of a
  * maintenance-cycle catalog entry to its individual Spark JOBS, by
  * call site — the Phases registry splits a cycle into 3–4 coarse
  * phases, but optimizing a 9 s append phase needs to know which of
  * its ~20 actions (stamp probes, bucketed writes, log commits, GC
  * listings) actually cost. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     tools/run.sh graft.tools.MaintainProfile <catalog-query> [more]
  *
  * Prints per-job duration + call site (desc when set), then the
  * aggregate by call site. Gaps between jobs (driver-side work:
  * planning, file listing, catalog ops) show up as the difference
  * between the entry wall and the job sum — printed too.
  */
object MaintainProfile {
  private final class JobLog extends SparkListener {
    case class Row(id: Int, t0: Long, var t1: Long = -1L,
        site: String = "", group: String = "")
    val rows = new java.util.concurrent.ConcurrentHashMap[Int, Row]()
    // executionId → root action description (e.g. "saveAsTable at …"):
    // AQE materializes each query stage as its own job through an
    // async pool, losing callSite — the SQL execution start event
    // still carries the root call site
    val execDesc = new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
      e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.put(s.executionId.toString, s.description)
        case _ =>
      }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def p(k: String) = Option(e.properties.getProperty(k)).getOrElse("")
      val exec = Seq(p("spark.sql.execution.root.id"), p("spark.sql.execution.id"))
        .find(_.nonEmpty).flatMap(id => Option(execDesc.get(id)))
      val site = exec
        .orElse(Seq(p("callSite.short"), p("spark.job.description")).find(_.nonEmpty))
        .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("?"))
      rows.put(e.jobId, Row(e.jobId, System.nanoTime(), site = site.take(90)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = rows.get(e.jobId); if (r != null) r.t1 = System.nanoTime()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.local(cpus.toInt)
    // quiet-machine + warm-session discipline, as graft.Bench
    graft.tools.LoadGuard.awaitQuiet()
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      graft.SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    args.foreach { name =>
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let job-end events drain
      spark.sparkContext.removeSparkListener(log)
      val done = log.rows.values().toArray(Array.empty[log.Row])
        .filter(_.t1 > 0).sortBy(_.t0)
      val sum = done.map(r => (r.t1 - r.t0) / 1e9).sum
      println(f"\n===== $name%s wall $wall%.2f s, ${done.length}%d jobs summing $sum%.2f s (driver gap ${wall - sum}%.2f s) =====")
      println("-- jobs in order --")
      done.foreach { r =>
        println(f"  ${(r.t1 - r.t0) / 1e9}%7.3f s  ${r.site}%s")
      }
      println("-- by call site --")
      done.groupBy(_.site).toSeq
        .map { case (s, rs) => (rs.map(r => (r.t1 - r.t0) / 1e9).sum, rs.length, s) }
        .sortBy(-_._1)
        .foreach { case (t, n, s) => println(f"  $t%7.3f s  x$n%-3d $s%s") }
      // DRIVER GAPS: time between the previous job's end and this
      // job's start, attributed to the job it precedes (the driver
      // was planning/listing/catalog-ing for it)
      println("-- driver gaps by following call site --")
      val gaps = done.sliding(2).collect {
        case Array(a, b) => (math.max(0L, b.t0 - a.t1) / 1e9, b.site)
      }.toSeq
      gaps.groupBy(_._2).toSeq
        .map { case (s, gs) => (gs.map(_._1).sum, gs.length, s) }
        .sortBy(-_._1).take(15)
        .foreach { case (t, n, s) => println(f"  $t%7.3f s  x$n%-3d $s%s") }
    }
    spark.stop()
  }
}
