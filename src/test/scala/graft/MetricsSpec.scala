package graft

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** [[Metrics.record]]'s barrier: a record is complete however far the
  * listener bus lags the body. */
class MetricsSpec extends SparkSpec {

  test("a record holds every job and the plan's shuffle bytes while the bus lags") {
    val sc = spark.sparkContext
    // another shared-queue listener that takes 50 ms per task end: the
    // body's ~30 tasks put delivery over a second behind the body
    val slow = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerTaskEnd => Thread.sleep(50)
        case _ =>
      }
    }
    // AQE off: the aggregate then runs as exactly one job
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.addSparkListener(slow)
    try {
      val (_, rec) = Metrics.record(spark) {
        (1 to 5).foreach(_ => sc.parallelize(1 to 100, 4).count())
        spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      }
      val ids = rec.jobs.map(_.id)
      assert(ids == (ids.head until ids.head + 6), s"want 6 consecutive jobs, got $ids")
      assert(rec.jobs.forall(j => j.endMs >= j.startMs), s"a job end is missing: ${rec.jobs}")
      assert(rec.jobs.take(5).forall(_.site.startsWith("count at MetricsSpec.scala")) &&
        rec.jobs.last.site.startsWith("collect at MetricsSpec.scala"),
        s"call sites: ${rec.jobs.map(_.site)}")
      assert(rec.plans.map(_._1) == Seq("collect"), s"actions: ${rec.plans.map(_._1)}")
      val planBytes = rec.plans.head._2.executedPlan
        .collect { case s: ShuffleExchangeExec => s.metrics("shuffleBytesWritten").value }.sum
      assert(planBytes > 0, "the aggregate wrote no shuffle bytes")
      assert(rec.shuffleWriteBytes == planBytes,
        s"task-end shuffle bytes ${rec.shuffleWriteBytes} != the plan's $planBytes")
    } finally {
      sc.removeSparkListener(slow)
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
