package graft.tools

/** Dev instrument (round 18): dump the EXECUTED physical plan of
  * every action a catalog entry runs — the evidence surface for
  * maintenance-path claims. The lifecycle entries return
  * checkpoint-pinned frames (opaque at catalog level) and their
  * interesting plans are the INTERNAL actions (bucketed writes, rank
  * pipelines, fold rewrites), which `df.explain` can never show;
  * this runs the entry under a QueryExecutionListener and prints
  * each executed action's formatted plan, so claims like "the append
  * writes from the probe's pinned signatures — zero minhashmix on
  * the write path" are checkable against what actually ran.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *          tools/run.sh graft.tools.PlanExec <catalog-query> > plans.txt
  */
object PlanExec {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = args.toSeq
    require(names.nonEmpty, "usage: PlanExec <catalog-query> [more]")
    val spark = graft.Session.local(8)
    Logs.muteReviewedWindowWarning()

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val s = try qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"<explain failed: ${e.getMessage}>" }
        plans.add((funcName, s)); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown catalog query: $name"))
      plans.clear()
      spark.listenerManager.register(listener)
      try {
        fn(spark, dir).count()
        Thread.sleep(3000) // listener delivery is async
      } finally spark.listenerManager.unregister(listener)
      println(s"================ $name: ${plans.size} executed actions ================")
      var i = 0
      plans.forEach { p =>
        i += 1
        println(s"---- action $i [${p._1}] ----")
        println(p._2)
      }
    }
    spark.stop()
  }
}
