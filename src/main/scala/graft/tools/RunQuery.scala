package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev helper: run one catalog query by name and print its result, then
  * the Spark jobs it ran by call site and the driver gap (wall time
  * minus the jobs' summed time: planning, file listing, catalog work).
  * With a 4th arg, also dump the result + oracle_sql.json in the Verify
  * layout so tools/check_verify.py can compare just this one, and write
  * every executed action's formatted physical plan to
  * `<outDir>/<name>.plans.txt` — the maintenance entries' interesting
  * plans are their internal actions, which `df.explain` never shows.
  * Run: tools/run.sh graft.tools.RunQuery <name> [sfDir] [nShow] [outDir]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val nShow = if (args.length > 2) args(2).toInt else 20
    val outDir = if (args.length > 3) Some(args(3)) else None
    val spark = graft.Session.local(8)
    val ((df, rows, wall), rec) = graft.Metrics.record(spark) {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val rows = df.count()
      (df, rows, (System.nanoTime() - t0) / 1e9)
    }
    println(s"ROWS=$rows")
    df.show(nShow, truncate = false)
    val timed = rec.jobs.filter(_.endMs >= 0).map(j => (j.site, (j.endMs - j.startMs) / 1e3))
    val jobSum = timed.map(_._2).sum
    println(f"-- $name%s: wall $wall%.2f s, ${rec.jobs.size}%d jobs summing $jobSum%.2f s, " +
      f"driver gap ${wall - jobSum}%.2f s; jobs by call site --")
    timed.groupBy(_._1).toSeq
      .map { case (site, js) => (js.map(_._2).sum, js.size, site) }
      .sortBy(-_._1)
      .foreach { case (t, n, site) => println(f"  $t%7.3f s  x$n%-3d ${site.take(90)}%s") }
    outDir.foreach { out =>
      new java.io.File(out).mkdirs()
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      // same escape as graft.Verify: ALL control chars, not just \n\t
      def q(s: String): String = "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        s"""{"$name": ${q(graft.SparkEntry.oracleSql(name))}}""")
      val plans = rec.plans.zipWithIndex.map { case ((action, qe), i) =>
        s"---- action ${i + 1} [$action] ----\n${qe.explainString(ExplainMode.fromString("formatted"))}"
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/$name.plans.txt"),
        plans.mkString(s"$name: ${plans.size} executed actions\n", "\n", "\n"))
    }
    spark.stop()
  }
}
