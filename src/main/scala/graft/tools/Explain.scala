package graft.tools

/** Dev tool: print the formatted physical plan of one or more catalog
  * queries. Usage: tools/run.sh graft.tools.Explain q1_pricing [more...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.sameElements(Array("--all"))) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    names.foreach { name =>
      println(s"========== $name ==========")
      try graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
