package graft.tools

/** Dev helper: run one catalog query by name and print its result.
  * With a 4th arg, also dump the result + oracle_sql.json in the
  * Verify layout so tools/check_verify.py can compare just this one.
  * Run: tools/run.sh graft.tools.RunQuery <name> [sfDir] [nShow] [outDir]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val nShow = if (args.length > 2) args(2).toInt else 20
    val outDir = if (args.length > 3) Some(args(3)) else None
    val spark = graft.Session.local(8)
    val df = graft.SparkEntry.queries(name)(spark, dir)
    println(s"ROWS=${df.count()}")
    df.show(nShow, truncate = false)
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
    }
    spark.stop()
  }
}
