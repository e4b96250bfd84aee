package graft.tools

/** Dual-lane ANSI parity probe: run every catalog query in the
  * default pre-ANSI lane (the semantics the reference pipeline ran
  * under) and in the checked lane (spark.graft.ansiLane=true), and
  * report queries
  * that THROW or whose results differ. The engine's goal is an empty
  * report: malformed-input paths use try_* forms so both lanes agree
  * row-for-row (AnsiLaneSpec pins a sample of this in the suite;
  * this tool is the full-catalog sweep).
  *
  * Usage: tools/run.sh graft.tools.AnsiProbe [sfDir]
  */
object AnsiProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Session.local(cpus.toInt)

    def sweep(ansiOn: Boolean): Map[String, Either[String, Seq[String]]] = {
      // set explicitly in both lanes, so neither inherits the other's
      spark.conf.set("spark.graft.ansiLane", ansiOn.toString)
      graft.Tables.pin(spark)
      // the memoized shared frames were built under the other lane's
      // confs — rebuild from scratch so the lane actually exercises
      // its own plans end to end
      graft.ops.Relational.clearMemo(spark)
      graft.ops.Dedup.clearMemo(spark)
      graft.SparkEntry.queries.map { case (name, fn) =>
        name -> (try Right(fn(spark, sfDir).collect().map(_.toString).toSeq)
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
        })
      }
    }

    val off = sweep(ansiOn = false)
    val on = sweep(ansiOn = true)
    var bad = 0
    off.keys.toSeq.sorted.foreach { name =>
      (off(name), on(name)) match {
        case (Right(a), Right(b)) if a == b => ()
        case (Right(_), Left(err)) =>
          bad += 1; println(s"THROWS-ANSI $name: $err")
        case (Left(err), _) =>
          bad += 1; println(s"THROWS-OFF $name: $err")
        case (Right(a), Right(b)) =>
          bad += 1
          println(s"DIFFERS $name: ${a.size} vs ${b.size} rows; " +
            s"first diff: ${a.zipAll(b, "<missing>", "<missing>").find(p => p._1 != p._2)}")
      }
    }
    println(s"ansi probe: ${off.size} queries, $bad discrepancies")
    spark.stop()
  }
}
