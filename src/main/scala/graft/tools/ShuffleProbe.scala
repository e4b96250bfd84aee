package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shuffle-byte accounting for the persisted-index probe — the
  * no-corpus-exchange property measured in BYTES, not plan shape.
  *
  * BandIndexSpec proves structurally that the probe plan has no
  * exchange above the corpus scans; this tool closes the remaining
  * gap between "the plan looks right" and "the bytes moved are
  * batch-proportional": it probes the SAME batch (the sf0.001
  * incremental slice) against two persisted indexes — one built from
  * the sf0.001 corpus, one from the ~10× sf0.01 corpus — and reports
  * total shuffle WRITE bytes for each probe. If the corpus leaked
  * into an exchange anywhere, the big-corpus probe's shuffle bytes
  * would scale with the corpus; the batch-proportional design keeps
  * them near-identical.
  *
  * Usage: tools/run.sh graft.tools.ShuffleProbe
  */
object ShuffleProbe {

  /** Sum of shuffle write bytes across all tasks that end while
    * `body` runs (plus a settle poll for straggling listener events). */
  def shuffleWriteBytes(spark: SparkSession)(body: => Unit): Long = {
    val bytes = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async: poll until the task count is
      // stable across two 200 ms windows
      var prev = -1L
      var stable = 0
      while (stable < 2) {
        Thread.sleep(200)
        val now = tasks.get()
        if (now == prev) stable += 1 else { stable = 0; prev = now }
      }
      bytes.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val batchDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val bigDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Session.local(cpus.toInt)
    Logs.muteReviewedWindowWarning()
    // broadcast off: a broadcast corpus side would hide an exchange
    // as a collect-to-driver, which moves MORE corpus bytes, not
    // fewer — the property under test is the sort-merge probe path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    import graft.ops.BandIndex
    val small = BandIndex.ensurePersisted(spark, batchDir, "sp_small")
    val big = BandIndex.ensurePersisted(spark, bigDir, "sp_big")

    def corpusRows(prefix: String): Long =
      spark.table(BandIndex.sigsTable(prefix)).count()

    def probeBytes(prefix: String): Long = {
      // warm once so neither measurement pays first-run JIT/codegen
      graft.ops.Dedup.incrementalDecisions(spark, batchDir,
        spark.table(BandIndex.bandsTable(prefix)),
        spark.table(BandIndex.sigsTable(prefix))).count()
      shuffleWriteBytes(spark) {
        graft.ops.Dedup.incrementalDecisions(spark, batchDir,
          spark.table(BandIndex.bandsTable(prefix)),
          spark.table(BandIndex.sigsTable(prefix))).count()
      }
    }

    val smallCorpus = corpusRows(small)
    val bigCorpus = corpusRows(big)
    val smallBytes = probeBytes(small)
    val bigBytes = probeBytes(big)
    val corpusRatio = bigCorpus.toDouble / smallCorpus
    val bytesRatio = bigBytes.toDouble / smallBytes
    println(f"""{"metric":"probe_shuffle_write_bytes","batch":"$batchDir",""" +
      f""""corpus_rows":[$smallCorpus,$bigCorpus],"corpus_ratio":$corpusRatio%.1f,""" +
      f""""shuffle_bytes":[$smallBytes,$bigBytes],"bytes_ratio":$bytesRatio%.2f}""")
    spark.stop()
  }
}
