package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.VectorExprs

/** The session contract: [[GraftExtensions]] reaches every session
  * through Spark's extensions service file. All checks run in
  * `spark.newSession()`, which nothing in graft configures. */
class SessionContractSpec extends SparkSpec {

  /** A new session per test, so that no test sees what another did. */
  private def fresh(): SparkSession = spark.newSession()
  private val sf = "/root/testdata/sf0.001"

  test("every injected function resolves in a new session's SQL") {
    val s = fresh()
    VectorExprs.descriptions.map(_._1).foreach { name =>
      val info = s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(info.contains(s"Function: $name"), s"$name: ${info.mkString("; ")}")
    }
    val r = s.sql(
      """SELECT
        |  cosine_sim(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c,
        |  dot_product(array(CAST(2.0 AS DOUBLE)), array(CAST(3.0 AS DOUBLE))) AS d,
        |  minhash_mix(array(CAST(5 AS BIGINT), CAST(9 AS BIGINT))) AS m
        |""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) === 6.0)
    assert(r.getSeq[Long](2).length === graft.ops.Dedup.MinhashK)
  }

  test("vector catalog entries analyze in a new session, helper-built frames included") {
    val s = fresh()
    // sim04 builds its probe frame inside VecIndex.transientProbe
    Seq("sim04_ivf_ann", "dd06_cosine_dup", "ds12_diverse_topk").foreach { name =>
      SparkEntry.queries(name)(s, sf).queryExecution.assertAnalyzed()
    }
  }

  test("a foreachBatch micro-batch's session resolves cosine_sim") {
    val src = TempDirs.create("graft-contract-src")
    Files.write(src.resolve("a.txt"), "x\n".getBytes(StandardCharsets.UTF_8))
    val sim = new AtomicReference[Option[Double]](None)
    val q = fresh().readStream.format("text").load(src.toString).writeStream
      .option("checkpointLocation", TempDirs.create("graft-contract-ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) sim.set(Some(batch.sparkSession.sql(
          "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
          .head().getDouble(0)))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.exception.isEmpty, q.exception.map(_.getMessage))
    assert(sim.get.exists(c => math.abs(c - 1.0) < 1e-12), s"micro-batch result: ${sim.get}")
  }
}
