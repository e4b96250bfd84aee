package graft

import org.apache.spark.sql.SparkSession

/** Dual-lane ANSI parity (round-8 item 5; default flipped to ANSI-on
  * in round 10, clawed BACK to pre-ANSI in round 11 after
  * an ABBA lane sweep measured the ANSI lane at a uniform +9.2% warm
  * with zero result delta — SCALE_NOTES "Round-11: the ANSI lane
  * tax"). The engine's default lane is the reference's pre-ANSI
  * semantics (malformed-cast → null swept by dropna); this suite runs
  * the gtfs pipeline and a cross-family catalog sample in a SEPARATE
  * session with `spark.graft.ansiLane=true` — the opt-in knob for
  * Spark 4's checked ANSI semantics — and asserts results identical
  * to the default lane. The engine's malformed-input paths use try_*
  * forms (SilverTransform/Streams Time parse, p04's bad_cast) and
  * overflow-free arithmetic (bloom double-hash reduced mod 2^17
  * before the multiply-add), which is what makes the two lanes
  * agree. tools/AnsiProbe is the full-catalog version of this check.
  */
class AnsiLaneSpec extends SparkSpec {

  /** Same SparkContext, independent runtime SQLConf — the ANSI
    * opt-in lane never leaks into the shared test session. */
  private lazy val ansi: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.ansiLane", "true")
    Tables.pin(s)
    s
  }

  private val sf = "/root/testdata/sf0.001"

  // one query per family, biased toward the semantics that DIFFER
  // under ANSI: malformed casts (p04), string→date (p05), 64-bit hash
  // arithmetic (bf01, dd03), decimal aggregation (q1, a01), division
  // and element_at (sim01, cur07)
  private val sample = Seq(
    "p04_cast", "p05_to_date", "bf01_bloom_semi", "dd03_lsh_pairs",
    "q1_pricing", "a01_report", "sim01_knn", "cur07_perplexity_filter",
    "j14_sketch_skew_join", "tx01_token_stats", "m01_haversine",
    "ds01_hash_split")

  test("default lane is pre-ANSI; ansiLane opts into checked semantics") {
    Tables.pin(spark)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    Tables.pin(ansi)
    assert(ansi.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("catalog sample: ANSI opt-in lane results equal the default pre-ANSI lane row-for-row") {
    sample.foreach { name =>
      val off = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
      // fresh memo per lane: shared frames built under one lane's
      // confs must not serve the other lane's assertion
      graft.ops.Relational.clearMemo(ansi)
      graft.ops.Dedup.clearMemo(ansi)
      val on = SparkEntry.queries(name)(ansi, sf).collect().map(_.toString).toSeq
      assert(on == off, s"$name diverges between ANSI lanes")
    }
  }

  test("gtfs pipeline under the ANSI opt-in lane reproduces the golden daily report") {
    val day23 = "/root/reference/WAW/year=2026/month=02/day=23"
    assume(new java.io.File(day23).isDirectory)
    import org.apache.spark.sql.functions.col
    val day = java.time.LocalDate.of(2026, 2, 23)
    val report = graft.gtfs.GoldReport.createDailyReport(
      graft.gtfs.SilverTransform.transform(
        graft.gtfs.SilverTransform.readBronze(ansi, day23), day))
    assert(ansi.conf.get("spark.sql.ansi.enabled") == "true")
    val top = report.orderBy(col("total_cost_pln").desc).limit(1).head()
    assert(top.getAs[String]("Lines") == "189")
    assert(math.abs(top.getAs[Double]("total_cost_pln") - 135.32) < 0.005)
    assert(top.getAs[Long]("unique_vehicles_count") == 30L)
    assert(report.count() == 238L)
  }
}
