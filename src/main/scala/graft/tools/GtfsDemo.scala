package graft.tools

import java.time.LocalDate

import graft.gtfs.{GoldReport, SilverTransform}

/** End-to-end GTFS pipeline demo — the Scala equivalent of the
  * reference's `python main.py --mode transform` (SURVEY.md §3.1):
  * bronze JSON scan → silver transform → daily report → most
  * expensive line → hardest-working vehicle.
  *
  * Usage: tools/run.sh graft.tools.GtfsDemo [bronzeDir] [yyyy-MM-dd]
  * Defaults to the reference's bundled flagship-day capture.
  */
object GtfsDemo {
  def main(args: Array[String]): Unit = {
    val bronzeDir = args.headOption
      .getOrElse("/root/reference/WAW/year=2026/month=02/day=23")
    val date = args.lift(1).map(LocalDate.parse)
      .getOrElse(LocalDate.of(2026, 2, 23))

    val spark = graft.Session.local(Runtime.getRuntime.availableProcessors())

    val raw = SilverTransform.readBronze(spark, bronzeDir)
    val silver = SilverTransform.transform(raw, date).cache()
    val enriched = GoldReport.enrichWithMetrics(silver).cache()
    // reuse the enriched frame (C2 fix) instead of re-enriching
    val report = GoldReport.reportFromEnriched(enriched)
      .orderBy(org.apache.spark.sql.functions.col("total_cost_pln").desc).cache()

    println(s"silver rows: ${silver.count()}")
    println("top-10 lines by fuel cost:")
    report.select("Lines", "total_distance_km", "total_cost_pln",
      "unique_vehicles_count", "max_recorded_speed").show(10, truncate = false)

    val top = GoldReport.mostExpensiveLine(report)
    val slice = GoldReport.lineSlice(enriched, top)
    val vehicle = GoldReport.hardestWorkingVehicle(slice)
    println("most expensive line:")
    top.select("Lines", "total_distance_km", "total_cost_pln",
      "unique_vehicles_count").show(truncate = false)
    println("hardest-working vehicle on that line:")
    vehicle.show(truncate = false)
    spark.stop()
  }
}
