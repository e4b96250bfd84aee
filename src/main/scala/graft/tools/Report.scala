package graft.tools

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.gtfs.{GoldReport, Present, SilverTransform}

/** S9 presentation sink: renders the reference pipeline's three
  * visual artifacts from the engine's drill-down tables —
  * Figure_1 (top-10 cost bars, main.py:86-99), Figure_2 (speed vs
  * time for the hardest vehicle, main.py:104-110), and map.html
  * (Folium trajectory polyline, mapping.py:9-37) — over a bronze
  * partition directory.
  *
  * Run: tools/run.sh graft.tools.Report [bronzeDir] [yyyy-MM-dd] [outDir]
  * Defaults reproduce the reference's published day=23 figures.
  */
object Report {

  /** Render all three artifacts into outDir; returns the emitted
    * (figure1, figure2, map) paths. Collects only presentation-sized
    * frames (10 bars; one vehicle's pings) — the reference's
    * `.toPandas()` boundary, main.py:84,102. */
  def render(spark: SparkSession, bronzeDir: String, day: LocalDate,
      outDir: String): (String, String, String) = {
    val silver = SilverTransform.transform(
      SilverTransform.readBronze(spark, bronzeDir), day).cache()
    val report = GoldReport.createDailyReport(silver)
    val enriched = GoldReport.enrichWithMetrics(silver)

    import org.apache.spark.sql.functions.col
    val top10 = report
      .orderBy(col("total_cost_pln").desc, col("Lines").asc).limit(10)
      .select("Lines", "total_cost_pln").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val topLine = GoldReport.mostExpensiveLine(report)
    val vehicle = GoldReport.hardestWorkingVehicle(
      GoldReport.lineSlice(enriched, topLine))
    val series = GoldReport.vehicleSpeedSeries(enriched, vehicle).collect()
    val traj = GoldReport.vehicleTrajectory(enriched, vehicle).collect()
    silver.unpersist()

    val vehicleName = series.headOption
      .map(_.getAs[String]("VehicleNumber")).getOrElse("?")
    val fig1 = Present.barChartSvg(top10,
      "Top 10 najdroższych linii autobusowych",
      "Numer Linii", "Całkowity koszt paliwa (PLN)")
    val fig2 = Present.lineChartSvg(
      series.map(r => r.getAs[java.sql.Timestamp]("Time").getTime ->
        r.getAs[Double]("speed_kmh")).toSeq,
      s"pojazd $vehicleName",
      "Prędkość autobusu z największym kosztem paliwa",
      "Czas", "Predkosc km/h")
    val map = Present.polylineMapHtml(
      traj.map(r => r.getAs[Double]("Lat") -> r.getAs[Double]("Lon")).toSeq)

    Files.createDirectories(Paths.get(outDir))
    val p1 = s"$outDir/figure1_top10_cost.svg"
    val p2 = s"$outDir/figure2_speed_series.svg"
    val p3 = s"$outDir/map.html"
    Files.writeString(Paths.get(p1), fig1)
    Files.writeString(Paths.get(p2), fig2)
    Files.writeString(Paths.get(p3), map)
    (p1, p2, p3)
  }

  def main(args: Array[String]): Unit = {
    val bronzeDir = if (args.length > 0) args(0)
      else "/root/reference/WAW/year=2026/month=02/day=23"
    val day = if (args.length > 1) LocalDate.parse(args(1))
      else LocalDate.of(2026, 2, 23)
    val outDir = if (args.length > 2) args(2) else "/tmp/graft_report"
    val spark = graft.Session.local(8)
    val (p1, p2, p3) = render(spark, bronzeDir, day, outDir)
    println(s"WROTE $p1")
    println(s"WROTE $p2")
    println(s"WROTE $p3")
    spark.stop()
  }
}
