package graft.gtfs

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, TempDirs}

/** S9 presentation artifacts (the last reference-visible outputs):
  * renders Figure_1 / Figure_2 / map.html from the day=23 fixture and
  * pins the content against the engine's own tables — the polyline
  * must carry exactly one vertex per trajectory row, the bar chart
  * one bar per top-10 line.
  */
class ReportSpec extends SparkSpec {

  private val day23 = "/root/reference/WAW/year=2026/month=02/day=23"
  private val D = java.time.LocalDate.of(2026, 2, 23)
  private lazy val available = new java.io.File(day23).isDirectory

  test("Report.render emits the three artifacts with table-exact content") {
    assume(available)
    val out = TempDirs.create("graft_report").toString
    val (p1, p2, p3) = graft.tools.Report.render(spark, day23, D, out)
    Seq(p1, p2, p3).foreach { p =>
      assert(Files.exists(Paths.get(p)), s"missing artifact $p")
      assert(Files.size(Paths.get(p)) > 500, s"suspiciously small artifact $p")
    }

    // recompute the tables the artifacts must mirror
    val silver = SilverTransform.transform(
      SilverTransform.readBronze(spark, day23), D).cache()
    val report = GoldReport.createDailyReport(silver)
    val enriched = GoldReport.enrichWithMetrics(silver)
    val vehicle = GoldReport.hardestWorkingVehicle(
      GoldReport.lineSlice(enriched, GoldReport.mostExpensiveLine(report)))
    val trajRows = GoldReport.vehicleTrajectory(enriched, vehicle).count()
    silver.unpersist()

    // map.html: one [lat, lon] vertex per trajectory row, plus the
    // start/end markers Folium places (mapping.py:23-35)
    val html = Files.readString(Paths.get(p3))
    val trail = html.linesIterator.find(_.startsWith("var trail")).get
    val vertices = raw"\[\d+\.\d+, \d+\.\d+\]".r.findAllIn(trail).size
    assert(vertices == trajRows,
      s"polyline has $vertices vertices, trajectory table has $trajRows rows")
    assert(html.contains("L.polyline") && html.contains("'Start'") &&
      html.contains("'Koniec'"))

    // figure 1: exactly 10 bars, one per top-10 line (main.py:86-90)
    val fig1 = Files.readString(Paths.get(p1))
    assert(raw"""<rect [^/]*fill="skyblue"""".r.findAllIn(fig1).size == 10)
    // the flagship day's most expensive line (Readme.md:12-16)
    assert(fig1.contains(">189<"))

    // figure 2: a single polyline path with one point per series row
    val fig2 = Files.readString(Paths.get(p2))
    val d = raw"""<path d="([^"]+)"""".r.findFirstMatchIn(fig2).get.group(1)
    val seriesRows = GoldReport.vehicleSpeedSeries(enriched, vehicle).count()
    assert(d.count(c => c == 'M' || c == 'L') == seriesRows)
  }
}
