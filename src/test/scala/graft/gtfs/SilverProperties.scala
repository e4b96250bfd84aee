package graft.gtfs

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Prop}
import org.scalacheck.Prop.forAll

import graft.Session

/** Generative invariant checks (FIXTURES.md §test plan): arbitrary
  * bronze feeds — valid pings mixed with out-of-bbox coords, foreign
  * dates, empty lines, malformed timestamps, duplicate keys — must
  * always produce a Silver table that satisfies the contract.
  * ScalaCheck shrinks any violating feed to a minimal counterexample.
  */
object SilverProperties extends Properties("SilverTransform") {

  private lazy val spark = Session.local(4)

  private val D = LocalDate.of(2026, 2, 23)

  private val genLines: Gen[String] = Gen.oneOf(
    Gen.oneOf("102", "189", "523", "L31", " 219 "), // valid-ish (some need trim)
    Gen.const(""), Gen.const("   ")) // dropped after trim

  private val genLat: Gen[Double] = Gen.oneOf(
    Gen.choose(52.0, 52.4), Gen.choose(-90.0, 90.0)) // in/out of bbox
  private val genLon: Gen[Double] = Gen.oneOf(
    Gen.choose(20.5, 21.5), Gen.choose(-180.0, 180.0))

  private val genTime: Gen[String] = Gen.oneOf(
    Gen.choose(0, 86399).map { sec =>
      f"2026-02-23 ${sec / 3600}%02d:${sec % 3600 / 60}%02d:${sec % 60}%02d"
    },
    Gen.const("2026-02-22 10:00:00"), // wrong day
    Gen.const("2024-03-21 05:00:00"), // stale GPS clock (observed in feed)
    Gen.const("not-a-timestamp")) // malformed → null cast

  private val genBus: Gen[Row] = for {
    lines <- genLines
    vehicle <- Gen.choose(1000, 1010).map(_.toString) // small range → dup keys
    lat <- genLat
    lon <- genLon
    time <- genTime
  } yield Row(lines, vehicle, lat, lon, time)

  private val genFeed: Gen[List[Row]] = Gen.listOfN(60, genBus)

  private def transform(feed: List[Row]): DataFrame = {
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(feed)), 1),
      Schemas.bronzeSchema)
    SilverTransform.transform(raw, D)
  }

  property("output satisfies the full Silver contract") = forAll(genFeed) { feed =>
    val out = transform(feed).cache()
    val rows = out.collect()
    val inBbox = rows.forall { r =>
      val lat = r.getAs[Double]("Lat")
      val lon = r.getAs[Double]("Lon")
      lat >= 52.0 && lat <= 52.4 && lon >= 20.5 && lon <= 21.5
    }
    val singleDate = rows.forall(_.getAs[java.sql.Date]("date").toString == "2026-02-23")
    val nonEmptyTrimmed = rows.forall { r =>
      val l = r.getAs[String]("Lines"); l.nonEmpty && l == l.trim
    }
    val noNulls = rows.forall(r => !r.anyNull)
    val uniqueKeys = rows.map(r =>
      (r.getAs[String]("VehicleNumber"), r.getAs[java.sql.Timestamp]("Time")))
      .distinct.length == rows.length
    val schemaOk = out.columns.toSeq == Schemas.silverColumns
    out.unpersist()
    Prop.all(
      Prop(inBbox) :| "bbox",
      Prop(singleDate) :| "single date",
      Prop(nonEmptyTrimmed) :| "nonempty trimmed lines",
      Prop(noNulls) :| "no nulls",
      Prop(uniqueKeys) :| "unique (vehicle, time)",
      Prop(schemaOk) :| "schema contract")
  }

  property("transform is deterministic") = forAll(genFeed) { feed =>
    val a = transform(feed).collect().map(_.toString).sorted.toSeq
    val b = transform(feed).collect().map(_.toString).sorted.toSeq
    Prop(a == b) :| "same rows on re-run"
  }
}
