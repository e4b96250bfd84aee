package graft.gtfs

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}

import graft.{SparkSpec, TempDirs}

/** Ports of the reference's Silver unit tests
  * (/root/reference/tests/test_silver.py) over hand-built Bronze
  * micro-frames, plus the schema contract. */
class SilverSpec extends SparkSpec {

  private val D = LocalDate.of(2026, 2, 23)

  /** make_raw_df analog (tests/test_silver.py:32-47): one envelope
    * row {"result": [records]} with the Bronze schema. */
  private def rawDf(records: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(records))),
      Schemas.bronzeSchema)

  private def bus(lines: String, vehicle: String, lat: Double, lon: Double,
      time: String): Row = Row(lines, vehicle, lat, lon, time)

  test("corrupt bronze file degrades to a null envelope; good files survive") {
    // a flaky feed writes garbage sometimes — the schema'd PERMISSIVE
    // read must not fail the batch, and the transform must sweep the
    // null envelope (explode of null → no rows) without losing the
    // healthy files
    val dir = TempDirs.create("graft-corrupt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "good.json"),
      """{"result": [{"Lines": "189", "VehicleNumber": "8349", "Lat": 52.2, "Lon": 21.0, "Time": "2026-02-23 08:00:00"}]}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.json"),
      "{{{ not json at all".getBytes("UTF-8"))
    val raw = SilverTransform.readBronze(spark, dir)
    assert(raw.count() === 2)
    assert(raw.filter(raw("result").isNull).count() === 1)
    val silver = SilverTransform.transform(raw, D)
    assert(silver.count() === 1)
    assert(silver.collect()(0).getAs[String]("VehicleNumber") === "8349")
  }

  test("dedup keeps one row per (VehicleNumber, Time)") { // test_silver.py:55-69
    val df = rawDf(
      bus("102", "1000", 52.2, 21.0, "2026-02-23 12:00:00"),
      bus("102", "1000", 52.2, 21.0, "2026-02-23 12:00:00"))
    assert(SilverTransform.transform(df, D).count() === 1)
  }

  test("dedup is deterministic on conflicting payloads") { // SURVEY §1.4/§7.5
    val df = rawDf(
      bus("102", "1000", 52.3, 21.1, "2026-02-23 12:00:00"),
      bus("102", "1000", 52.2, 21.0, "2026-02-23 12:00:00"))
    val rows = SilverTransform.transform(df, D).collect()
    assert(rows.length === 1)
    // row_number orders by (Lines, Lat, Lon) → the 52.2 row wins
    assert(rows.head.getAs[Double]("Lat") === 52.2)
  }

  test("bbox filter drops out-of-Warsaw points") { // test_silver.py:77-89
    val df = rawDf(
      bus("102", "1000", 50.06, 19.94, "2026-02-23 12:00:00"), // Kraków
      bus("102", "1001", 52.2, 21.0, "2026-02-23 12:00:00")) // Warsaw
    val out = SilverTransform.transform(df, D)
    assert(out.count() === 1)
    assert(out.select("VehicleNumber").head().getString(0) === "1001")
  }

  test("date filter drops records from other days") { // test_silver.py:97-109
    val df = rawDf(
      bus("102", "1000", 52.2, 21.0, "2026-02-22 12:00:00"),
      bus("102", "1001", 52.2, 21.0, "2026-02-23 12:00:00"))
    val out = SilverTransform.transform(df, D)
    assert(out.count() === 1)
    assert(out.select("VehicleNumber").head().getString(0) === "1001")
  }

  test("empty Lines dropped after trim") { // test_silver.py:116-126
    val df = rawDf(
      bus("  ", "1000", 52.2, 21.0, "2026-02-23 12:00:00"),
      bus("102", "1001", 52.2, 21.0, "2026-02-23 12:00:00"))
    assert(SilverTransform.transform(df, D).count() === 1)
  }

  test("malformed Time is swept by dropna (pre-ANSI cast)") { // SURVEY §7.5
    val df = rawDf(
      bus("102", "1000", 52.2, 21.0, "not-a-timestamp"),
      bus("102", "1001", 52.2, 21.0, "2026-02-23 12:00:00"))
    assert(SilverTransform.transform(df, D).count() === 1)
  }

  test("schema contract") { // test_silver.py:134-144
    val df = rawDf(bus("102", "1000", 52.2, 21.0, "2026-02-23 12:00:00"))
    val out = SilverTransform.transform(df, D)
    assert(out.columns.toSeq === Schemas.silverColumns)
    import org.apache.spark.sql.types._
    val types = out.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("Lines") === StringType)
    assert(types("VehicleNumber") === StringType)
    assert(types("Lat") === DoubleType)
    assert(types("Lon") === DoubleType)
    assert(types("Time") === TimestampType)
    assert(types("date") === DateType)
  }
}
