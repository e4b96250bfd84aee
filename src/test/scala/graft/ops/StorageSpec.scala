package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TempDirs}

/** Storage-layer evidence: format round-trips (the engine can land on
  * any of Spark's columnar/text sinks without semantic drift) and
  * partition pruning (a date-partitioned silver layout is read with
  * partition filters, not full scans — the reference built partition
  * paths by hand, SURVEY §4; here the engine prunes natively).
  */
class StorageSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("corrupt-file policy: default read fails loudly, salvage recovers rows and names the file") {
    import org.apache.spark.sql.functions._
    val dir = TempDirs.create("graft-corrupt").toString
    // three good single-file parts + one truncated file + one
    // valid-but-EMPTY file (must NOT be reported corrupt)
    val base = graft.Tables.documents(spark, sf).select("doc_id", "source")
    base.filter(col("doc_id") % 3 === 0).coalesce(1).write.parquet(s"$dir/d")
    base.filter(col("doc_id") % 3 === 1).coalesce(1).write.mode("append").parquet(s"$dir/d")
    base.filter(col("doc_id") % 3 === 2).coalesce(1).write.mode("append").parquet(s"$dir/d")
    base.filter(lit(false)).coalesce(1).write.mode("append").parquet(s"$dir/d")
    // corrupt one non-empty part: truncate it to half (footer gone)
    val parts = new java.io.File(s"$dir/d").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 1000)
      .sortBy(_.getName)
    val victim = parts.head
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    java.nio.file.Files.write(victim.toPath, bytes.take(bytes.length / 2))

    // 1. the DEFAULT engine read path fails loudly — corruption is an
    //    incident, never a silent row-count dip
    val thrown = intercept[org.apache.spark.SparkException] {
      spark.read.parquet(s"$dir/d").count()
    }
    assert(thrown.getMessage != null)

    // 2. the salvage lane recovers every readable row and names the
    //    corrupt file exactly (not the empty one)
    val salvaged = DataQuality.salvageScanParquet(spark, s"$dir/d")
    assert(salvaged.corruptFiles == Seq(victim.getAbsolutePath),
      s"expected exactly [$victim], got ${salvaged.corruptFiles}")
    val expected = {
      val survivors = parts.tail.map(_.getAbsolutePath).toSet
      spark.read.parquet(parts.tail.map(_.getAbsolutePath): _*).count()
    }
    assert(salvaged.rows.count() == expected,
      "salvage lost rows from readable files")

    // 3. a clean directory reports NOTHING corrupt — "no loss" is
    //    assertable, not assumed
    val cleanDir = TempDirs.create("graft-clean").toString
    base.limit(10).write.parquet(s"$cleanDir/d")
    val clean = DataQuality.salvageScanParquet(spark, s"$cleanDir/d")
    assert(clean.corruptFiles.isEmpty && clean.rows.count() == 10)
  }

  test("silver-shaped frame round-trips identically through parquet/orc/json/csv") {
    val base = Relational.silver(spark, sf)
      .withColumn("ts_s", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("date_s", col("date").cast("string"))
      .drop("ts", "date") // text formats carry timestamps as strings
    val dir = TempDirs.create("graft-formats").toString
    val canon = base.collect().map(_.toString).sorted.toSeq
    Seq("parquet", "orc", "json", "csv").foreach { fmt =>
      val path = s"$dir/$fmt"
      val writer = base.write.format(fmt).mode("overwrite")
      (if (fmt == "csv") writer.option("header", "true") else writer).save(path)
      val reader = spark.read.format(fmt)
      val readBack = (fmt match {
        case "csv" => reader.option("header", "true").schema(base.schema).load(path)
        case "json" => reader.schema(base.schema).load(path)
        case _ => reader.load(path)
      }).select(base.columns.map(col): _*)
      val got = readBack.collect().map(_.toString).sorted.toSeq
      assert(got === canon, s"format $fmt drifted")
    }
  }

  test("layout evolution: old 5-field and new 6-field bronze in one read, silver contract preserved") {
    import java.nio.charset.StandardCharsets
    val dir = TempDirs.create("graft-evolve").toString
    // old layout: the reference's 5 declared fields
    Files.write(java.nio.file.Paths.get(dir, "old.json"),
      """{"result": [{"Lines": "102", "VehicleNumber": "1000", "Lat": 52.2, "Lon": 21.0, "Time": "2026-02-23 12:00:00"}]}"""
        .getBytes(StandardCharsets.UTF_8))
    // new layout: the live feed's 6th field Brigade carried
    Files.write(java.nio.file.Paths.get(dir, "new.json"),
      """{"result": [{"Lines": "523", "VehicleNumber": "7000", "Lat": 52.3, "Lon": 21.1, "Time": "2026-02-23 13:00:00", "Brigade": "3"}]}"""
        .getBytes(StandardCharsets.UTF_8))

    val raw = graft.gtfs.SilverTransform.readBronzeEvolved(spark, dir)
    val silver = graft.gtfs.SilverTransform.transform(raw,
      processingDate = java.time.LocalDate.of(2026, 2, 23),
      carryCols = Seq("Brigade"))
    val rows = silver.collect().map(r =>
      r.getAs[String]("VehicleNumber") -> Option(r.getAs[String]("Brigade"))).toMap
    // both generations survive one scan; the old row is NOT nulled
    // out of existence by the contract's dropna
    assert(rows === Map("1000" -> None, "7000" -> Some("3")))
    // contract columns all present alongside the carried one
    assert(graft.gtfs.Schemas.silverColumns.toSet.subsetOf(silver.columns.toSet))

    // parquet leg: a silver sink written across the layout change
    // reads back as one table under mergeSchema
    val sink = TempDirs.create("graft-evolve-sink").toString
    val old5 = silver.filter(col("VehicleNumber") === "1000").drop("Brigade")
    val new6 = silver.filter(col("VehicleNumber") === "7000")
    old5.write.mode("append").parquet(sink)
    new6.write.mode("append").parquet(sink)
    val merged = spark.read.option("mergeSchema", "true").parquet(sink)
    assert(merged.columns.contains("Brigade"))
    val back = merged.collect().map(r =>
      r.getAs[String]("VehicleNumber") -> Option(r.getAs[String]("Brigade"))).toMap
    assert(back === Map("1000" -> None, "7000" -> Some("3")))
  }

  test("date-partitioned layout is read with partition pruning, not a full scan") {
    val dir = TempDirs.create("graft-prune").toString
    val ev = Tables.events(spark, sf)
      .withColumn("date", to_date(col("ts")))
    ev.write.partitionBy("date").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir)
      .filter(col("date") === "2024-01-15")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(date"), plan)
    // only the one partition's rows come back
    val expected = ev.filter(col("date") === "2024-01-15").count()
    assert(pruned.count() === expected && expected > 0)
    // and the scan's selected partition count is 1
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.nonEmpty)
    assert(scan.get.relation.location.listFiles(
      scan.get.partitionFilters, scan.get.dataFilters).length === 1)
  }
}
