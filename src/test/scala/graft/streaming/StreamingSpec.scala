package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, TempDirs}

/** Drives the Structured Streaming GTFS variant end to end: bronze
  * JSON files appear in a directory, `readStream` picks them up, the
  * silver stream cleans + watermark-dedups, and a windowed aggregate
  * emits per-line stats — all through a real StreamingQuery
  * (memory sink, processAllAvailable).
  */
class StreamingSpec extends SparkSpec {

  // strictly increasing mtimes: FileStreamSource orders same-mtime
  // files arbitrarily (sub-ms writes collide), which would randomize
  // micro-batch arrival order in the one-file-per-trigger tests
  private val mtimeClock = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis())

  private def writeBronze(dir: String, name: String, records: String*): Unit = {
    val body = s"""{"result": [${records.mkString(", ")}]}"""
    val p = Paths.get(dir, name)
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(mtimeClock.addAndGet(2000)))
  }

  private def rec(lines: String, vehicle: String, lat: Double, lon: Double,
      time: String): String =
    s"""{"Lines": "$lines", "VehicleNumber": "$vehicle", "Lat": $lat, "Lon": $lon, "Time": "$time", "Brigade": "1"}"""

  test("the LLM quality gate composes with Structured Streaming: streamed survivors equal batch") {
    val sf = "/root/testdata/sf0.001"
    val batchDocs = graft.Tables.documents(spark, sf)
    // stage the corpus as a streaming source directory (two files →
    // at least two micro-batches under maxFilesPerTrigger = 1)
    val srcDir = TempDirs.create("graft-stream-docs").toString
    batchDocs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$srcDir/part_a")
    batchDocs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$srcDir/part_b")
    val stream = spark.readStream
      .schema(batchDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = graft.ops.Curation.qualityGate(stream)
      .writeStream
      .format("memory")
      .queryName("stream_quality")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_quality").orderBy("doc_id").collect()
    val batch = graft.SparkEntry.queries("df01_quality_gate")(spark, sf).collect()
    assert(streamed.length === batch.length)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("stream-static dimension enrichment equals the batch join") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
    val srcDir = TempDirs.create("graft-stream-ev").toString
    events.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$srcDir/part_a")
    events.filter(col("event_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$srcDir/part_b")
    val dim = events.select("user_id").distinct()
      .withColumn("tier", (col("user_id") % 3).cast("int"))
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = graft.streaming.Streams.enrichWithDim(stream, dim, "user_id")
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("dim_enriched")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("dim_enriched").orderBy("event_id").collect()
    val batch = graft.streaming.Streams.enrichWithDim(events, dim, "user_id")
      .select("event_id", "user_id", "tier").orderBy("event_id").collect()
    assert(streamed.length === batch.length)
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    assert(streamed.forall(!_.isNullAt(2)), "every event user has a tier")
  }

  test("transformWithState running counts converge to the batch per-user counts") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
    val srcDir = TempDirs.create("graft-tws-ev").toString
    events.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$srcDir/part_a")
    events.filter(col("event_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$srcDir/part_b")
    // transformWithState requires the RocksDB provider by contract
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$srcDir/part_a").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/part_*")
      val q = graft.streaming.Streams.runningCounts(stream)
        .writeStream.format("memory").queryName("tws_counts")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "streaming query timed out")
      finally q.stop()
      // Update mode emits one running total per (user, batch); the
      // last (= max) emission per user must equal the batch count
      val streamed = spark.table("tws_counts")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("n_events").as("n_events"))
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
      val batch = events.groupBy("user_id").count()
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
      assert(streamed === batch)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming silver dedups across micro-batches and filters bbox") {
    val dir = TempDirs.create("graft-stream").toString
    // file 1: two good records (one duplicated), one Kraków outlier
    writeBronze(dir, "b1.json",
      rec("102", "1000", 52.2, 21.0, "2026-02-23 12:00:00"),
      rec("102", "1000", 52.2, 21.0, "2026-02-23 12:00:00"),
      rec("102", "9999", 50.06, 19.94, "2026-02-23 12:00:10"))
    // file 2: same (vehicle, time) again — cross-batch duplicate — plus a new ping
    writeBronze(dir, "b2.json",
      rec("102", "1000", 52.2, 21.0, "2026-02-23 12:00:00"),
      rec("102", "1000", 52.21, 21.01, "2026-02-23 12:00:15"))

    val silver = Streams.silverStream(Streams.bronzeStream(spark, dir))
    val q = silver.writeStream
      .format("memory").queryName("silver_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("silver_out").collect()
      // 1000@12:00:00 once (deduped within AND across batches),
      // 1000@12:00:15 once; Kraków dropped
      assert(rows.length === 2, rows.mkString("; "))
      assert(rows.map(_.getAs[String]("VehicleNumber")).toSet === Set("1000"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState segments trips across micro-batches") {
    val dir = TempDirs.create("graft-trips").toString
    // batch 1: two pings 10 min apart (same trip)
    writeBronze(dir, "b1.json",
      rec("189", "8349", 52.2, 21.0, "2026-02-23 08:00:00"),
      rec("189", "8349", 52.21, 21.01, "2026-02-23 08:10:00"))
    // batch 2 (same dir, later file): a ping 3 h later → closes trip 1
    writeBronze(dir, "b2.json",
      rec("189", "8349", 52.25, 21.05, "2026-02-23 11:10:00"))

    // one file per micro-batch → the gap is detected ACROSS batches,
    // exercising the cross-batch GroupState
    val silver = Streams.silverStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val trips = Streams.tripSegments(silver, gapSec = 1800)
    val q = trips.writeStream
      .format("memory").queryName("trips_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("trips_out").collect()
      assert(rows.length === 1, rows.mkString("; "))
      val t = rows.head
      assert(t.getAs[String]("VehicleNumber") === "8349")
      assert(t.getAs[Int]("pings") === 2)
      assert(t.getAs[java.sql.Timestamp]("trip_start").toString === "2026-02-23 08:00:00.0")
      assert(t.getAs[java.sql.Timestamp]("trip_end").toString === "2026-02-23 08:10:00.0")
    } finally q.stop()
  }

  test("gold refresh counts segments that span micro-batch boundaries") {
    val dir = TempDirs.create("graft-gold-src").toString
    val out = TempDirs.create("graft-gold-out").toString
    val ckpt = TempDirs.create("graft-gold-ckpt").toString
    writeBronze(dir, "b1.json",
      rec("189", "8349", 52.2, 21.0, "2026-02-23 08:00:00"),
      rec("189", "8349", 52.21, 21.01, "2026-02-23 08:10:00"))
    // same vehicle continues in the NEXT micro-batch: the 08:10→09:00
    // segment must be attributed (GroupState prevs, not per-batch lag)
    writeBronze(dir, "b2.json",
      rec("189", "8349", 52.25, 21.05, "2026-02-23 09:00:00"))
    // a different vehicle advances the watermark past 09:00 + TTL so
    // 8349's buffered tail (the ~5 km segment) flushes via timeout
    writeBronze(dir, "b3.json",
      rec("523", "7000", 52.23, 21.03, "2026-02-23 12:00:00"))

    val silver = Streams.silverStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val q = Streams.goldRefresh(silver, s"$out/gold", s"$ckpt/cp")
    try {
      q.processAllAvailable()
      val gold = spark.table("parquet.`" + out + "/gold`")
      val rows = gold.select("batch_id", "Lines", "total_distance_km").collect()
        .map(r => (r.getAs[Number](0).longValue, r.getString(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(rows.map(_._1).distinct.length === 3, rows.mkString("; "))
      assert(rows.forall(_._2 === "189"))
      // the timeout-flush batch holds exactly the cross-batch
      // 08:10→09:00 segment (~5 km); a per-batch lag window would
      // have zeroed it
      val lastBatchDist = rows.last._3
      assert(lastBatchDist > 4.0 && lastBatchDist < 7.0, rows.mkString("; "))
    } finally q.stop()
  }

  test("trip state times out via watermark: last trip of the day is emitted") {
    val dir = TempDirs.create("graft-trips-ttl").toString
    writeBronze(dir, "b1.json",
      rec("189", "8349", 52.2, 21.0, "2026-02-23 08:00:00"),
      rec("189", "8349", 52.21, 21.01, "2026-02-23 08:10:00"))
    // a DIFFERENT vehicle 12 h later advances the watermark far past
    // 8349's last ping + gap → 8349's open trip can never be extended,
    // so the event-time timeout emits it with no closing ping
    writeBronze(dir, "b2.json",
      rec("523", "7000", 52.22, 21.02, "2026-02-23 20:00:00"))

    val silver = Streams.silverStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val trips = Streams.tripSegments(silver, gapSec = 1800)
    val q = trips.writeStream
      .format("memory").queryName("trips_ttl_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("trips_ttl_out").collect()
      // 8349's trip emitted by timeout; 7000's open trip is still
      // within gap of the watermark and correctly stays open
      assert(rows.length === 1, rows.mkString("; "))
      val t = rows.head
      assert(t.getAs[String]("VehicleNumber") === "8349")
      assert(t.getAs[Int]("pings") === 2)
      assert(t.getAs[java.sql.Timestamp]("trip_end").toString === "2026-02-23 08:10:00.0")
    } finally q.stop()
  }

  test("enriched state TTL: vehicle returning after expiry restarts at first-ping semantics") {
    val dir = TempDirs.create("graft-enr-ttl").toString
    writeBronze(dir, "b1.json",
      rec("189", "8349", 52.2, 21.0, "2026-02-23 08:00:00"),
      rec("189", "8349", 52.21, 21.01, "2026-02-23 08:10:00"))
    // another vehicle at 15:00 pushes the watermark past 8349's
    // last ping + TTL (2 h) → the no-data batch after it expires
    // 8349's state
    writeBronze(dir, "b2.json",
      rec("523", "7000", 52.22, 21.02, "2026-02-23 15:00:00"))

    val silver = Streams.silverStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val enriched = Streams.enrichedStream(silver)
    val q = enriched.writeStream
      .format("memory").queryName("enr_ttl_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable() // b1, b2, then the watermark-advance batch fires the timeout
      // phase 2: 8349 returns after its state expired → its ping must
      // be a FIRST ping (dist 0), not a 08:10 → 20:00 segment
      writeBronze(dir, "b3.json",
        rec("189", "8349", 52.30, 21.10, "2026-02-23 20:00:00"))
      q.processAllAvailable()
      // phase 3: advance the watermark past 20:00 + TTL so the
      // returning ping's buffered row flushes via its own timeout
      writeBronze(dir, "b4.json",
        rec("523", "7000", 52.23, 21.03, "2026-02-23 23:00:00"))
      q.processAllAvailable()
      val rows = spark.table("enr_ttl_out")
        .filter(org.apache.spark.sql.functions.col("VehicleNumber") === "8349")
        .collect()
        .map(r => (r.getAs[java.sql.Timestamp]("Time").toString, r.getAs[Double]("dist_km")))
        .sortBy(_._1)
      assert(rows.length === 3, rows.mkString("; "))
      assert(rows.last._1 === "2026-02-23 20:00:00.0")
      assert(rows.last._2 === 0.0,
        s"state must have expired: got dist ${rows.last._2} for the returning ping")
    } finally q.stop()
  }

  test("TTL gap rule is batch-packing independent: episode splits on event time alone") {
    // the episode split must depend ONLY on the event-time gap, never
    // on how pings pack into micro-batches (timeout batches race with
    // data arrival, so a timeout-only TTL changes answers with pacing
    // — found by review; pinned here for three packings)
    val dir = TempDirs.create("graft-ttlgap").toString
    // vehicle 1000: gap spans batches, with a duplicates-only batch in
    // between (the op is invoked, drops everything, and must still
    // re-arm its reaper timeout)
    writeBronze(dir, "b1.json",
      rec("102", "1000", 52.20, 21.00, "2026-02-23 10:00:00"),
      rec("102", "1000", 52.21, 21.01, "2026-02-23 10:02:00"))
    writeBronze(dir, "b2.json",
      rec("102", "1000", 52.20, 21.00, "2026-02-23 10:00:00"))
    // vehicle 2000: the SAME shape of gap entirely inside one batch
    writeBronze(dir, "b3.json",
      rec("102", "2000", 52.20, 21.00, "2026-02-23 10:00:00"),
      rec("102", "2000", 52.30, 21.10, "2026-02-23 20:00:00"))
    // 1000 returns after the gap
    writeBronze(dir, "b4.json",
      rec("102", "1000", 52.30, 21.10, "2026-02-23 20:00:00"))
    // watermark far enough to reap + flush every tail
    writeBronze(dir, "b5.json",
      rec("523", "7000", 52.23, 21.03, "2026-02-23 23:30:00"))

    val clean = Streams.cleanStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val q = Streams.enrichedStream(clean).writeStream
      .format("memory").queryName("ttlgap_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      def rowsOf(v: String) = spark.table("ttlgap_out")
        .filter(org.apache.spark.sql.functions.col("VehicleNumber") === v)
        .select("Time", "dist_km").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString, r.getAs[Double](1)))
        .sortBy(_._1).toSeq
      val v1 = rowsOf("1000")
      assert(v1.length === 3, v1.mkString("; "))
      assert(v1(0)._2 === 0.0)
      assert(v1(1)._2 > 0.0)
      assert(v1(2) === ("2026-02-23 20:00:00.0", 0.0),
        s"cross-batch gap must split the episode: ${v1(2)}")
      // identical answer for the identical event-time shape in ONE batch
      val v2 = rowsOf("2000")
      assert(v2 === Seq(("2026-02-23 10:00:00.0", 0.0), ("2026-02-23 20:00:00.0", 0.0)),
        s"same-batch gap must split the episode identically: $v2")
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to in-window clicks") {
    import org.apache.spark.sql.types._
    val cdir = TempDirs.create("graft-clicks").toString
    val pdir = TempDirs.create("graft-purch").toString
    def writeJson(dir: String, name: String, lines: String*): Unit = {
      val p = Paths.get(dir, name)
      Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtimeClock.addAndGet(2000)))
    }
    // u1: two clicks inside the 1 h window (both pair), u2: click 3 h
    // stale (no pair); the second click arrives in a LATER file so at
    // least one pairing crosses a micro-batch boundary
    writeJson(cdir, "c1.json",
      """{"user": "u1", "click_ts": "2026-02-23 10:00:00", "click_id": 1}""",
      """{"user": "u2", "click_ts": "2026-02-23 07:00:00", "click_id": 2}""")
    writeJson(cdir, "c2.json",
      """{"user": "u1", "click_ts": "2026-02-23 10:15:00", "click_id": 3}""")
    writeJson(pdir, "p1.json",
      """{"user": "u1", "purchase_ts": "2026-02-23 10:30:00", "amount": 9.5}""",
      """{"user": "u2", "purchase_ts": "2026-02-23 10:40:00", "amount": 3.0}""")

    val clickSchema = StructType(Seq(StructField("user", StringType),
      StructField("click_ts", TimestampType), StructField("click_id", LongType)))
    val purchSchema = StructType(Seq(StructField("user", StringType),
      StructField("purchase_ts", TimestampType), StructField("amount", DoubleType)))
    val clicks = spark.readStream.schema(clickSchema)
      .option("maxFilesPerTrigger", "1").json(cdir)
    val purchases = spark.readStream.schema(purchSchema)
      .option("maxFilesPerTrigger", "1").json(pdir)

    val joined = Streams.intervalJoin(clicks, purchases,
      key = "user", leftTs = "click_ts", rightTs = "purchase_ts", windowSec = 3600)
    val q = joined.writeStream
      .format("memory").queryName("attrib_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attrib_out")
        .select("user", "click_id", "amount").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows === Set(("u1", 1L, 9.5), ("u1", 3L, 9.5)), rows.toString)
    } finally q.stop()
  }

  test("streaming near-dup dedup matches the batch decision table (st05)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st05_stream_neardup")(spark, sf).collect()
    val docs = graft.Tables.documents(spark, sf)
      .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
      .select(col("doc_id"), col("text"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)").as("ts"))
    val srcDir = TempDirs.create("graft-st05").toString
    // one file per group, strictly increasing mtimes → deterministic
    // micro-batch order under maxFilesPerTrigger = 1
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    // two far-future flush docs in separate, later files: the first
    // advances the watermark past every real 10-min window, the
    // second's micro-batch emits those closed windows (watermark
    // updates at end-of-batch; eviction happens the batch after)
    spark.sql("SELECT CAST(999999998 AS BIGINT) AS doc_id, 'zz' AS text, " +
        "timestamp'2024-06-01 00:00:00' AS ts")
      .coalesce(1).write.parquet(s"$srcDir/part_y")
    stamp("part_y")
    spark.sql("SELECT CAST(999999999 AS BIGINT) AS doc_id, 'zz' AS text, " +
        "timestamp'2024-06-02 00:00:00' AS ts")
      .coalesce(1).write.parquet(s"$srcDir/part_z")
    stamp("part_z")
    val (cb, cs) = graft.ops.Dedup.corpusIndex(spark, sf)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = Streams.nearDupDedupStream(stream, cb, cs)
      .writeStream.format("memory").queryName("st05_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st05_out")
        .filter(col("batch_doc") < 999999998L)
        .orderBy("batch_doc").collect()
      assert(streamed.nonEmpty, "no streamed decisions emitted")
      assert(streamed.length === batch.length,
        s"streamed ${streamed.length} rows vs batch ${batch.length}")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  /** Streams `arrivals` (even `key`s, then odd ones, one file per
    * micro-batch) and then two far-future `sentinel` rows through
    * `serve` into a memory sink, and returns the rows emitted for the
    * real arrivals, window_start dropped, sorted by their first two
    * columns. The first sentinel moves the watermark past every real
    * 10-minute window; the second's micro-batch emits those windows. */
  private def servedRows(name: String, arrivals: DataFrame, key: String,
      sentinel: (Long, String) => DataFrame)(
      serve: DataFrame => DataFrame): Seq[Seq[Any]] = {
    import org.apache.spark.sql.functions.col
    val srcDir = TempDirs.create(s"graft-$name").toString
    def put(sub: String, df: DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$srcDir/$sub")
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    put("part_a", arrivals.filter(col(key) % 2 === 0))
    put("part_b", arrivals.filter(col(key) % 2 =!= 0))
    put("part_y", sentinel(999999998L, "2024-06-01"))
    put("part_z", sentinel(999999999L, "2024-06-02"))
    val stream = spark.readStream.schema(arrivals.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = serve(stream)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table(name).drop("window_start")
      val Seq(first, second) = out.columns.take(2).toSeq
      out.filter(col(first) < 999999998L).orderBy(first, second)
        .collect().map(_.toSeq).toSeq
    } finally q.stop()
  }

  test("streaming near-dup probe of the PERSISTED bucketed index matches st05 (st06)") {
    // The full 100 TB ingest shape: a doc stream probes the ON-DISK
    // bucketed corpus index (ops/BandIndex) through a real readStream
    // — dd15 proved the batch probe, st05 the streaming core over
    // derived frames; this is their composition. Decisions must equal
    // the batch st05 table row-for-row.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st05_stream_neardup")(spark, sf).collect()
    // and the st06 catalog entry itself agrees with st05
    val viaEntry = graft.SparkEntry.queries("st06_stream_index_probe")(spark, sf).collect()
    assert(viaEntry.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "st06 batch-analog decisions diverge from st05")

    val docs = graft.Tables.documents(spark, sf)
      .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
      .select(col("doc_id"), col("text"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)").as("ts"))
    val srcDir = TempDirs.create("graft-st06").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    spark.sql("SELECT CAST(999999998 AS BIGINT) AS doc_id, 'zz' AS text, " +
        "timestamp'2024-06-01 00:00:00' AS ts")
      .coalesce(1).write.parquet(s"$srcDir/part_y")
    stamp("part_y")
    spark.sql("SELECT CAST(999999999 AS BIGINT) AS doc_id, 'zz' AS text, " +
        "timestamp'2024-06-02 00:00:00' AS ts")
      .coalesce(1).write.parquet(s"$srcDir/part_z")
    stamp("part_z")
    val prefix = graft.ops.BandIndex.ensurePersisted(spark, sf)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val (bands, sigs) = graft.ops.BandIndex.corpusFrames(spark, prefix, None)
    val q = Streams.nearDupDedupStream(stream, bands, sigs)
      .writeStream.format("memory").queryName("st06_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st06_out")
        .filter(col("batch_doc") < 999999998L)
        .orderBy("batch_doc").collect()
      assert(streamed.nonEmpty, "no streamed decisions emitted")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
        "streamed persisted-index decisions diverge from st05 batch table")
    } finally q.stop()
    // one more input: a tombstoned corpus doc that was some batch doc's
    // dup_of stops being one in the stream exactly as in BandIndex.probe
    import spark.implicits._
    val BI = graft.ops.BandIndex
    val retiredIdx = BI.ensurePersisted(spark, sf, "st06_retired")
    val dupOf = BI.probe(spark, sf, retiredIdx).filter(col("dup_of").isNotNull)
      .select("dup_of").distinct().collect().map(_.getAs[Number](0).longValue).sorted
    assert(dupOf.nonEmpty, "no batch doc has a near-duplicate to retire")
    BI.retireTombstone(spark, retiredIdx, Seq(dupOf.head).toDF("doc_id"))
    val masked = BI.probe(spark, sf, retiredIdx).collect().map(_.toSeq).toSeq
    assert(!masked.exists(r => r(1) != null && r(1).asInstanceOf[Number].longValue == dupOf.head),
      "the batch probe still resolves to the tombstoned doc")
    def sentinel(id: Long, day: String): DataFrame =
      spark.sql(s"SELECT CAST($id AS BIGINT) AS doc_id, 'zz' AS text, " +
        s"timestamp'$day 00:00:00' AS ts")
    val (maskedBands, maskedSigs) = BI.corpusFrames(spark, retiredIdx, None)
    val retiredStream = servedRows("st06_retired_out", docs, "doc_id", sentinel)(
      Streams.nearDupDedupStream(_, maskedBands, maskedSigs))
    assert(retiredStream === masked, "the st06 stream diverges from BandIndex.probe after a tombstone")
  }

  test("streaming filtered ANN equals the batch metadata-predicated top-k (st16)") {
    // sim22 as a stream: the label predicate rides a stream-static
    // join against the column-pruned label dim, applied before the
    // cosine and the K-bounded top-k state. Must equal the batch
    // analog row for row.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st16_stream_filtered_ann")(spark, sf).collect()
    assert(batch.nonEmpty, "batch analog returned no rows")
    val prefix = graft.ops.VecIndex.ensurePersisted(spark, sf)
    val srcDir = TempDirs.create("graft-st16").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    val queries = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    queries.filter(col("query_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    queries.filter(col("query_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    Seq(("999999998", "2024-06-01"), ("999999999", "2024-06-02"))
      .zipWithIndex.foreach { case ((id, day), i) =>
        graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
          .select(lit(id.toLong).as("query_id"), col("embedding"), col("label"),
            expr(s"timestamp'$day 00:00:00'").as("ts"))
          .coalesce(1).write.parquet(s"$srcDir/part_z$i")
        stamp(s"part_z$i")
      }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = Streams.filteredAnnProbeStream(spark, sf, prefix, stream)
      .writeStream.format("memory").queryName("st16_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st16_out")
        .filter(col("query_id") < 999999998L)
        .orderBy("query_id", "neighbor_id").collect()
      assert(streamed.nonEmpty, "no streamed filtered-ANN rows emitted")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
        "streamed filtered top-k diverges from the batch analog")
    } finally q.stop()
  }

  test("streaming covering-index ANN equals st16's decisions without the dim join (st17)") {
    // sim23's layout on the serving stream: the label predicate reads
    // the covering cell row, so the per-micro-batch stream-static dim
    // join is gone. Must equal the st16 batch analog row for row (the
    // shared-oracle claim), and the streaming plan must hold no
    // unbounded embeddings scan beyond the cells.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val st16 = graft.SparkEntry.queries("st16_stream_filtered_ann")(spark, sf).collect()
    val batch = graft.SparkEntry.queries("st17_stream_covering_ann")(spark, sf).collect()
    assert(batch.nonEmpty, "batch analog returned no rows")
    assert(batch.map(_.toSeq).toSeq === st16.map(_.toSeq).toSeq,
      "covering-cells decisions diverge from the dim-join form")
    val prefix = graft.ops.VecIndex.ensureCoveringPersisted(spark, sf)
    val srcDir = TempDirs.create("graft-st17").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    val queries = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding"), col("label"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    queries.filter(col("query_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    queries.filter(col("query_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    // watermark advancers: far-future sentinel queries close the
    // 2024-01-01 windows so append mode emits them (st16's device)
    Seq(("999999998", "2024-06-01"), ("999999999", "2024-06-02"))
      .zipWithIndex.foreach { case ((id, day), i) =>
        graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
          .select(lit(id.toLong).as("query_id"), col("embedding"), col("label"),
            expr(s"timestamp'$day 00:00:00'").as("ts"))
          .coalesce(1).write.parquet(s"$srcDir/part_z$i")
        stamp(s"part_z$i")
      }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = Streams.coveringAnnProbeStream(spark, sf, prefix, stream)
      .writeStream.format("memory").queryName("st17_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st17_out")
        .filter(col("query_id") < 999999998L)
        .orderBy("query_id", "neighbor_id").collect()
      assert(streamed.nonEmpty, "no streamed covering-ANN rows emitted")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
        "streamed covering top-k diverges from the batch analog")
    } finally q.stop()
  }

  test("foreachBatch index-maintenance loop over a real stream equals the sequenced cycle (st07)") {
    // The production ingest LOOP: each micro-batch probes the current
    // persisted index, emits its decisions, and appends its novel
    // docs so the NEXT micro-batch sees them as dup targets.
    // st07_stream_index_maintain is the deterministic batch analog
    // (day 0 = the batch feed, day 1 = the same feed re-ingested
    // under DayOffset-shifted ids, DuckDB-replayed); here the same
    // two days arrive as files through a real readStream +
    // foreachBatch sink, which must produce row-identical decisions
    // — including the observable learning property: every day-0
    // novel's day-1 copy resolves to its day-0 twin at est 1.0,
    // which can only happen if batch 0's append landed before
    // batch 1's probe.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val Off = graft.ops.BandIndex.DayOffset
    val batchRows = graft.SparkEntry.queries("st07_stream_index_maintain")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    // the cycle's sequencing must be OBSERVABLE in this fixture:
    // day-0 novels exist and each one's day-1 copy points back at it
    val novels0 = batchRows.filter(r => r._1 == 0 && r._3.isEmpty).map(_._2)
    assert(novels0.nonEmpty, "fixture has no day-0 novel docs; st07 is vacuous")
    novels0.foreach { n =>
      val day1 = batchRows.find(r => r._1 == 1 && r._2 == n + Off).get
      assert(day1._3.contains(n) && day1._4.contains(1.0),
        s"day-1 copy of day-0 novel $n did not resolve to its appended twin: $day1")
    }

    // a private fresh index for the stream side
    val path = TempDirs.create("graft-st07spec").toString
    val prefix = s"graft_st07spec_${System.nanoTime()}"
    graft.ops.BandIndex.persist(spark, sf, path, prefix)
    val srcDir = TempDirs.create("graft-st07src").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    val batchDocs = graft.Tables.documents(spark, sf)
      .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
      .select("doc_id")
    batchDocs.coalesce(1).write.parquet(s"$srcDir/part_day0")
    stamp("part_day0")
    batchDocs.select((col("doc_id") + Off).as("doc_id"))
      .coalesce(1).write.parquet(s"$srcDir/part_day1")
    stamp("part_day1")

    val streamed = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Option[Long], Option[Double])]
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_day0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // pin this micro-batch's ids, probe the CURRENT index with
        // them, record decisions, append novels for the next batch
        val ids = df.select(col("doc_id")).localCheckpoint()
        val dec = graft.ops.BandIndex.probeIds(spark, sf, prefix, ids)
          .localCheckpoint()
        graft.ops.BandIndex.append(spark, sf,
          dec.filter(col("dup_of").isNull).select(col("batch_doc").as("doc_id")),
          prefix)
        streamed.synchronized {
          streamed ++= dec.collect().map(r => (batchId.toInt, r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val got = streamed.sortBy(_._2).toSeq
      assert(got.map(_._1).distinct.size == 2, "expected exactly 2 micro-batches")
      assert(got == batchRows.sortBy(_._2),
        "foreachBatch loop decisions diverge from the sequenced batch cycle")
    } finally {
      q.stop()
      graft.ops.BandIndex.drop(spark, prefix)
    }
  }

  test("streaming admission pipeline equals the batch core per micro-batch (st15)") {
    // The composed ingest admission as a real stream: each
    // micro-batch runs Pipeline.admissionCore — row-local gates,
    // contamination vs the STATIC broadcast eval shingle set, then
    // the persisted-index near-dup probe for gate survivors. A doc's
    // verdict needs only its own rows, so the per-micro-batch form
    // must equal the whole-feed batch entry row for row.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st15_stream_admission")(spark, sf).collect()
    // the fixture must exercise every verdict, or the composition is vacuous
    val verdicts = batch.map(_.getString(2)).toSet
    assert(Set("eval", "quality", "langid", "contaminated", "dup", "admit")
      .subsetOf(verdicts), s"fixture misses verdicts: got $verdicts")

    val docs = graft.Tables.documents(spark, sf)
      .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
      .select(col("doc_id"), col("lang"), col("text"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)").as("ts"))
    val srcDir = TempDirs.create("graft-st15src").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")

    // the verdict rows of one stream over the two parts, against index prefix
    def streamedVerdicts(prefix: String): Seq[Seq[Any]] = {
      val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Any])]
      var batches = 0
      val stream = spark.readStream
        .schema(spark.read.parquet(s"$srcDir/part_a").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/part_*")
      val q = stream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = graft.ops.Pipeline.admissionCore(spark, sf, prefix, df.localCheckpoint())
            .collect()
          streamed.synchronized {
            batches += 1
            streamed ++= rows.map(r => (r.getLong(1), r.toSeq))
          }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        assert(batches == 2, s"expected exactly 2 micro-batches, got $batches")
        streamed.sortBy(_._1).map(_._2).toSeq
      } finally q.stop()
    }
    val BI = graft.ops.BandIndex
    assert(streamedVerdicts(BI.ensurePersisted(spark, sf)) == batch.map(_.toSeq).toSeq,
      "per-micro-batch admission verdicts diverge from the batch core")

    // one more input: a tombstoned corpus doc that was some admitted
    // batch doc's dup_of stops being one, exactly as in BandIndex.probe
    import spark.implicits._
    val retiredIdx = BI.ensurePersisted(spark, sf, "st15_retired")
    try {
      val dupOf = batch.filter(_.getString(2) == "dup").map(_.getAs[Number](3).longValue)
        .distinct.sorted
      assert(dupOf.nonEmpty, "no admitted batch doc has a near-duplicate to retire")
      BI.retireTombstone(spark, retiredIdx, Seq(dupOf.head).toDF("doc_id"))
      val masked = BI.probe(spark, sf, retiredIdx)
        .select("batch_doc", "dup_of", "est_jaccard").collect()
        .map(r => r.getAs[Number](0).longValue -> r.toSeq.tail).toMap
      val retired = streamedVerdicts(retiredIdx)
      assert(!retired.exists(r => r(3) != null && r(3).asInstanceOf[Number].longValue == dupOf.head),
        s"the stream still resolves a batch doc to tombstoned doc ${dupOf.head}")
      val probed = retired.filter(r => r(2) == "dup" || r(2) == "admit")
      assert(probed.exists(_(2) == "dup"), "no probed doc kept a near-duplicate")
      probed.foreach { r =>
        val id = r(1).asInstanceOf[Number].longValue
        assert(masked.get(id).forall(_ == r.drop(3)) && (r(2) == "admit" || masked.contains(id)),
          s"admission of doc $id diverges from BandIndex.probe after a tombstone: $r vs ${masked.get(id)}")
      }
    } finally BI.drop(spark, retiredIdx)
  }

  test("streaming hybrid search equals the batch core per micro-batch (st18)") {
    // Hybrid text+vector serving as a real stream: each micro-batch's
    // arriving query vectors probe the persisted IVF cells and join
    // the memoized static BM25 index, fused with RRF. A query's fused
    // result needs only its own rows + static state, so the
    // per-micro-batch form must equal the whole-workload batch entry
    // row for row.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st18_stream_hybrid_search")(spark, sf).collect()
    assert(batch.nonEmpty, "batch analog returned no rows")
    // the fixture must exercise the fusion, or the test is vacuous:
    // at least one fused row per lane-presence shape
    assert(batch.exists(r => !r.isNullAt(3)), "no lexical-lane row fused")
    assert(batch.exists(r => !r.isNullAt(4)), "no vector-lane row fused")
    assert(batch.exists(_.isNullAt(3)), "no vector-only row (query 4 missing?)")
    val arrivals = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    val srcDir = TempDirs.create("graft-st18").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    arrivals.filter(col("query_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    arrivals.filter(col("query_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Seq[Any])]
    var batches = 0
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = Streams.hybridServeCore(spark, sf, df.localCheckpoint()).collect()
        streamed.synchronized {
          batches += 1
          streamed ++= rows.map(r => (r.getLong(0), r.getInt(1), r.toSeq))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batches == 2, s"expected exactly 2 micro-batches, got $batches")
      val got = streamed.sortBy(t => (t._1, t._2)).map(_._3).toSeq
      assert(got == batch.map(_.toSeq).toSeq,
        "per-micro-batch hybrid results diverge from the batch core")
    } finally q.stop()
  }

  test("fully-served streaming hybrid equals st18 and the batch core per micro-batch (st19)") {
    // st19 = st18 with the lexical lane on the PERSISTED BM25
    // postings index instead of the session memo. Decisions must be
    // identical to st18's batch entry, and the served core must
    // reproduce them per micro-batch through a real readStream.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val st18 = graft.SparkEntry.queries("st18_stream_hybrid_search")(spark, sf).collect()
    val st19 = graft.SparkEntry.queries("st19_stream_hybrid_served")(spark, sf).collect()
    assert(st19.nonEmpty)
    assert(st19.map(_.toSeq).toSeq == st18.map(_.toSeq).toSeq,
      "the persisted lexical lane changed the fused decisions")
    val arrivals = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    val srcDir = TempDirs.create("graft-st19").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    arrivals.filter(col("query_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    arrivals.filter(col("query_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    val streamed = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Seq[Any])]
    var batches = 0
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = Streams.hybridServedCore(spark, sf, df.localCheckpoint()).collect()
        streamed.synchronized {
          batches += 1
          streamed ++= rows.map(r => (r.getLong(0), r.getInt(1), r.toSeq))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(batches == 2, s"expected exactly 2 micro-batches, got $batches")
      val got = streamed.sortBy(t => (t._1, t._2)).map(_._3).toSeq
      assert(got == st19.map(_.toSeq).toSeq,
        "per-micro-batch served-hybrid results diverge from the batch core")
    } finally q.stop()
  }

  /** The tombstone input of the st09/st12 parity tests: retires every
    * third distinct neighbor that the clean batch probe of `prefix`
    * returns, then requires the stream over `prefix` to equal the
    * masked batch probe and to serve none of the retired vec_ids. */
  private def retiredVectorsParity(sf: String, name: String, prefix: String,
      batch: String => DataFrame, retire: (String, DataFrame) => Unit,
      stream: (String, DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def neighbors(rows: Seq[Seq[Any]]): Set[Long] =
      rows.map(_(1).asInstanceOf[Number].longValue).toSet
    val gone = neighbors(batch(prefix).collect().map(_.toSeq).toSeq).filter(_ % 3 == 0)
    assert(gone.nonEmpty, "the clean probe returned no neighbor to retire")
    retire(prefix, gone.toSeq.toDF("vec_id"))
    val masked = batch(prefix).collect().map(_.toSeq).toSeq
    assert(masked.nonEmpty && (neighbors(masked) & gone).isEmpty,
      s"the $name batch probe serves a tombstoned vector")
    val arrivals = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    def sentinel(id: Long, day: String): DataFrame =
      graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
        .select(lit(id).as("query_id"), col("embedding"),
          expr(s"timestamp'$day 00:00:00'").as("ts"))
    val streamed = servedRows(s"${name}_retired_out", arrivals, "query_id", sentinel)(
      stream(prefix, _))
    assert((neighbors(streamed) & gone).isEmpty,
      s"the $name stream serves a tombstoned vector")
    assert(streamed === masked, s"the $name stream diverges from its batch probe")
  }

  test("streaming ANN probe of the persisted vector index equals the batch top-k (st09)") {
    // ANN serving as a stream: query vectors arrive over multiple
    // micro-batches, select probe cells via broadcast centroids in a
    // stateless projection, stream-static join the persisted cell
    // table, and emit per-query top-k through the K-bounded
    // topk_struct aggregate. Must equal the batch analog row for row.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st09_stream_ann_probe")(spark, sf).collect()
    assert(batch.nonEmpty, "batch analog returned no rows")
    val prefix = graft.ops.VecIndex.ensurePersisted(spark, sf)
    val srcDir = TempDirs.create("graft-st09").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    val queries = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    queries.filter(col("query_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    queries.filter(col("query_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    // two far-future flush queries in separate, later files: the
    // first advances the watermark past every real 10-min window,
    // the second's micro-batch emits those closed windows
    Seq(("999999998", "2024-06-01"), ("999999999", "2024-06-02"))
      .zipWithIndex.foreach { case ((id, day), i) =>
        graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
          .select(lit(id.toLong).as("query_id"), col("embedding"),
            expr(s"timestamp'$day 00:00:00'").as("ts"))
          .coalesce(1).write.parquet(s"$srcDir/part_z$i")
        stamp(s"part_z$i")
      }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = Streams.annProbeStream(spark, sf, prefix, stream)
      .writeStream.format("memory").queryName("st09_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st09_out")
        .filter(col("query_id") < 999999998L)
        .orderBy("query_id", "neighbor_id").collect()
      assert(streamed.nonEmpty, "no streamed ANN rows emitted")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
        "streamed ANN top-k diverges from the batch analog")
    } finally q.stop()
    // one more input: vectors tombstoned on a persisted index leave the
    // stream exactly as they leave the batch probe
    retiredVectorsParity(sf, "st09", graft.ops.VecIndex.ensurePersisted(spark, sf, "st09_retired"),
      graft.ops.VecIndex.probe(spark, sf, _), graft.ops.VecIndex.retireTombstone(spark, _, _),
      Streams.annProbeStream(spark, sf, _, _))
  }

  test("streaming PQ serving from the code-cell index equals the batch ADC top-k (st12)") {
    // sim18's ADC serving as a real stream: the per-query LUT frame
    // is not streaming-legal (stream-stream join), so candidates join
    // the broadcast static codebook per code column instead — this
    // test proves that dataflow end to end through readStream,
    // multi-micro-batch arrival, watermark close, and append-mode
    // emit, row-identical to the batch analog.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st12_stream_pq_serving")(spark, sf).collect()
    assert(batch.nonEmpty, "batch analog returned no rows")
    val prefix = graft.ops.VecIndex.ensurePqPersisted(spark, sf)
    val srcDir = TempDirs.create("graft-st12").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    val queries = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < graft.ops.Similarity.KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    queries.filter(col("query_id") % 2 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    queries.filter(col("query_id") % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    Seq(("999999998", "2024-06-01"), ("999999999", "2024-06-02"))
      .zipWithIndex.foreach { case ((id, day), i) =>
        graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
          .select(lit(id.toLong).as("query_id"), col("embedding"),
            expr(s"timestamp'$day 00:00:00'").as("ts"))
          .coalesce(1).write.parquet(s"$srcDir/part_z$i")
        stamp(s"part_z$i")
      }
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = Streams.pqServeStream(spark, sf, prefix, stream)
      .writeStream.format("memory").queryName("st12_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st12_out")
        .filter(col("query_id") < 999999998L)
        .orderBy("query_id", "neighbor_id").collect()
      assert(streamed.nonEmpty, "no streamed PQ-serving rows emitted")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
        "streamed PQ ADC top-k diverges from the batch analog")
    } finally q.stop()
    // one more input: the same after a tombstone on a PQ index
    retiredVectorsParity(sf, "st12", graft.ops.VecIndex.ensurePqPersisted(spark, sf, "st12_retired"),
      graft.ops.VecIndex.pqProbe(spark, sf, _), graft.ops.VecIndex.pqRetireTombstone(spark, _, _),
      Streams.pqServeStream(spark, sf, _, _))
  }

  test("streaming drift monitor equals the batch KL decision per window (st14)") {
    // dq07's monitor driven through a real readStream: new-vector
    // files arrive in two micro-batches, the single pivoted
    // aggregation accumulates per-window cell occupancies, and the
    // emitted (window, n_new, kl_total, retrain) rows must equal the
    // batch analog bit for bit (complete output mode — the monitor's
    // decision for a window REVISES as the window fills, and the
    // final table is the converged decision set).
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("st14_stream_drift")(spark, sf).collect()
    val newVecs = graft.Tables.embeddings(spark, sf)
      .filter(pmod(col("vec_id"), lit(4)) === lit(0))
      .select(col("vec_id"), col("embedding"),
        expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, 0, 0, vec_id)").as("ts"))
    val srcDir = TempDirs.create("graft-st14").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    newVecs.filter(col("vec_id") % 8 === 0).coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    newVecs.filter(col("vec_id") % 8 =!= 0).coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = graft.ops.VecIndex.streamingCellDrift(spark, sf, stream)
      .writeStream.format("memory").queryName("st14_out").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st14_out").orderBy("window_start").collect()
      assert(streamed.nonEmpty, "no streamed drift rows emitted")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
        "streamed per-window KL decisions diverge from the batch analog")
    } finally q.stop()
  }

  test("PQ-serving-index maintenance survives a checkpoint restart (st13)") {
    // st10's exactly-once proof one level up, on the IVF-PQ CODE
    // cells (round 12): a fresh generation on 3/4 of the corpus takes
    // the remaining embeddings through a real readStream foreachBatch
    // driving VecIndex.pqMaintainBatch (encoding against the
    // generation's PERSISTED codebook); stop, delete batch 0's commit
    // marker, restart — the replayed batch must be a stamp-skipped
    // no-op (no duplicate code rows), and the maintained generation
    // must serve ADC decisions identical to sim18's full build.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val path = TempDirs.create("graft-st13spec").toString
    val prefix = s"graft_st13spec_${System.nanoTime()}"
    val emb = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val isNew = pmod(hash(col("vec_id")), lit(4)) === lit(0)
    graft.ops.VecIndex.pqPersist(spark, sf, path, prefix, Some(emb.filter(!isNew)))
    val srcDir = TempDirs.create("graft-st13src").toString
    val ckpt = TempDirs.create("graft-st13ckpt").toString
    emb.filter(isNew).coalesce(1).write.parquet(s"$srcDir/part_new")

    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    def startQuery() = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_new").schema)
      .parquet(s"$srcDir/part_*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ran = graft.ops.VecIndex.pqMaintainBatch(spark, sf, prefix,
          df.localCheckpoint(), batchId)
        runs.synchronized { runs += ((batchId, ran)) }
        ()
      }
      .start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    spark.catalog.refreshTable(graft.ops.VecIndex.pqCellsTable(prefix))
    val codeRows = spark.table(graft.ops.VecIndex.pqCellsTable(prefix)).count()
    assert(runs.toList == List((0L, true)),
      s"first run should maintain batch 0 once: $runs")

    val marker = Paths.get(ckpt, "commits", "0")
    assert(Files.deleteIfExists(marker), s"no commit marker at $marker")
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    try {
      assert(runs.toList == List((0L, true), (0L, false)),
        s"replayed batch 0 was not stamp-skipped: $runs")
      assert(spark.table(graft.ops.VecIndex.pqCellsTable(prefix)).count() == codeRows,
        "replay double-appended code rows")
      val served = graft.ops.VecIndex.pqProbe(spark, sf, prefix)
        .collect().map(_.toString).toSeq
      val full = graft.ops.Similarity.queries("sim18_ivfpq_probe")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(served == full,
        "post-maintenance ADC serving diverges from the full batch build")
    } finally graft.ops.VecIndex.drop(spark, prefix)
  }

  test("vector-index maintenance survives a checkpoint restart (st10)") {
    // st08's exactly-once proof applied to the ANN index: a fresh
    // cell index on 3/4 of the corpus takes the remaining embeddings
    // through a real readStream foreachBatch driving
    // VecIndex.maintainBatch; we stop the query, delete batch 0's
    // commit marker, restart, and require the replayed batch to be a
    // ledger-skipped no-op (no duplicate cell rows) — and the
    // maintained index to serve decisions identical to the full
    // batch build (sim04).
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val path = TempDirs.create("graft-st10spec").toString
    val prefix = s"graft_st10spec_${System.nanoTime()}"
    val emb = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val isNew = pmod(hash(col("vec_id")), lit(4)) === lit(0)
    graft.ops.VecIndex.persist(spark, sf, path, prefix, Some(emb.filter(!isNew)))
    val srcDir = TempDirs.create("graft-st10src").toString
    val ckpt = TempDirs.create("graft-st10ckpt").toString
    emb.filter(isNew).coalesce(1).write.parquet(s"$srcDir/part_new")

    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    def startQuery() = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_new").schema)
      .parquet(s"$srcDir/part_*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ran = graft.ops.VecIndex.maintainBatch(spark, sf, prefix,
          df.localCheckpoint(), batchId)
        runs.synchronized { runs += ((batchId, ran)) }
        ()
      }
      .start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // the append ran through the stream's isolated session clone, so
    // refresh before snapshotting — this session's cached relation
    // still holds the pre-append file listing
    spark.catalog.refreshTable(graft.ops.VecIndex.cellsTable(prefix))
    val cellRows = spark.table(graft.ops.VecIndex.cellsTable(prefix)).count()
    assert(runs.toList == List((0L, true)),
      s"first run should maintain batch 0 once: $runs")

    val marker = Paths.get(ckpt, "commits", "0")
    assert(Files.deleteIfExists(marker), s"no commit marker at $marker")
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    try {
      assert(runs.toList == List((0L, true), (0L, false)),
        s"replayed batch 0 was not ledger-skipped: $runs")
      assert(spark.table(graft.ops.VecIndex.cellsTable(prefix)).count() == cellRows,
        "replay double-appended cell rows")
      val served = graft.ops.VecIndex.probe(spark, sf, prefix)
        .collect().map(_.toString).toSeq
      val full = graft.ops.Similarity.queries("sim04_ivf_ann")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(served == full,
        "post-maintenance serving diverges from the full batch build")
    } finally graft.ops.VecIndex.drop(spark, prefix)
  }

  test("lexical-index maintenance survives a checkpoint restart (st20)") {
    // st10's exactly-once proof on the LEXICAL lane: a fresh postings
    // index on 3/4 of the corpus takes the remaining documents
    // through a real readStream foreachBatch driving
    // LexIndex.maintainBatch; we stop the query, delete batch 0's
    // commit marker, restart, and require the replayed batch to be a
    // stamp-skipped no-op (no duplicate postings or stats rows) — and
    // the maintained index, after the periodic compact, to serve
    // decisions identical to the full in-session build (tx15).
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val path = TempDirs.create("graft-st20spec").toString
    val prefix = s"graft_st20spec_${System.nanoTime()}"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val isNew = pmod(hash(col("doc_id")), lit(4)) === lit(0)
    graft.ops.LexIndex.persist(spark, sf, path, prefix,
      Some(docs.filter(!isNew)))
    val srcDir = TempDirs.create("graft-st20src").toString
    val ckpt = TempDirs.create("graft-st20ckpt").toString
    docs.filter(isNew).coalesce(1).write.parquet(s"$srcDir/part_new")

    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    def startQuery() = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_new").schema)
      .parquet(s"$srcDir/part_*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ran = graft.ops.LexIndex.maintainBatch(spark, sf, prefix,
          df.localCheckpoint(), batchId)
        runs.synchronized { runs += ((batchId, ran)) }
        ()
      }
      .start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // the append ran through the stream's isolated session clone —
    // refresh before snapshotting (the st10 lesson)
    spark.catalog.refreshTable(graft.ops.LexIndex.postingsTable(prefix))
    spark.catalog.refreshTable(graft.ops.LexIndex.statsTable(prefix))
    val postRows = spark.table(graft.ops.LexIndex.postingsTable(prefix)).count()
    val statsRows = spark.table(graft.ops.LexIndex.statsTable(prefix)).count()
    assert(runs.toList == List((0L, true)),
      s"first run should maintain batch 0 once: $runs")

    val marker = Paths.get(ckpt, "commits", "0")
    assert(Files.deleteIfExists(marker), s"no commit marker at $marker")
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    try {
      assert(runs.toList == List((0L, true), (0L, false)),
        s"replayed batch 0 was not stamp-skipped: $runs")
      assert(spark.table(graft.ops.LexIndex.postingsTable(prefix)).count() == postRows,
        "replay double-appended postings")
      assert(spark.table(graft.ops.LexIndex.statsTable(prefix)).count() == statsRows,
        "replay double-appended the stats row")
      // the periodic compact, then serving — identical to the full build
      graft.ops.LexIndex.compact(spark, prefix)
      val served = graft.ops.LexIndex.probe(spark, sf, prefix)
        .collect().map(_.toString).toSeq
      val full = graft.ops.TextAnalysis.queries("tx15_bm25_topk")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(served == full,
        "post-maintenance lexical serving diverges from the full build")
    } finally graft.ops.LexIndex.drop(spark, prefix)
  }

  test("checkpoint replay of the maintenance batch is a ledger-skipped no-op (st08)") {
    // The exactly-once property for the ingest-maintenance loop: a
    // restarted query REPLAYS any batch whose commit marker was lost,
    // with the same batchId, against an index the first run already
    // mutated. maintainBatch's ledger (stored with the index) must
    // turn that replay into a whole-batch no-op — no duplicate
    // decisions, no duplicate index rows — across a REAL JVM-level
    // restart boundary: we run the stream, stop it, delete the
    // commit marker for batch 0 from the checkpoint, restart, and
    // let Structured Streaming re-run batch 0 for real.
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val Off = graft.ops.BandIndex.DayOffset
    val path = TempDirs.create("graft-st08spec").toString
    val prefix = s"graft_st08spec_${System.nanoTime()}"
    graft.ops.BandIndex.persist(spark, sf, path, prefix)
    val srcDir = TempDirs.create("graft-st08src").toString
    val ckpt = TempDirs.create("graft-st08ckpt").toString
    val batchDocs = graft.Tables.documents(spark, sf)
      .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
      .select("doc_id")
    batchDocs.coalesce(1).write.parquet(s"$srcDir/part_day0")

    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    def startQuery() = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_day0").schema)
      .parquet(s"$srcDir/part_*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val ids = df.select(col("doc_id")).localCheckpoint()
        val dec = graft.ops.BandIndex.maintainBatch(spark, sf, prefix, ids, batchId)
        runs.synchronized { runs += ((batchId, dec.isDefined, dec.map(_.count()).getOrElse(0L))) }
        ()
      }
      .start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val sigRows = spark.table(graft.ops.BandIndex.sigsTable(prefix)).count()
    val bandRows = spark.table(graft.ops.BandIndex.bandsTable(prefix)).count()
    assert(runs.toList == List((0L, true, 25L)),
      s"first run should maintain batch 0 once: $runs")

    // lose batch 0's commit marker — the restart must now replay it
    // (the local checksum FS keeps a .crc sidecar; drop it with the
    // marker or the replay's own commit rename fails)
    val marker = Paths.get(ckpt, "commits", "0")
    assert(Files.deleteIfExists(marker), s"no commit marker at $marker")
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    try {
      assert(runs.toList == List((0L, true, 25L), (0L, false, 0L)),
        s"replayed batch 0 was not ledger-skipped: $runs")
      assert(spark.table(graft.ops.BandIndex.sigsTable(prefix)).count() == sigRows,
        "replay double-appended signature rows")
      assert(spark.table(graft.ops.BandIndex.bandsTable(prefix)).count() == bandRows,
        "replay double-appended band rows")
      // and the index still LEARNED: every day-0 novel's shifted copy
      // resolves to its appended twin after the restart
      val novels = graft.ops.BandIndex.probeIds(spark, sf, prefix, batchDocs)
        .filter(col("dup_of").isNull).select("batch_doc")
        .collect().map(_.getLong(0))
      // (probeIds post-append: previously-novel docs now match
      // themselves at est 1.0, so derive day-0 novels from the run log
      // instead — the index already contains them)
      val day1 = graft.ops.BandIndex.probeIds(spark, sf, prefix,
          batchDocs.select((col("doc_id") + Off).as("doc_id")))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val learned = day1.count { case (id, dup) => dup.contains(id - Off) }
      assert(learned > 0, "no day-1 copy resolved to its day-0 twin post-restart")
      assert(novels.isEmpty,
        s"appended novels should now self-match, got novel: ${novels.toList}")
    } finally graft.ops.BandIndex.drop(spark, prefix)
  }

  test("partial-commit replay: the self-fenced cycle equals the clean exactly-once cycle (st11)") {
    // The append→record crash window st08's ledger could not cover:
    // bands committed, sigs and ledger lost. selfFenceCycle drives
    // exactly that state and self-asserts the replay's three
    // obligations (replay-not-skip, bit-identical decisions, no
    // duplicate band rows); this test pins the END state — both
    // days' decisions equal the CLEAN cycle's row for row, i.e.
    // crash recovery is observationally invisible.
    val sf = "/root/testdata/sf0.001"
    val fenced = graft.ops.BandIndex.selfFenceCycle(spark, sf, "st11spec")
      .collect().map(_.toString).toSeq
    val clean = graft.ops.BandIndex.replayedCycle(spark, sf, "st08spec2")
      .collect().map(_.toString).toSeq
    assert(fenced == clean,
      "crash-recovered cycle diverges from the clean exactly-once cycle")
  }

  test("streaming session windows merge across micro-batches and equal the batch sessions (st03)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, sf).select(col("user_id"), col("ts"), col("value"))
    val srcDir = TempDirs.create("graft-st03").toString
    def stamp(sub: String): Unit = {
      val t = mtimeClock.addAndGet(2000)
      Files.walk(Paths.get(srcDir, sub)).iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p))
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t))
      }
    }
    // split by a user-independent hash so every user's pings straddle
    // the two micro-batches — the cross-batch session MERGE is the
    // machinery under test, not a trivial per-batch grouping
    ev.filter((col("user_id") + col("ts").cast("long")) % 2 === 0)
      .coalesce(1).write.parquet(s"$srcDir/part_a")
    stamp("part_a")
    ev.filter((col("user_id") + col("ts").cast("long")) % 2 =!= 0)
      .coalesce(1).write.parquet(s"$srcDir/part_b")
    stamp("part_b")
    // two far-future flush events (sentinel user −1): the first
    // advances the watermark past every real session's close, the
    // second's batch emits them
    val one = ev.limit(1)
    one.select(lit(-1L).cast("bigint").as("user_id"),
        expr("timestamp'2024-06-01 00:00:00'").as("ts"), col("value"))
      .coalesce(1).write.parquet(s"$srcDir/part_y")
    stamp("part_y")
    one.select(lit(-1L).cast("bigint").as("user_id"),
        expr("timestamp'2024-06-02 00:00:00'").as("ts"), col("value"))
      .coalesce(1).write.parquet(s"$srcDir/part_z")
    stamp("part_z")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/part_*")
    val q = Streams.sessionStream(stream)
      .writeStream.format("memory").queryName("st03_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("st03_out")
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start").collect()
      val batch = graft.SparkEntry.queries("st03_session_window")(spark, sf).collect()
      assert(streamed.nonEmpty, "no streamed sessions emitted")
      assert(streamed.length === batch.length,
        s"streamed ${streamed.length} sessions vs batch ${batch.length}")
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("reorder buffer repairs cross-batch event-time disorder") {
    val dir = TempDirs.create("graft-reorder").toString
    // arrival order 12:10, 12:00, 12:20 (forced via mtimes + one file
    // per trigger) — event-time order is 12:00, 12:10, 12:20; the
    // buffer must pair each ping with its EVENT-time predecessor,
    // like the batch lag window, not its arrival predecessor
    writeBronze(dir, "f1.json", rec("102", "1000", 52.21, 21.01, "2026-02-23 12:10:00"))
    writeBronze(dir, "f2.json", rec("102", "1000", 52.20, 21.00, "2026-02-23 12:00:00"))
    writeBronze(dir, "f3.json", rec("102", "1000", 52.22, 21.02, "2026-02-23 12:20:00"))
    // a different vehicle far ahead advances the watermark past
    // 12:20 + TTL → the tail flushes via timeout
    writeBronze(dir, "f4.json", rec("523", "7000", 52.23, 21.03, "2026-02-23 18:00:00"))

    val clean = Streams.cleanStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val q = Streams.enrichedStream(clean).writeStream
      .format("memory").queryName("reorder_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("reorder_out")
        .filter(org.apache.spark.sql.functions.col("VehicleNumber") === "1000")
        .select("Time", "prev_time").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString,
          Option(r.getAs[java.sql.Timestamp](1)).map(_.toString).orNull))
        .sortBy(_._1)
      assert(rows.toSeq === Seq(
        ("2026-02-23 12:00:00.0", null),
        ("2026-02-23 12:10:00.0", "2026-02-23 12:00:00.0"),
        ("2026-02-23 12:20:00.0", "2026-02-23 12:10:00.0")), rows.mkString("; "))
    } finally q.stop()
  }

  test("held tail flushes reorderSec after the watermark passes it, not at TTL") {
    val dir = TempDirs.create("graft-tail-live").toString
    // vehicle 8349 sends two pings then goes quiet; its 08:10 ping is
    // held in the reorder buffer. Another vehicle advances the
    // watermark to 08:50 — far SHORT of 08:10 + TTL (2 h) but past
    // 08:10 + reorderSec (60 s). The timeout must flush the held ping
    // then, not hold it for the remaining ~1.3 h of event time.
    writeBronze(dir, "f1.json",
      rec("189", "8349", 52.20, 21.00, "2026-02-23 08:00:00"),
      rec("189", "8349", 52.21, 21.01, "2026-02-23 08:10:00"))
    writeBronze(dir, "f2.json", rec("523", "7000", 52.23, 21.03, "2026-02-23 09:00:00"))

    val clean = Streams.cleanStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val q = Streams.enrichedStream(clean).writeStream // default TTL 7200 s
      .format("memory").queryName("tail_live_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tail_live_out")
        .filter(org.apache.spark.sql.functions.col("VehicleNumber") === "8349")
        .select("Time", "prev_time").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString,
          Option(r.getAs[java.sql.Timestamp](1)).map(_.toString).orNull))
        .sortBy(_._1)
      // watermark is 08:50 (09:00 − 10 min) — nowhere near 10:10
      // (= 08:10 + TTL), yet the held 08:10 ping is out, correctly
      // paired with its 08:00 predecessor
      assert(rows.toSeq === Seq(
        ("2026-02-23 08:00:00.0", null),
        ("2026-02-23 08:10:00.0", "2026-02-23 08:00:00.0")), rows.mkString("; "))
    } finally q.stop()
  }

  test("enrichment dedup keeps the batch-deterministic min payload across batches") {
    val dir = TempDirs.create("graft-dedup-min").toString
    // duplicate (vehicle, time) key with CONFLICTING payloads in
    // different micro-batches, larger payload arriving FIRST — the
    // first-arrival dedup would keep 52.30, the batch row_number
    // dedup keeps min (Lines, Lat, Lon) = 52.20; exact equivalence
    // needs the latter
    writeBronze(dir, "f1.json", rec("102", "1000", 52.30, 21.10, "2026-02-23 12:00:00"))
    writeBronze(dir, "f2.json", rec("102", "1000", 52.20, 21.00, "2026-02-23 12:00:00"))
    writeBronze(dir, "f3.json", rec("102", "1000", 52.21, 21.01, "2026-02-23 12:05:00"))
    writeBronze(dir, "f4.json", rec("523", "7000", 52.23, 21.03, "2026-02-23 18:00:00"))

    val clean = Streams.cleanStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
    val q = Streams.enrichedStream(clean).writeStream
      .format("memory").queryName("dedupmin_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("dedupmin_out")
        .filter(org.apache.spark.sql.functions.col("VehicleNumber") === "1000")
        .select("Time", "Lat").collect()
        .map(r => (r.getAs[java.sql.Timestamp](0).toString, r.getAs[Double](1)))
        .sortBy(_._1)
      assert(rows.toSeq === Seq(
        ("2026-02-23 12:00:00.0", 52.20),
        ("2026-02-23 12:05:00.0", 52.21)), rows.mkString("; "))
    } finally q.stop()
  }

  test("streaming gold partials over the real day=23 fold to the batch report") {
    val day23 = "/root/reference/WAW/year=2026/month=02/day=23"
    assume(new java.io.File(day23).isDirectory)
    import org.apache.spark.sql.functions._
    // copy the capture preserving mtimes: the file source's arrival
    // jitter among same-mtime files (the disorder the reorder buffer
    // must absorb) is reproduced, and the dir stays writable for the
    // end-of-capture sentinel below
    val src = TempDirs.create("graft-e2e-src")
    new java.io.File(day23).listFiles().sortBy(_.getName).foreach { f =>
      Files.copy(f.toPath, src.resolve(f.getName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val out = TempDirs.create("graft-e2e-gold").toString
    val ckpt = TempDirs.create("graft-e2e-ckpt").toString
    val day = java.time.LocalDate.of(2026, 2, 23)

    // UN-deduped clean stream: enrichedStream dedups exactly (min
    // (Lines, Lat, Lon) payload — the batch row_number winner), so
    // the comparison below is BIT-exact, not tolerance-based. The
    // 25 h watermark covers stale-clock pings (up to ~5.2 h behind
    // the fleet max); the day filter mirrors the batch transform's
    // `date == processingDate` gate (SilverTransform:69).
    val clean = Streams.cleanStream(
      Streams.bronzeStream(spark, src.toString, maxFilesPerTrigger = 8), watermark = "25 hours")
      .filter(to_date(col("Time")) === lit(java.sql.Date.valueOf(day)))
    // TTL 25 h to match the watermark: whole-day batch parity means no
    // intra-day episode expiry (stale-clock vehicles can jump hours
    // between consecutive pings; batch lag pairs across any gap)
    val q = Streams.goldRefresh(clean, s"$out/gold", s"$ckpt/cp", stateTtlSec = 25L * 3600L)
    try {
      q.processAllAvailable()
      // end-of-capture flush: a sentinel ping far in the future
      // advances the watermark past every vehicle's last ping + TTL
      // (sentinel - 25 h watermark > last ping + 25 h TTL), firing
      // the timeouts that emit the buffered tails. It postdates
      // day=23, so the day filter keeps it out of the results (the
      // watermark node sits upstream of the filter).
      writeBronze(src.toString, "zz_sentinel.json",
        rec("999", "SENTINEL", 52.2, 21.0, "2026-02-26 00:00:00"))
      q.processAllAvailable()
    } finally q.stop()

    val partials = spark.read.parquet(s"$out/gold")
    assert(partials.select("batch_id").distinct().count() > 1,
      "equivalence must span multiple micro-batch partials")

    // fold per the goldRefresh contract: sums/counts add, maxes max,
    // derive avg_speed and cost_of_1km AFTER folding
    val folded = partials.groupBy("Lines").agg(
      sum("total_distance_km").as("total_distance_km"),
      sum("total_cost_pln").as("total_cost_pln"),
      max("max_segment_km").as("max_segment_km"),
      sum("data_points_count").as("data_points_count"),
      sum("sum_speed_kmh").as("sum_speed_kmh"),
      max("max_recorded_speed").as("max_recorded_speed"))
      .withColumn("avg_speed", col("sum_speed_kmh") / col("data_points_count"))
      .withColumn("cost_of_1km", expr("total_cost_pln / nullif(total_distance_km, 0.0)"))

    val raw = graft.gtfs.SilverTransform.readBronze(spark, day23)
    val batchSilver = graft.gtfs.SilverTransform.transform(raw, day)
    val batchReport = graft.gtfs.GoldReport.createDailyReport(batchSilver)

    val joined = folded.as("s")
      .join(batchReport.as("b"), col("s.Lines") === col("b.Lines"), "full_outer")
      .select(col("s.Lines").as("s_line"), col("b.Lines").as("b_line"),
        col("s.total_distance_km").as("s_dist"), col("b.total_distance_km").as("b_dist"),
        col("s.total_cost_pln").as("s_cost"), col("b.total_cost_pln").as("b_cost"),
        col("s.avg_speed").as("s_avg"), col("b.avg_speed").as("b_avg"),
        col("s.max_segment_km").as("s_maxseg"), col("b.max_segment_km").as("b_maxseg"),
        col("s.max_recorded_speed").as("s_maxspd"), col("b.max_recorded_speed").as("b_maxspd"),
        col("s.data_points_count").as("s_n"), col("b.data_points_count").as("b_n"))
      .collect()

    assert(joined.length === 238, s"expected 238 line groups, got ${joined.length}")
    assert(joined.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "every line must appear on both the streaming and batch side")
    // per-row pairs are bit-identical; only summation ORDER differs
    // (per-batch partial sums folded vs one shot), so sums agree to
    // fp-associativity noise and counts/maxes agree exactly
    def rel(a: Double, b: Double) = if (b == 0.0) math.abs(a) else math.abs(a - b) / math.abs(b)
    joined.foreach { r =>
      assert(r.getAs[Long]("s_n") === r.getAs[Long]("b_n"), r.toString)
      assert(r.getAs[Double]("s_maxseg") === r.getAs[Double]("b_maxseg"), r.toString)
      assert(r.getAs[Double]("s_maxspd") === r.getAs[Double]("b_maxspd"), r.toString)
      assert(rel(r.getAs[Double]("s_dist"), r.getAs[Double]("b_dist")) < 1e-9, r.toString)
      assert(rel(r.getAs[Double]("s_cost"), r.getAs[Double]("b_cost")) < 1e-9, r.toString)
      assert(rel(r.getAs[Double]("s_avg"), r.getAs[Double]("b_avg")) < 1e-9, r.toString)
    }
  }

  test("stateful enrichment runs on the RocksDB state store (the 100 TB state backend)") {
    // HDFSBackedStateStore holds every key's state on the executor
    // heap — fine for tests, a hard wall at 100 TB key cardinality.
    // RocksDBStateStoreProvider spills to local disk; this pins that
    // the engine's flatMapGroupsWithState operators run (and produce
    // the same rows) under it.
    val dir = TempDirs.create("graft-rocksdb").toString
    writeBronze(dir, "f1.json",
      rec("189", "8349", 52.20, 21.00, "2026-02-23 08:00:00"),
      rec("189", "8349", 52.21, 21.01, "2026-02-23 08:10:00"))
    writeBronze(dir, "f2.json", rec("523", "7000", 52.23, 21.03, "2026-02-23 09:00:00"))

    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val clean = Streams.cleanStream(Streams.bronzeStream(spark, dir, maxFilesPerTrigger = 1))
      val q = Streams.enrichedStream(clean).writeStream
        .format("memory").queryName("rocksdb_out").outputMode("append")
        .start()
      try {
        q.processAllAvailable()
        val rows = spark.table("rocksdb_out")
          .filter(org.apache.spark.sql.functions.col("VehicleNumber") === "8349")
          .select("Time", "prev_time").collect()
          .map(r => (r.getAs[java.sql.Timestamp](0).toString,
            Option(r.getAs[java.sql.Timestamp](1)).map(_.toString).orNull))
          .sortBy(_._1)
        assert(rows.toSeq === Seq(
          ("2026-02-23 08:00:00.0", null),
          ("2026-02-23 08:10:00.0", "2026-02-23 08:00:00.0")), rows.mkString("; "))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming windowed per-line stats emit after watermark") {
    val dir = TempDirs.create("graft-stream2").toString
    writeBronze(dir, "b1.json",
      rec("189", "8349", 52.2, 21.0, "2026-02-23 12:00:00"),
      rec("189", "8350", 52.21, 21.01, "2026-02-23 12:05:00"),
      rec("523", "7000", 52.22, 21.02, "2026-02-23 12:10:00"))
    // late-arriving file advances the watermark past the first window
    writeBronze(dir, "b2.json",
      rec("189", "8349", 52.2, 21.0, "2026-02-23 13:00:00"))

    val silver = Streams.silverStream(Streams.bronzeStream(spark, dir), "5 minutes")
    val stats = Streams.lineWindowStats(silver, "15 minutes")
    val q = stats.writeStream
      .format("memory").queryName("stats_out").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("stats_out").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getAs[String]("Lines"), r.getAs[Long]("pings"), r.getAs[Long]("vehicles")))
        .sortBy(r => (r._1, r._2))
      // the 12:00 windows are closed by the 13:00 watermark advance
      assert(rows.contains(("2026-02-23 12:00:00.0", "189", 2L, 2L)), rows.mkString("; "))
      assert(rows.contains(("2026-02-23 12:00:00.0", "523", 1L, 1L)), rows.mkString("; "))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark drops an in-horizon redelivery, keeps first arrival") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = TempDirs.create("graft-stream-dedup").toString
    // FileStreamSource orders same-mtime files arbitrarily — stamp
    // each batch's part files with the monotonic mtimeClock so the
    // originals are always the first micro-batch
    def stamp(sub: String): Unit =
      Files.walk(Paths.get(dir, sub)).filter(Files.isRegularFile(_)).forEach { p =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(mtimeClock.addAndGet(2000)))
      }
    // batch 0: two events (the 10:10 event drives the watermark)
    Seq((1L, 7L, "view", ts("2024-01-01 10:00:00")),
        (2L, 8L, "click", ts("2024-01-01 10:10:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.parquet(s"$dir/part_a")
    stamp("part_a")
    // batch 1: event 1 redelivered 30 s later — inside the 1 h horizon
    Seq((1L, 7L, "view", ts("2024-01-01 10:00:30")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.parquet(s"$dir/part_b")
    stamp("part_b")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/part_a").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/part_*")
    val q = Streams.dedupWithinWatermark(stream)
      .writeStream.format("memory").queryName("stream_dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("stream_dedup")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).toString).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L), s"one row per key: $rows")
    assert(rows.toMap.apply(1L) === "2024-01-01 10:00:00.0",
      "the first arrival's payload survives, the redelivery is dropped")
  }

  test("AvailableNow file-sink run of the real day=23 reproduces the daily report") {
    // The "streaming writes enriched, batch reads daily" lambda path,
    // end to end on the real capture: run 1 drains the 49 bronze
    // files under Trigger.AvailableNow into a parquet sink, run 2
    // RESTARTS from the same checkpoint to process only a later
    // sentinel file (firing the event-time timeouts that flush the
    // buffered tails), and the daily report built FROM THE SINK FILES
    // must equal the batch report — including the exact
    // countDistinct(vehicles) the partials test cannot fold.
    val day23 = "/root/reference/WAW/year=2026/month=02/day=23"
    assume(new java.io.File(day23).isDirectory)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val src = TempDirs.create("graft-an-src")
    new java.io.File(day23).listFiles().sortBy(_.getName).foreach { f =>
      Files.copy(f.toPath, src.resolve(f.getName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val out = TempDirs.create("graft-an-out").toString
    val ckpt = TempDirs.create("graft-an-ckpt").toString
    val day = java.time.LocalDate.of(2026, 2, 23)

    // same watermark/TTL rationale as the partials test: 25 h covers
    // stale-clock pings and forbids intra-day episode expiry
    def start() = {
      val clean = Streams.cleanStream(
        Streams.bronzeStream(spark, src.toString, maxFilesPerTrigger = 8),
        watermark = "25 hours")
        .filter(to_date(col("Time")) === lit(java.sql.Date.valueOf(day)))
      Streams.enrichedStream(clean, stateTtlSec = 25L * 3600L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    assert(start().awaitTermination(240000), "run 1 timed out")
    writeBronze(src.toString, "zz_sentinel.json",
      rec("999", "SENTINEL", 52.2, 21.0, "2026-02-26 00:00:00"))
    assert(start().awaitTermination(240000), "run 2 (restart) timed out")

    val streamReport = graft.gtfs.GoldReport.reportFromEnriched(
      spark.read.parquet(out))
    val raw = graft.gtfs.SilverTransform.readBronze(spark, day23)
    val batchReport = graft.gtfs.GoldReport.createDailyReport(
      graft.gtfs.SilverTransform.transform(raw, day))

    val joined = streamReport.as("s")
      .join(batchReport.as("b"), col("s.Lines") === col("b.Lines"), "full_outer")
      .select(col("s.Lines").as("s_line"), col("b.Lines").as("b_line"),
        col("s.total_cost_pln").as("s_cost"), col("b.total_cost_pln").as("b_cost"),
        col("s.total_distance_km").as("s_dist"), col("b.total_distance_km").as("b_dist"),
        col("s.data_points_count").as("s_n"), col("b.data_points_count").as("b_n"),
        col("s.unique_vehicles_count").as("s_uv"), col("b.unique_vehicles_count").as("b_uv"),
        col("s.max_recorded_speed").as("s_max"), col("b.max_recorded_speed").as("b_max"))
      .collect()
    assert(joined.length === 238, s"expected 238 line groups, got ${joined.length}")
    def rel(a: Double, b: Double) = if (b == 0.0) math.abs(a) else math.abs(a - b) / math.abs(b)
    joined.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), r.toString)
      assert(r.getAs[Long]("s_n") === r.getAs[Long]("b_n"), r.toString)
      assert(r.getAs[Long]("s_uv") === r.getAs[Long]("b_uv"), r.toString)
      assert(r.getAs[Double]("s_max") === r.getAs[Double]("b_max"), r.toString)
      assert(rel(r.getAs[Double]("s_cost"), r.getAs[Double]("b_cost")) < 1e-9, r.toString)
      assert(rel(r.getAs[Double]("s_dist"), r.getAs[Double]("b_dist")) < 1e-9, r.toString)
    }
    // the GoldenE2E headline, read off the STREAMED report
    val top = streamReport.orderBy(col("total_cost_pln").desc).limit(1).head()
    assert(top.getAs[String]("Lines") === "189")
    assert(rel(top.getAs[Double]("total_cost_pln"), 135.32) < 0.001)
    assert(top.getAs[Long]("unique_vehicles_count") === 30L)
  }

  test("kill/restart mid-stream: checkpoint recovery converges to the exact daily report, no duplicates") {
    // The remaining production property after the live-cadence test
    // (round-9 VERDICT item 5): the reference's hand poll loop
    // (/root/reference/main.py:39-46) dies mid-day and loses its
    // place; Structured Streaming's contract is that a query killed
    // MID-TRANCHE restarts from `checkpointLocation`, replays only
    // uncommitted work, and the file sink's transaction log keeps the
    // output exactly-once. Proof shape: land half the captures, stop
    // the ProcessingTime query while the next tranche is landing
    // (offsets for it may or may not be committed — both paths must
    // recover), start a NEW query on the same checkpoint, land the
    // rest + the watermark sentinel, and assert (a) the restarted
    // query resumes batch numbering instead of starting over, (b) the
    // sink holds EXACTLY the batch pipeline's enriched row count (==,
    // not >= — a duplicate replay would overshoot; spark.read honors
    // the sink's _spark_metadata commit log), and (c) the folded
    // report equals the batch report bit-for-bit on counts and within
    // 1e-9 relative on the summed doubles.
    val day23 = "/root/reference/WAW/year=2026/month=02/day=23"
    assume(new java.io.File(day23).isDirectory)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val src = TempDirs.create("graft-rec-src")
    val out = TempDirs.create("graft-rec-out").toString
    val ckpt = TempDirs.create("graft-rec-ckpt").toString
    val day = java.time.LocalDate.of(2026, 2, 23)
    val captures = new java.io.File(day23).listFiles().sortBy(_.getName)
    val (first, rest) = captures.splitAt(captures.length / 2)

    def land(f: java.io.File): Unit = {
      val tmp = Files.copy(f.toPath, src.resolve("." + f.getName))
      Files.setLastModifiedTime(tmp,
        java.nio.file.attribute.FileTime.fromMillis(mtimeClock.addAndGet(2000)))
      Files.move(tmp, src.resolve(f.getName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def startQuery() = {
      val clean = Streams.cleanStream(
        Streams.bronzeStream(spark, src.toString, maxFilesPerTrigger = 6),
        watermark = "25 hours")
        .filter(to_date(col("Time")) === lit(java.sql.Date.valueOf(day)))
      Streams.enrichedStream(clean, stateTtlSec = 25L * 3600L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.ProcessingTime("500 milliseconds"))
        .start()
    }

    // phase 1: first half lands, query runs, then is killed while
    // tranche 2's files are still arriving
    first.foreach(land)
    val q1 = startQuery()
    val expectedFirst = spark.read.option("multiline", "true")
      .schema(graft.gtfs.Schemas.bronzeSchema)
      .json(first.map(_.getPath).toSeq: _*).count()
    try {
      val seen = scala.collection.mutable.Map.empty[Long, Long]
      def ingested(): Long = {
        q1.recentProgress.foreach(p => seen(p.batchId) = p.numInputRows)
        seen.values.sum
      }
      val t0 = System.nanoTime()
      while (ingested() < expectedFirst && (System.nanoTime() - t0) / 1e9 < 120)
        Thread.sleep(250)
      assert(ingested() >= expectedFirst, "first half never drained")
      // mid-tranche kill: land a few more files and stop immediately,
      // without waiting for them to be processed
      rest.take(4).foreach(land)
    } finally q1.stop()
    val lastBatchQ1 = new java.io.File(s"$ckpt/offsets").listFiles()
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).max

    // phase 2: restart from the checkpoint, land everything else
    val q2 = startQuery()
    try {
      rest.drop(4).foreach(land)
      writeBronze(src.toString, "zz_sentinel_rec.json",
        rec("999", "SENTINEL", 52.2, 21.0, "2026-02-26 00:00:00"))
      val wantRows = graft.gtfs.GoldReport.enrichWithMetrics(
        graft.gtfs.SilverTransform.transform(
          graft.gtfs.SilverTransform.readBronze(spark, day23), day)).count()
      def sinkRows(): Long =
        try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      val t1 = System.nanoTime()
      while (sinkRows() < wantRows && (System.nanoTime() - t1) / 1e9 < 180)
        Thread.sleep(500)
      // (a) resumed, not restarted-from-zero
      val q2First = {
        val ps = q2.recentProgress
        assert(ps.nonEmpty, "restarted query reported no progress")
        ps.map(_.batchId).min
      }
      assert(q2First >= lastBatchQ1,
        s"restart began at batch $q2First, before q1's last offset $lastBatchQ1 — not a recovery")
      // (b) exactly-once: == not >=
      assert(sinkRows() == wantRows,
        s"sink rows ${sinkRows()} != batch enriched rows $wantRows (duplicate or lost rows)")
    } finally q2.stop()

    // (c) the folded report equals the batch report
    val streamReport = graft.gtfs.GoldReport.reportFromEnriched(
      spark.read.parquet(out))
    val batchReport = graft.gtfs.GoldReport.createDailyReport(
      graft.gtfs.SilverTransform.transform(
        graft.gtfs.SilverTransform.readBronze(spark, day23), day))
    def rel(a: Double, b: Double) = if (b == 0.0) math.abs(a) else math.abs(a - b) / math.abs(b)
    val joined = streamReport.as("s")
      .join(batchReport.as("b"), col("s.Lines") === col("b.Lines"), "full_outer")
      .select(col("s.Lines").as("s_line"), col("b.Lines").as("b_line"),
        col("s.total_cost_pln").as("s_cost"), col("b.total_cost_pln").as("b_cost"),
        col("s.data_points_count").as("s_n"), col("b.data_points_count").as("b_n"),
        col("s.unique_vehicles_count").as("s_uv"), col("b.unique_vehicles_count").as("b_uv"))
      .collect()
    assert(joined.length === 238, s"expected 238 line groups, got ${joined.length}")
    joined.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), r.toString)
      assert(r.getAs[Long]("s_n") === r.getAs[Long]("b_n"), r.toString)
      assert(r.getAs[Long]("s_uv") === r.getAs[Long]("b_uv"), r.toString)
      assert(rel(r.getAs[Double]("s_cost"), r.getAs[Double]("b_cost")) < 1e-9, r.toString)
    }
  }

  test("live ProcessingTime cadence over day=23 converges to the daily report") {
    // The reference's ACTUAL deployment shape is a 15 s live poll
    // (main.py's cadence), not one catch-up batch — this test
    // simulates live arrival: ONE continuously-running
    // ProcessingTime query while the 49 bronze captures land in the
    // source dir across several tranches, so state genuinely
    // accumulates across micro-batches (the AvailableNow flagship
    // above restarts between drains instead). Convergence target:
    // the per-line daily aggregates from the sink equal the batch
    // report's.
    val day23 = "/root/reference/WAW/year=2026/month=02/day=23"
    assume(new java.io.File(day23).isDirectory)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val src = TempDirs.create("graft-pt-src")
    val out = TempDirs.create("graft-pt-out").toString
    val ckpt = TempDirs.create("graft-pt-ckpt").toString
    val day = java.time.LocalDate.of(2026, 2, 23)
    val captures = new java.io.File(day23).listFiles().sortBy(_.getName)
    // 4 arrival tranches (capped files/trigger, so each tranche spans
    // >1 micro-batch too) + the watermark-advancing sentinel
    val tranches = captures.grouped((captures.length + 3) / 4).toSeq
    // numInputRows counts SOURCE rows (top-level JSON records,
    // pre-explode) — mirror that exactly with the same reader
    def expectedRows(fs: Seq[java.io.File]): Long =
      spark.read.option("multiline", "true")
        .schema(graft.gtfs.Schemas.bronzeSchema)
        .json(fs.map(_.getPath): _*)
        .count()

    val clean = Streams.cleanStream(
      Streams.bronzeStream(spark, src.toString, maxFilesPerTrigger = 6),
      watermark = "25 hours")
      .filter(to_date(col("Time")) === lit(java.sql.Date.valueOf(day)))
    val q = Streams.enrichedStream(clean, stateTtlSec = 25L * 3600L)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      var expected = 0L
      // accumulate (batchId → rows) across polls: recentProgress is a
      // bounded ring buffer, so a one-shot sum could miss early batches
      val seen = scala.collection.mutable.Map.empty[Long, Long]
      def poll(): Long = {
        q.recentProgress.foreach(p => seen(p.batchId) = p.numInputRows)
        seen.values.sum
      }
      def awaitIngested(deadlineMs: Long = 120000): Unit = {
        val t0 = System.nanoTime()
        while (poll() < expected &&
            (System.nanoTime() - t0) / 1000000 < deadlineMs)
          Thread.sleep(250)
        assert(poll() >= expected, s"tranche not drained: ${poll()} < $expected")
      }
      tranches.foreach { tr =>
        tr.foreach { f =>
          // ATOMIC arrival: the query is LIVE while we copy, and
          // FileStreamSource can list+read a half-copied JSON (rows
          // parse to null and the file is marked processed forever) —
          // stage under a dot-name (hidden files are ignored) and
          // rename into place. Monotonic mtimes: live arrival is in
          // capture order, and same-mtime files order arbitrarily —
          // an unstamped copy lands whole tranches at one millisecond
          // and manufactures minutes-scale disorder the 60 s reorder
          // buffer is DESIGNED to reject as late.
          val tmp = Files.copy(f.toPath, src.resolve("." + f.getName))
          Files.setLastModifiedTime(tmp,
            java.nio.file.attribute.FileTime.fromMillis(mtimeClock.addAndGet(2000)))
          Files.move(tmp, src.resolve(f.getName),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        expected += expectedRows(tr.toSeq)
        awaitIngested() // the next tranche "arrives" only after this one is live
      }
      // live cadence really split the input: strictly more non-empty
      // micro-batches than tranches means the query consumed
      // incrementally, not in one catch-up drain
      poll()
      val nonEmpty = seen.count(_._2 > 0)
      assert(nonEmpty > tranches.size,
        s"expected >${tranches.size} non-empty micro-batches, got $nonEmpty")
      // sentinel fires the event-time timeouts that flush the
      // buffered episodes (the 25 h watermark means most of the day
      // is held in state until now — the flush batch carries the
      // bulk of the output)
      writeBronze(src.toString, "zz_sentinel.json",
        rec("999", "SENTINEL", 52.2, 21.0, "2026-02-26 00:00:00"))
      expected += 1
      awaitIngested()
      // wait for the flush batch to COMMIT: the sink is complete when
      // it holds the batch pipeline's ENRICHED row count — enriched,
      // not silver: metricsFromPrevs applies the reference's
      // speed ≤ 70 outlier filter (P13), so both paths drop the same
      // GPS-glitch rows
      val wantRows = graft.gtfs.GoldReport.enrichWithMetrics(
        graft.gtfs.SilverTransform.transform(
          graft.gtfs.SilverTransform.readBronze(spark, day23), day)).count()
      val t0 = System.nanoTime()
      def sinkRows(): Long =
        try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      while (sinkRows() < wantRows && (System.nanoTime() - t0) / 1e9 < 180)
        Thread.sleep(500)
      assert(sinkRows() >= wantRows,
        s"flush batch never committed: ${sinkRows()} < $wantRows")
    } finally q.stop()

    val streamReport = graft.gtfs.GoldReport.reportFromEnriched(
      spark.read.parquet(out))
    val raw = graft.gtfs.SilverTransform.readBronze(spark, day23)
    val batchReport = graft.gtfs.GoldReport.createDailyReport(
      graft.gtfs.SilverTransform.transform(raw, day))
    def rel(a: Double, b: Double) = if (b == 0.0) math.abs(a) else math.abs(a - b) / math.abs(b)
    val joined = streamReport.as("s")
      .join(batchReport.as("b"), col("s.Lines") === col("b.Lines"), "full_outer")
      .select(col("s.Lines").as("s_line"), col("b.Lines").as("b_line"),
        col("s.total_cost_pln").as("s_cost"), col("b.total_cost_pln").as("b_cost"),
        col("s.data_points_count").as("s_n"), col("b.data_points_count").as("b_n"),
        col("s.unique_vehicles_count").as("s_uv"), col("b.unique_vehicles_count").as("b_uv"))
      .collect()
    assert(joined.length === 238, s"expected 238 line groups, got ${joined.length}")
    joined.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), r.toString)
      assert(r.getAs[Long]("s_n") === r.getAs[Long]("b_n"), r.toString)
      assert(r.getAs[Long]("s_uv") === r.getAs[Long]("b_uv"), r.toString)
      assert(rel(r.getAs[Double]("s_cost"), r.getAs[Double]("b_cost")) < 1e-9, r.toString)
    }
  }

  test("end-to-end composition: three pipeline legs share one session/checkpoint root and survive a coordinated restart") {
    // Round 12 (VERDICT r11 item 8): the pieces st05–st13 proved in
    // isolation, composed as ONE multi-query pipeline the way a
    // production deployment runs them — a single SparkSession on the
    // RocksDB state backend, every query checkpointed under one
    // shared root, with the persisted index tables as the durable
    // state the legs SHARE (the admission leg grows the band index
    // that fences duplicates; the vector leg grows the PQ code cells
    // the serving probe reads):
    //
    //   leg A (GTFS silver): bronze JSON stream → clean + watermarked
    //     dedup → parquet sink (stateful dropDuplicatesWithinWatermark
    //     on RocksDB);
    //   leg B (doc admission): document-id stream → foreachBatch
    //     BandIndex.maintainBatch — probe the shared persisted band
    //     index, admit novel docs, exactly-once via the ledger;
    //   leg C (vector ingest): embedding stream → foreachBatch
    //     VecIndex.pqMaintainBatch — encode against the persisted
    //     generation codebook, stamp-guarded append.
    //
    // Mid-run, ALL THREE queries are stopped together (the
    // coordinated restart), legs B and C lose their batch-0 commit
    // markers (the replay window), day-1 files land for A and B, and
    // the pipeline restarts from the shared checkpoint root. The
    // proof obligations: A's sink holds each ping exactly once
    // (restart ≠ duplicates), B's two-day decisions are row-identical
    // to the batch sequenced cycle (replay was ledger-skipped), and
    // C's serving probe equals sim18's full batch build (replay was
    // stamp-skipped).
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val root = TempDirs.create("graft-e2e-compose").toString
    Seq("bronzeSrc", "docSrc", "vecSrc", "silverOut").foreach(d =>
      Files.createDirectories(Paths.get(root, d)))

    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // --- shared durable state: band index + PQ generation -------
      val bandPath = TempDirs.create("graft-e2e-band").toString
      val bandPrefix = s"graft_e2e_band_${System.nanoTime()}"
      graft.ops.BandIndex.persist(spark, sf, bandPath, bandPrefix)
      val pqPath = TempDirs.create("graft-e2e-pq").toString
      val pqPrefix = s"graft_e2e_pq_${System.nanoTime()}"
      val emb = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
      val isNew = pmod(hash(col("vec_id")), lit(4)) === lit(0)
      graft.ops.VecIndex.pqPersist(spark, sf, pqPath, pqPrefix,
        Some(emb.filter(!isNew)))

      // --- fixtures ------------------------------------------------
      // leg A day 0: three pings, one an exact in-watermark redelivery
      writeBronze(s"$root/bronzeSrc", "day0.json",
        rec("10", "V1", 52.20, 21.00, "2024-01-01 10:00:00"),
        rec("10", "V1", 52.20, 21.00, "2024-01-01 10:00:00"),
        rec("20", "V2", 52.25, 21.05, "2024-01-01 10:00:30"))
      // leg B day 0: the incremental batch docs
      val day0Ids = graft.Tables.documents(spark, sf)
        .filter(col("source") === graft.ops.Dedup.IncBatchSrc)
        .select("doc_id")
      day0Ids.coalesce(1).write.parquet(s"$root/docSrc/day0")
      // leg C: the new-vector quarter
      emb.filter(isNew).coalesce(1).write.parquet(s"$root/vecSrc/day0")

      // --- the three queries --------------------------------------
      val bDecisions =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[org.apache.spark.sql.Row])]
      val bRuns = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      val cRuns = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      def startAll(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = Seq(
        Streams.silverStream(
            Streams.bronzeStream(spark, s"$root/bronzeSrc"), watermark = "10 minutes")
          .writeStream.format("parquet")
          .option("path", s"$root/silverOut")
          .option("checkpointLocation", s"$root/ckpt-silver")
          .start(),
        spark.readStream
          .schema(spark.read.parquet(s"$root/docSrc/day0").schema)
          .parquet(s"$root/docSrc/day*")
          .writeStream
          .option("checkpointLocation", s"$root/ckpt-docs")
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            val dec = graft.ops.BandIndex.maintainBatch(spark, sf, bandPrefix,
              df.localCheckpoint(), batchId)
            bRuns.synchronized {
              bRuns += ((batchId, dec.nonEmpty))
              dec.foreach(d => bDecisions += ((batchId, d.collect().toSeq)))
            }
            ()
          }.start(),
        spark.readStream
          .schema(spark.read.parquet(s"$root/vecSrc/day0").schema)
          .parquet(s"$root/vecSrc/day*")
          .writeStream
          .option("checkpointLocation", s"$root/ckpt-vecs")
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            val ran = graft.ops.VecIndex.pqMaintainBatch(spark, sf, pqPrefix,
              df.localCheckpoint(), batchId)
            cRuns.synchronized { cRuns += ((batchId, ran)) }
            ()
          }.start())

      val qs1 = startAll()
      try qs1.foreach(_.processAllAvailable()) finally qs1.foreach(_.stop())

      // --- the coordinated restart with a replay window -----------
      Seq("ckpt-docs", "ckpt-vecs").foreach { c =>
        assert(Files.deleteIfExists(Paths.get(root, c, "commits", "0")),
          s"no commit marker under $c")
        Files.deleteIfExists(Paths.get(root, c, "commits", ".0.crc"))
      }
      // day-1 arrivals: a redelivered V1 ping (must stay deduped),
      // one new ping, and the DayOffset-shifted doc re-ingest
      writeBronze(s"$root/bronzeSrc", "day1.json",
        rec("10", "V1", 52.20, 21.00, "2024-01-01 10:00:00"),
        rec("30", "V3", 52.30, 21.10, "2024-01-01 10:01:00"))
      day0Ids.select((col("doc_id") + lit(graft.ops.BandIndex.DayOffset)).as("doc_id"))
        .coalesce(1).write.parquet(s"$root/docSrc/day1")

      val qs2 = startAll()
      try qs2.foreach(_.processAllAvailable()) finally qs2.foreach(_.stop())

      // --- leg A: exactly-once through the restart ----------------
      val silver = spark.read.parquet(s"$root/silverOut")
        .select("VehicleNumber").collect().map(_.getString(0)).sorted
      assert(silver.toSeq == Seq("V1", "V2", "V3"),
        s"silver sink rows after restart: ${silver.mkString(",")}")

      // --- leg B: replay ledger-skipped; two days equal st07 ------
      assert(bRuns.toList == List((0L, true), (0L, false), (1L, true)),
        s"doc-admission runs: $bRuns")
      val streamedDecs = bDecisions.sortBy(_._1).flatMap { case (day, rows) =>
        rows.map(r => (day, r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
      }.toSeq
      val batchCycle = graft.ops.BandIndex.sequencedCycle(spark, sf, "e2ecmp")
        .collect().map(r => (r.getInt(0).toLong, r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSeq
      assert(streamedDecs.sorted == batchCycle.sorted,
        "composed-pipeline admission decisions diverge from the batch sequenced cycle")

      // --- leg C: replay stamp-skipped; serving equals sim18 ------
      assert(cRuns.toList == List((0L, true), (0L, false)),
        s"vector-ingest runs: $cRuns")
      val served = graft.ops.VecIndex.pqProbe(spark, sf, pqPrefix)
        .collect().map(_.toString).toSeq
      val full = graft.ops.Similarity.queries("sim18_ivfpq_probe")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(served == full,
        "composed-pipeline PQ serving diverges from the full batch build")

      graft.ops.BandIndex.drop(spark, bandPrefix)
      graft.ops.VecIndex.drop(spark, pqPrefix)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
