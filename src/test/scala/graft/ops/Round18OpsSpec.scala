package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariants for the round-18 segment-stats manifest (VERDICT r17
  * item 1): footer-derived metadata answers (stamp absence proofs,
  * tier listings, ledger stamp sets) must be EXACT against the live
  * tables while being served from the `_segstats` cache, and the
  * cache must be pure optimization — deleting or corrupting it can
  * never change an answer, only cost footer re-reads. Exact result
  * parity of the catalog entries stays the DuckDB oracle's job. The
  * fault cases of the shared lifecycle ([[IndexCore]]) — an unreadable
  * footer, a rewrite over an earlier JVM's leftover directories, a
  * crashed manifest writer's temp file — must leave the index
  * exactly-once and serving.
  */
class Round18OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def denseQuarter = pmod(col("doc_id"), lit(4)) === lit(0)

  /** Fresh lexical index on 3/4 of the corpus plus stamped appends. */
  private def freshLex(tag: String, appendSlices: Seq[Int]): String = {
    val prefix = s"graft_r18_${tag}_${System.nanoTime()}"
    val path = IndexCore.newTempDir(s"r18$tag")
    val docs = graft.Tables.documents(spark, sf)
    LexIndex.persist(spark, sf, path, prefix, Some(docs.filter(!denseQuarter)))
    appendSlices.foreach { r =>
      LexIndex.append(spark, sf,
        docs.filter(pmod(col("doc_id"), lit(12)) === lit(r)), prefix,
        batch = r.toLong)
    }
    prefix
  }

  private def exactStamps(table: String): Set[Long] = {
    spark.catalog.refreshTable(table)
    spark.table(table).select("ingest_batch").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  private def manifestPath(table: String,
      col: String = "ingest_batch"): java.nio.file.Path = {
    val loc = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location
    java.nio.file.Paths.get(loc).resolve(s"_segstats_$col.json")
  }

  test("segstats manifest: footer stamp sets are exact, cached, and self-healing") {
    val prefix = freshLex("m1", Seq(0, 4))
    val t = LexIndex.postingsTable(prefix)
    val want = exactStamps(t)
    assert(want == Set(-1L, 0L, 4L), s"fixture stamps: $want")

    // footer-derived set is exact and the side file landed
    assert(IndexCore.stampSetFromFooters(spark, t, "ingest_batch").contains(want))
    val mp = manifestPath(t)
    assert(java.nio.file.Files.exists(mp),
      "manifest side file was not written next to the table's data")

    // DELETE the manifest: answers unchanged (rebuilt from footers)
    java.nio.file.Files.delete(mp)
    val docs = graft.Tables.documents(spark, sf)
    LexIndex.append(spark, sf,
      docs.filter(pmod(col("doc_id"), lit(12)) === lit(8)), prefix, batch = 8L)
    assert(IndexCore.stampSetFromFooters(spark, t, "ingest_batch")
      .contains(exactStamps(t)))
    assert(java.nio.file.Files.exists(mp), "manifest was not re-created")

    // CORRUPT the manifest: a torn/garbage side file must only cost
    // footer re-reads, never change an answer
    java.nio.file.Files.write(mp, "{\"files\":[{\"p\":\"gar".getBytes("UTF-8"))
    LexIndex.append(spark, sf,
      docs.filter(pmod(col("doc_id"), lit(24)) === lit(20)), prefix, batch = 20L)
    assert(IndexCore.stampSetFromFooters(spark, t, "ingest_batch")
      .contains(exactStamps(t)))

    // STALE manifest sizes: an entry is trusted only when its
    // recorded size matches the live file's — rewrite every entry's
    // size to 0 so all entries invalidate, footers re-read, answer
    // stays exact. (The append also changes the listing, busting the
    // session memo so the doctored manifest is actually re-read.)
    val lied = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replaceAll("\"s\":(\\d+)", "\"s\":0")
    java.nio.file.Files.write(mp, lied.getBytes("UTF-8"))
    LexIndex.append(spark, sf,
      docs.filter(pmod(col("doc_id"), lit(24)) === lit(16)), prefix, batch = 16L)
    assert(IndexCore.stampSetFromFooters(spark, t, "ingest_batch")
      .contains(exactStamps(t)))
    LexIndex.drop(spark, prefix)
  }

  test("footerProvenAbsent through the manifest: fresh id proven absent, landed id not") {
    val prefix = freshLex("m2", Seq(0))
    val t = LexIndex.docstatsTable(prefix)
    assert(IndexCore.footerProvenAbsent(spark, t, "ingest_batch", 99L),
      "fresh batch id 99 must be footer-proven absent")
    assert(!IndexCore.footerProvenAbsent(spark, t, "ingest_batch", 0L),
      "landed batch id 0 must NOT be proven absent")
    assert(!IndexCore.footerProvenAbsent(spark, t, "ingest_batch", -1L),
      "base stamp must NOT be proven absent")
    LexIndex.drop(spark, prefix)
  }

  test("requireLedgered's footer path still fences a stamped-but-unledgered batch") {
    val prefix = freshLex("m3", Seq.empty)
    val docs = graft.Tables.documents(spark, sf)
    // the log holds one maintained batch …
    assert(LexIndex.maintainBatch(spark, sf, prefix,
      docs.filter(pmod(col("doc_id"), lit(12)) === lit(0)), 0L))
    // … then a raw table write stamps batch 7 with NO commit: the
    // mid-commit state every maintenance rewrite must refuse
    LexIndex.writeDocstats(LexIndex.tokenized(
      docs.filter(pmod(col("doc_id"), lit(12)) === lit(4))), path = "",
      prefix, 7L, firstWrite = false)
    // precondition for the footer path: the log's batches and the
    // footer stamp set are both known
    assert(IndexCore.state(spark, LexIndex.postingsTable(prefix)).batches == Set(0L))
    assert(IndexCore.stampSetFromFooters(spark,
      LexIndex.docstatsTable(prefix), "ingest_batch").contains(Set(-1L, 0L, 7L)))
    val e = intercept[IllegalArgumentException] {
      LexIndex.tieredMerge(spark, prefix)
    }
    assert(e.getMessage.contains("mid-commit") && e.getMessage.contains("7"),
      s"wrong fence message: ${e.getMessage}")
    LexIndex.drop(spark, prefix)
  }

  test("bounded window rank equals the two-phase skew-safe rank, values and types") {
    import org.apache.spark.sql.functions.{concat, pmod, row_number, count}
    import org.apache.spark.sql.expressions.Window
    val p = spark.range(4000).select(
      concat(lit("t"), pmod(col("id"), lit(37))).as("term"),
      col("id").as("doc_id"),
      (pmod(col("id") * 13, lit(5)) + 1).as("tf"),
      (pmod(col("id") * 7, lit(20)) + 1).as("dl"))
      .repartition(5, col("doc_id"))
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("term", "doc_id", "tf", "dl", "imp_rank", "df").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getLong(5)))
      .sortBy(t => (t._1, t._5))
    assert(shape(LexIndex.withImpactMetaWindow(p)).toSeq ==
      shape(LexIndex.withImpactMeta(p)).toSeq,
      "window rank diverged from the two-phase form")
  }

  test("maintenance cycles execute no unpartitioned window (internal plans)") {
    // PlanLintSpec's exact-set gate reviews every CATALOG plan's
    // unpartitioned windows, but the maintenance verbs execute
    // internal actions (rank pipelines, fold rewrites, probe
    // re-caps) whose plans the catalog lint never sees — the gap
    // VERDICT r17 item 7 flags behind the reviewed-window log mute.
    // Record every EXECUTED plan during one cycle per family and
    // require zero unpartitioned WindowExec: a single-partition
    // window over anything corpus-proportional is a §2 scale-killer,
    // and the maintenance paths have no bounded-frame excuse — their
    // windows are all term-/query-partitioned by design.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def offenders(p: SparkPlan): Seq[String] = {
      val expanded = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case x => x
      }
      (expanded match {
        case w: org.apache.spark.sql.execution.window.WindowExecBase
            if w.partitionSpec.isEmpty => Seq(w.windowExpression.mkString(",").take(120))
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => Seq(w.toString.take(120))
        case _ => Nil
      }) ++ (expanded.children ++ expanded.subqueries).flatMap(offenders)
    }
    val (_, rec) = graft.Metrics.record(spark) {
      LexIndex.autoMaintainCycle(spark, sf, "r18winlex").count()
      BandIndex.tieredCycle(spark, sf, "r18winband").count()
    }
    val found = rec.plans.flatMap(p => offenders(p._2.executedPlan)).distinct
    assert(rec.plans.nonEmpty,
      "the record holds no executed plan — the gate would pass vacuously")
    assert(found.isEmpty,
      s"maintenance cycles executed unpartitioned windows: $found")
  }

  test("manifest trims to the live listing after compaction and GC") {
    val prefix = freshLex("m4", Seq(0, 4, 8))
    val t = LexIndex.postingsTable(prefix)
    assert(LexIndex.tieredMerge(spark, prefix), "expected a fold to run")
    // post-fold: folded inputs' files were GC'd; the manifest-backed
    // listing must agree with the filesystem and the stamp set must
    // be exactly base + merge output
    val segs = IndexCore.fileSegments(spark, t)
    val live = IndexCore.tableFiles(spark, t).toSet
    assert(segs.map(_._1).toSet == live,
      "fileSegments diverged from the live file listing after GC")
    val stamps = IndexCore.stampSetFromFooters(spark, t, "ingest_batch")
    assert(stamps.exists(s => s.contains(-1L) && s.exists(_ <= -2L) &&
        !s.exists(_ >= 0L)),
      s"post-fold stamps: $stamps (want base -1 + one reserved output)")
    LexIndex.drop(spark, prefix)
  }

  /** Lexical index on 3/4 of the corpus plus the dense quarter
    * appended as batch `batch`, at `path`. */
  private def lexAt(path: String, prefix: String, batch: Long): Unit = {
    val docs = graft.Tables.documents(spark, sf)
    LexIndex.persist(spark, sf, path, prefix, Some(docs.filter(!denseQuarter)))
    LexIndex.append(spark, sf, docs.filter(denseQuarter), prefix, batch = batch)
  }

  private def location(table: String): java.nio.file.Path =
    java.nio.file.Paths.get(spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .location)

  test("a failed footer read is 'maybe present', never 'proven absent'") {
    val prefix = s"graft_ic_footer_${System.nanoTime()}"
    val path = IndexCore.newTempDir("icfooter")
    try {
      lexAt(path, prefix, 5L)
      val t = LexIndex.docstatsTable(prefix)
      val opener = IndexCore.openFooter
      IndexCore.openFooter = (_, _) => throw new java.io.IOException("injected unreadable footer")
      try {
        assert(!IndexCore.footerProvenAbsent(spark, t, "ingest_batch", 5L),
          "an unreadable footer proved landed batch 5 absent")
        assert(IndexCore.stampSetFromFooters(spark, t, "ingest_batch").isEmpty,
          "a stamp set was derived from unreadable footers")
        assert(IndexCore.batchPresent(spark, t, 5L),
          "landed batch 5 reported absent — a replay would double-append it")
      } finally IndexCore.openFooter = opener
      // failed reads were neither memoized nor persisted: once the
      // footers read again, the footer answer is exact
      assert(IndexCore.stampSetFromFooters(spark, t, "ingest_batch").contains(Set(-1L, 5L)))
    } finally {
      LexIndex.drop(spark, prefix)
      IndexCore.retireTempDir(path)
    }
  }

  test("rewrite locations skip an earlier JVM's leftover directories") {
    // Serials restart in every JVM, so a rewrite location named by the
    // serial alone can be a directory an earlier JVM left live at the
    // same index path. Simulate that JVM: compact an index, drop its
    // registrations (its rewrite directories stay on disk), rebuild at
    // the same path and rewind the serial to replay the same names.
    val path = IndexCore.newTempDir("icswap")
    val p1 = s"graft_ic_swap1_${System.nanoTime()}"
    val p2 = s"graft_ic_swap2_${System.nanoTime()}"
    lexAt(path, p1, 1L)
    val s0 = IndexCore.serial.get()
    LexIndex.compact(spark, p1)
    val s1 = IndexCore.serial.get()
    val leftovers = Seq(LexIndex.postingsTable(p1), LexIndex.docstatsTable(p1),
      LexIndex.statsTable(p1)).map(location)
    LexIndex.drop(spark, p1)
    try {
      lexAt(path, p2, 1L)
      IndexCore.serial.set(s0)
      LexIndex.compact(spark, p2)
      val live = Seq(LexIndex.postingsTable(p2), LexIndex.docstatsTable(p2),
        LexIndex.statsTable(p2)).map(location)
      assert(live.forall(l => !leftovers.contains(l)),
        s"a rewrite reused a leftover directory: $live vs $leftovers")
      assert(leftovers.forall(l => java.nio.file.Files.list(l).count() > 0),
        "the earlier JVM's directories were clobbered")
      assert(LexIndex.probe(spark, sf, p2).count() > 0, "compacted index does not serve")
    } finally {
      IndexCore.serial.updateAndGet(n => math.max(n, s1))
      LexIndex.drop(spark, p2)
      IndexCore.retireTempDir(path)
    }
  }

  test("a manifest write sweeps temp files a crashed writer left behind") {
    val prefix = s"graft_ic_tmp_${System.nanoTime()}"
    val path = IndexCore.newTempDir("ictmp")
    try {
      lexAt(path, prefix, 1L)
      val t = LexIndex.postingsTable(prefix)
      val orphan = location(t).resolve("_segstats_ingest_batch.json.tmp987654")
      java.nio.file.Files.write(orphan, "{\"files\":[".getBytes("UTF-8"))
      assert(IndexCore.stampSetFromFooters(spark, t, "ingest_batch").contains(Set(-1L, 1L)))
      assert(java.nio.file.Files.exists(location(t).resolve("_segstats_ingest_batch.json")),
        "the manifest was not written")
      assert(!java.nio.file.Files.exists(orphan), "the orphan temp file survived a manifest write")
    } finally {
      LexIndex.drop(spark, prefix)
      IndexCore.retireTempDir(path)
    }
  }
}
