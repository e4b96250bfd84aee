package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{SparkEntry, SparkSpec}

/** Invariants for the round-17 additions (VERDICT r16 items 2–8 +
  * the ADVICE fixes): the pinned impact ranking (correct without
  * exchange reuse), parameterized bucket counts, the size-tiered
  * merge policy, tombstone-tolerant capped serving, and the
  * needs-reindex fence after a metadata-stale purge. Exact result
  * parity stays the DuckDB oracle's job — these pin plan/mechanism
  * properties and states the oracle's single fixture can't reach.
  */
class Round17OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // ---- withImpactMeta: correctness without exchange reuse ------------

  test("withImpactMeta is exact with exchange reuse disabled (pinned ids, not plan-level reuse)") {
    // round-17 ADVICE (medium): the two-phase rank evaluates `ranked`
    // on both sides of its self-join; before the localCheckpoint pin,
    // correctness silently depended on Spark deduping the range
    // exchange — with reuse off, each side sampled its OWN boundaries
    // and (pid, min_mid, off) could mismatch. The pin must make the
    // result exact regardless of the reuse knob.
    val was = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val p = spark.range(5000).select(
        concat(lit("t"), pmod(col("id"), lit(50))).as("term"),
        col("id").as("doc_id"),
        (pmod(col("id") * 13, lit(5)) + 1).as("tf"),
        (pmod(col("id") * 7, lit(20)) + 1).as("dl"))
        // a shuffle upstream so re-evaluation order is genuinely
        // nondeterministic without the pin
        .repartition(7, col("doc_id"))
      val got = LexIndex.withImpactMeta(p)
        .select("term", "doc_id", "tf", "dl", "imp_rank", "df")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getInt(4), r.getLong(5)))
        .sortBy(t => (t._1, t._5))
      val w = Window.partitionBy("term")
        .orderBy(col("tf").desc, col("dl").asc, col("doc_id").asc)
      val want = p
        .withColumn("imp_rank", row_number().over(w))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .select("term", "doc_id", "tf", "dl", "imp_rank", "df")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getInt(4), r.getLong(5)))
        .sortBy(t => (t._1, t._5))
      assert(got.length == 5000)
      assert(got.toSeq == want.toSeq,
        "two-phase ranking diverged from the window form with exchange reuse off")
    } finally spark.conf.set("spark.sql.exchange.reuse", was)
  }

  // ---- size-tiered merge: bounded work + crash safety -----------------

  private def denseQuarter = pmod(col("doc_id"), lit(4)) === lit(0)

  private def freshLex(tag: String, appendSlices: Seq[Int]): (String, String) = {
    val prefix = s"graft_r17_${tag}_${System.nanoTime()}"
    val path = IndexCore.newTempDir(s"r17$tag")
    val docs = graft.Tables.documents(spark, sf)
    LexIndex.persist(spark, sf, path, prefix, Some(docs.filter(!denseQuarter)))
    appendSlices.foreach { r =>
      LexIndex.append(spark, sf,
        docs.filter(pmod(col("doc_id"), lit(12)) === lit(r)), prefix,
        batch = r.toLong)
    }
    (prefix, path)
  }

  private def served(prefix: String): Seq[(Int, Int, Long, Double, Long)] =
    LexIndex.segmentProbe(spark, sf, prefix).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4))).toSeq

  test("tieredMerge folds only the sub-tier: base files byte-untouched, inputs GC'd, serving unchanged") {
    val (prefix, path) = freshLex("tier", Seq(0, 4, 8))
    try {
      val t = LexIndex.postingsTable(prefix)
      val baseFiles = IndexCore.fileSegments(spark, t)
        .filter(f => f._2 == -1L && f._3 == -1L)
        .map(f => (f._1, new java.io.File(f._1).length(),
          new java.io.File(f._1).lastModified()))
      assert(baseFiles.nonEmpty)
      val before = served(prefix)
      assert(LexIndex.tieredMerge(spark, prefix), "no fold ran")
      // BOUNDED WORK: the big tier's files were never opened for
      // write — same paths, same bytes, same mtimes
      baseFiles.foreach { case (f, len, mtime) =>
        val file = new java.io.File(f)
        assert(file.exists() && file.length() == len && file.lastModified() == mtime,
          s"base-tier file touched by the fold: $f")
      }
      // the fold inputs' files are physically gone (GC after commit)
      val stamps = IndexCore.fileSegments(spark, t).map(_._2).toSet
      assert(stamps == Set(-1L, -2L),
        s"expected base + merged segment files only, got stamps $stamps")
      // serving is bit-identical across the fold
      assert(served(prefix) == before, "the fold changed an answer")
    } finally {
      LexIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }

  test("tieredMerge crash window: an uncommitted merge output is invisible; one log append flips atomically") {
    val (prefix, path) = freshLex("crash", Seq(0, 4))
    try {
      val t = LexIndex.postingsTable(prefix)
      val before = served(prefix)
      // replicate the fold's WRITE steps, crash before the commit:
      // merged rows under the reserved stamp, stats row included
      val b = IndexCore.bucketsOf(spark, t)
      val merged = LexIndex.withImpactMeta(
        spark.table(t).filter(col("ingest_batch").isin(0L, 4L))
          .select("term", "doc_id", "tf", "dl"))
        .withColumn("ingest_batch", lit(-2L))
      merged.repartition(b, col("term")).write
        .mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(b, "term").sortBy("term", "imp_rank").saveAsTable(t)
      val stT = LexIndex.statsTable(prefix)
      spark.table(stT).filter(col("ingest_batch").isin(0L, 4L))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
        .select(lit(-2L).as("ingest_batch"), col("n_docs"), col("sum_dl"))
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
        .saveAsTable(stT)
      // CRASHED state: output rows on disk, no log — serving must be
      // the pre-fold answer (inputs live, output invisible)
      assert(served(prefix) == before,
        "an uncommitted merge output leaked into serving")
      // the single log append flips the fold on
      IndexCore.commitFold(spark, Seq(t), prefix, Seq(0L, 4L), -2L)
      assert(served(prefix) == before,
        "the committed fold changed an answer (content identity broken)")
      val log = IndexCore.state(spark, t).log(prefix)
      assert(log.folded == Set(0L, 4L) && log.outputs == Set(-2L))
      // GC removes exactly the dead inputs
      assert(IndexCore.gcDeadFiles(spark, t, log) > 0)
      val stamps = IndexCore.fileSegments(spark, t).map(_._2).toSet
      assert(stamps == Set(-1L, -2L), s"dead input files survived GC: $stamps")
      assert(served(prefix) == before)
    } finally {
      LexIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }

  test("band tieredMerge crash window: uncommitted fold output invisible, one log append flips, GC exact") {
    // the second family through IndexCore's merge log (round 17): the
    // band probes read through corpusFrames' visibility filter, so
    // the same crash-window invariants must hold — an uncommitted
    // fold output (reserved stamp, no log row) never serves, and
    // after the commit the folded inputs are dead even BEFORE GC
    // (the double-serve window between commit and file deletion).
    val prefix = s"graft_r17_band_${System.nanoTime()}"
    val path = IndexCore.newTempDir("r17band")
    BandIndex.persist(spark, sf, path, prefix)
    try {
      val bt = BandIndex.bandsTable(prefix)
      val st = BandIndex.sigsTable(prefix)
      val novel = BandIndex.probe(spark, sf, prefix)
        .filter(col("dup_of").isNull)
        .select(col("batch_doc").as("doc_id"))
        .localCheckpoint()
      Seq(0, 1).foreach { i =>
        BandIndex.append(spark, sf,
          novel.filter(pmod(hash(col("doc_id")), lit(2)) === lit(i)),
          prefix, batchId = i.toLong)
      }
      def dec(): Seq[String] = BandIndex.probe(spark, sf, prefix)
        .collect().map(_.toString).toSeq.sorted
      val before = dec()
      // replicate the fold's writes, crash BEFORE the commit
      def foldInto(t: String, key: String): Unit = {
        val b = IndexCore.bucketsOf(spark, t)
        spark.table(t).filter(col("ingest_batch").isin(0L, 1L))
          .withColumn("ingest_batch", lit(-2L))
          .repartition(b, col(key))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .bucketBy(b, key).sortBy(key).saveAsTable(t)
      }
      foldInto(bt, "bkey")
      foldInto(st, "corpus_doc")
      assert(dec() == before,
        "an uncommitted band fold output leaked into serving")
      // one log append flips the fold on; inputs dead pre-GC
      IndexCore.commitFold(spark, Seq(bt, st), prefix, Seq(0L, 1L), -2L)
      assert(dec() == before,
        "the committed band fold changed an answer before GC (double-serve)")
      val log = IndexCore.state(spark, bt).log(prefix)
      assert(log.folded == Set(0L, 1L) && log.outputs == Set(-2L))
      assert(IndexCore.gcDeadFiles(spark, bt, log) > 0)
      assert(IndexCore.gcDeadFiles(spark, st, log) > 0)
      val stamps = IndexCore.fileSegments(spark, st).map(_._2).toSet
      assert(stamps == Set(-1L, -2L), s"dead input files survived GC: $stamps")
      assert(dec() == before)
    } finally {
      BandIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }

  test("vector tieredMerge crash window: uncommitted output invisible, fold changes no answer pre-GC, folded replay fenced") {
    // the THIRD family through the merge log. The family-specific
    // invariant: its maintenance is stamp-is-the-ledger, so after a
    // fold + GC the stamp probe alone would replay a folded batch —
    // the log's batch fence must catch it.
    val e = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val newVec = pmod(hash(col("vec_id")), lit(4)) === lit(0)
    val prefix = s"graft_r17_vec_${System.nanoTime()}"
    val path = IndexCore.newTempDir("r17vec")
    VecIndex.persist(spark, sf, path, prefix, Some(e.filter(!newVec)))
    try {
      val t = VecIndex.cellsTable(prefix)
      Seq(0, 1).foreach { i =>
        assert(VecIndex.maintainBatch(spark, sf, prefix,
          e.filter(newVec && pmod(hash(col("vec_id")), lit(8)) === lit(i * 4)),
          batchId = i.toLong))
      }
      def dec(): Seq[String] = VecIndex.probe(spark, sf, prefix)
        .collect().map(_.toString).toSeq.sorted
      val before = dec()
      // replicate the fold's write, crash BEFORE the commit
      val b = IndexCore.bucketsOf(spark, t)
      spark.table(t).filter(col("ingest_batch").isin(0L, 1L))
        .withColumn("ingest_batch", lit(-2L))
        .repartition(b, col("cluster"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(b, "cluster").sortBy("cluster").saveAsTable(t)
      assert(dec() == before,
        "an uncommitted vector fold output leaked into serving")
      IndexCore.commitFold(spark, Seq(t), t, Seq(0L, 1L), -2L)
      assert(dec() == before,
        "the committed vector fold changed an answer before GC (double-serve)")
      val log = IndexCore.state(spark, t).log(t)
      assert(IndexCore.gcDeadFiles(spark, t, log) > 0)
      assert(dec() == before)
      // replay of a folded batch: stamp files are gone, the log row
      // must fence it
      assert(!VecIndex.maintainBatch(spark, sf, prefix,
        e.filter(newVec && pmod(hash(col("vec_id")), lit(8)) === lit(0)),
        batchId = 0L),
        "a folded batch replayed as new through the stamp-only fence")
      assert(dec() == before)
    } finally {
      VecIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }

  // ---- bucket count as a build parameter ------------------------------

  test("a 64-bucket build probes identically, and every maintenance verb follows the catalog's bucket spec") {
    val docs = graft.Tables.documents(spark, sf)
    val prefix = s"graft_r17_b64_${System.nanoTime()}"
    val path = IndexCore.newTempDir("r17b64")
    val prefix8 = s"graft_r17_b8_${System.nanoTime()}"
    val path8 = IndexCore.newTempDir("r17b8")
    try {
      LexIndex.persist(spark, sf, path, prefix, buckets = 64)
      LexIndex.persist(spark, sf, path8, prefix8)
      assert(IndexCore.bucketsOf(spark, LexIndex.postingsTable(prefix)) == 64)
      def rows(p: String) = LexIndex.probe(spark, sf, p).collect().toSeq
      def capped(p: String) = LexIndex.impactProbe(spark, sf, p).collect().toSeq
      assert(rows(prefix) == rows(prefix8),
        "bucket count changed the exact probe's answer")
      assert(capped(prefix) == capped(prefix8),
        "bucket count changed the capped probe's answer")
      // append follows the 64-bucket spec (a mismatched bucketBy throws)
      LexIndex.append(spark, sf, docs.filter(denseQuarter), prefix, batch = 1L)
      // compact rewrites at the TABLE's own width: at most one file
      // per bucket (empty buckets write none — the sf0.001 vocabulary
      // does not fill all 64), strictly wider than the old fixed 8
      LexIndex.compact(spark, prefix)
      assert(IndexCore.bucketsOf(spark, LexIndex.postingsTable(prefix)) == 64)
      val files = IndexCore.tableFiles(spark, LexIndex.postingsTable(prefix))
      val bucketIds = files.map(f =>
        "part-(\\d+)".r.findFirstMatchIn(new java.io.File(f).getName)
          .map(_.group(1).toInt).getOrElse(-1))
      assert(bucketIds.distinct.size == files.size,
        s"compaction wrote more than one file for a bucket: $files")
      assert(files.size > 8 && files.size <= 64,
        s"compaction at 64 buckets wrote ${files.size} files — " +
          "parallelism did not widen past the old fixed 8")
    } finally {
      LexIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
      LexIndex.drop(spark, prefix8); IndexCore.retireTempDir(path8)
    }
  }

  // ---- tombstone-tolerant capped serving ------------------------------

  test("masked capped serving: pushed widened cap, victim gone, equals the post-rewrite answer") {
    val docs = graft.Tables.documents(spark, sf)
    val (prefix, path) = freshLex("mask", Seq(0, 4, 8))
    try {
      val victim = LexIndex.segmentProbe(spark, sf, prefix)
        .filter(col("query_id") === 0 && col("rk") === 1).select("doc_id")
      val victimId = victim.collect().head.getLong(0)
      LexIndex.retire(spark, prefix, victim, Some(docs))
      val masked = LexIndex.segmentProbe(spark, sf, prefix)
      // plan property: the scan still pushes the (widened) cap literal
      // (collectAll descends through the AQE wrapper and subqueries)
      def collectAll(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val expanded = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case q => q
        }
        expanded +: (expanded.children.flatMap(collectAll) ++
          expanded.subqueries.flatMap(collectAll))
      }
      val scans = collectAll(masked.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      val postingsScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("r17mask")))
      assert(postingsScans.nonEmpty, "no postings scan in the masked plan")
      assert(postingsScans.exists(_.metadata.getOrElse("PushedFilters", "")
          .contains(s"LessThanOrEqual(imp_rank,${LexIndex.ImpactCap + 1})")),
        s"widened cap not pushed: ${postingsScans.map(_.metadata.getOrElse("PushedFilters", ""))}")
      val got = masked.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq
      assert(!got.exists(_._3 == victimId), "the retiree is still served")
      // dd19-style equality: the masked serve must equal what the
      // fused rewrite then serves
      LexIndex.mergeReindex(spark, prefix)
      val rebuilt = LexIndex.impactProbe(spark, sf, prefix).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3),
          r.getLong(4))).toSeq
      assert(got == rebuilt,
        "masked capped serving diverged from the post-rewrite answer")
    } finally {
      LexIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }
}
