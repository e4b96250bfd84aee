package graft.ops

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{SparkSpec, TempDirs}

/** The 100 TB ingest-path proof for incremental dedup: the corpus
  * band index and signature table persisted as bucketed parquet, and
  * the per-batch probe plan shown to contain NO shuffle exchange above
  * either corpus scan — the batch shuffles itself into the corpus
  * layout, never the reverse. Decisions stay row-identical to dd13's
  * derived-frame output.
  */
class BandIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Scans under `p` that read the persisted index (identified by the
    * external path — bucketed-or-not is proven by the exchange check,
    * not assumed from metadata). */
  private def indexScans(p: SparkPlan, path: String): Seq[FileSourceScanExec] =
    p.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(path)) => s
    }

  test("persisted probe plans with no exchange above the corpus scans") {
    val path = TempDirs.create("graft-bandidx").toString
    // Force the SMJ path: broadcasting the (tiny, test-sized) batch
    // side would make the no-exchange property trivially true without
    // exercising the bucketed layout.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BandIndex.persist(spark, sf, path)

      val probe = BandIndex.probe(spark, sf)
      // AQE off for a traversable plan tree (collect() does not
      // descend into AdaptiveSparkPlan/query stages). Set AFTER frame
      // construction: Tables.pin re-enables AQE on every table load,
      // but the physical plan reads the conf at executedPlan time.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = probe.queryExecution.executedPlan
      assert(!plan.toString.contains("AdaptiveSparkPlan"), plan.toString.take(200))

      // both persisted tables are actually read, as BUCKETED scans
      // (a layout the planner declines is stamped "Bucketed: false")
      val corpusScans = indexScans(plan, path)
      assert(corpusScans.size == 2, s"expected 2 index scans:\n$plan")
      corpusScans.foreach { s =>
        assert(s.bucketedScan, s"planner declined the bucket layout:\n$s")
      }

      // THE property: the corpus is never re-shuffled — on the path
      // from each corpus scan up to the join that consumes it there
      // is no exchange (the batch side, by contrast, must shuffle
      // itself into the corpus bucket layout somewhere)
      def pathsToIndexScans(p: SparkPlan,
          above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
        case s: FileSourceScanExec if indexScans(s, path).nonEmpty => Seq(above)
        case _ => p.children.flatMap(c => pathsToIndexScans(c, p :: above))
      }
      val paths = pathsToIndexScans(plan, Nil)
      assert(paths.size == 2, plan.toString)
      paths.foreach { above =>
        // `above` runs nearest-parent→root; the prefix before the
        // first join node is the scan-to-join segment
        val belowJoin = above.takeWhile(n =>
          !n.nodeName.toLowerCase.contains("join"))
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"corpus-side exchange below its join:\n$plan")
      }
      assert(plan.collect { case e: ShuffleExchangeExec => e }.nonEmpty)

      // and the decisions match the derived-frame dd13 exactly
      val viaIndex = probe.collect().map(_.toString)
      val derived = Dedup.queries("dd13_incremental_dedup")(spark, sf)
        .collect().map(_.toString)
      assert(viaIndex.toSeq == derived.toSeq)
    } finally {
      BandIndex.drop(spark)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("append maintenance: bucket layout survives, novel docs resolve, dups keep matches") {
    val prefix = BandIndex.ensurePersisted(spark, sf, "specappend")
    val before = BandIndex.probe(spark, sf, prefix).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val novelIds = before.filter(_._2.isEmpty).map(_._1).toSet
    assert(novelIds.nonEmpty, "fixture must have novel batch docs")
    BandIndex.appendNovelOnce(spark, sf, prefix)

    // the probe plan property SURVIVES the append: bucketBy hashes the
    // new files into the same bucket ids, so the corpus side still
    // reads pre-partitioned (multiple files per bucket is fine — that
    // costs a per-bucket sort, never an exchange)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = BandIndex.probe(spark, sf, prefix)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = probe.queryExecution.executedPlan
      val scans = indexScans(plan, "graft-bandidx-specappend")
      assert(scans.size == 2 && scans.forall(_.bucketedScan),
        s"append broke the bucketed layout:\n$plan")
      // same property as the first test: no exchange on the segment
      // from each index scan up to the join that consumes it
      def pathsToIndexScans(p: SparkPlan,
          above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
        case s: FileSourceScanExec
            if indexScans(s, "graft-bandidx-specappend").nonEmpty => Seq(above)
        case _ => p.children.flatMap(c => pathsToIndexScans(c, p :: above))
      }
      pathsToIndexScans(plan, Nil).foreach { above =>
        val belowJoin = above.takeWhile(n =>
          !n.nodeName.toLowerCase.contains("join"))
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"corpus-side exchange appeared after append:\n$plan")
      }

      val after = probe.collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
      assert(after.map(_._1) == before.map(_._1), "one decision row per batch doc")
      after.foreach { case (id, dup, est) =>
        if (novelIds(id)) {
          // formerly novel: resolves to itself or an appended twin
          assert(dup.nonEmpty && est.contains(1.0) && novelIds(dup.get) &&
            dup.get <= id, s"novel doc $id: got ($dup, $est)")
        } else {
          // formerly dup: keeps its match or finds a better appended one
          val old = before.find(_._1 == id).get
          assert(est.get >= old._3.get, s"dup doc $id lost match quality")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("compaction: one file per bucket, decisions and no-exchange property survive") {
    // Build a fresh index and drive it through the file-growth regime:
    // the novel batch appended in 4 disjoint day-slices plus one full
    // re-append (duplicates are absorbed by the probe's distinct +
    // argmax — content correctness is not the point, file count is).
    val prefix = BandIndex.ensurePersisted(spark, sf, "speccompact")
    val before = BandIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq
    BandIndex.appendNovel(spark, sf, prefix)
    val afterAppend = BandIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq
    BandIndex.appendNovel(spark, sf, prefix) // all now dup — zero-row append ok
    val grown = IndexCore.tableFiles(spark, BandIndex.bandsTable(prefix)).size
    assert(grown > BandIndex.Buckets,
      s"append did not grow the file count ($grown files) — fixture too small?")

    BandIndex.compact(spark, prefix)

    // exactly one file per (non-empty) bucket in both tables
    Seq(BandIndex.bandsTable(prefix), BandIndex.sigsTable(prefix)).foreach { t =>
      val files = IndexCore.tableFiles(spark, t)
      assert(files.size <= BandIndex.Buckets,
        s"$t not compacted: ${files.size} files\n${files.mkString("\n")}")
    }

    // decisions identical to the pre-compaction appended index
    val afterCompact = BandIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq
    assert(afterCompact == afterAppend, "compaction changed the decisions")
    assert(afterCompact != before, "fixture must have novel docs for this test to bite")

    // the no-corpus-exchange plan property survives the rewrite (the
    // compacted tables are re-registered via DROP + RENAME — a broken
    // bucket spec would surface as a declined layout here)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = BandIndex.probe(spark, sf, prefix)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = probe.queryExecution.executedPlan
      val scans = indexScans(plan, "graft-bandidx-speccompact")
      assert(scans.size == 2 && scans.forall(_.bucketedScan),
        s"compaction broke the bucketed layout:\n$plan")
      def pathsToIndexScans(p: SparkPlan,
          above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
        case s: FileSourceScanExec
            if indexScans(s, "graft-bandidx-speccompact").nonEmpty => Seq(above)
        case _ => p.children.flatMap(c => pathsToIndexScans(c, p :: above))
      }
      pathsToIndexScans(plan, Nil).foreach { above =>
        val belowJoin = above.takeWhile(n =>
          !n.nodeName.toLowerCase.contains("join"))
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"corpus-side exchange appeared after compaction:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("retention: retired docs vanish from decisions; layout, file count and no-exchange survive") {
    import org.apache.spark.sql.functions.col
    val prefix = BandIndex.ensurePersisted(spark, sf, "specretire")
    val before = BandIndex.probe(spark, sf, prefix).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val docs = graft.Tables.documents(spark, sf)
    val expired = docs.filter(col("source").isin(BandIndex.RetiredSrcs: _*))
      .select("doc_id")
    val expiredIds = expired.collect().map(_.getLong(0)).toSet
    // fixture must make the retention observable: some batch doc's
    // dup target is retired
    val affected = before.collect {
      case (id, Some(d)) if expiredIds(d) => id
    }.toSet
    assert(affected.nonEmpty, "no batch doc targeted a retired source")

    BandIndex.retire(spark, prefix, expired)

    // decisions equal the derived-frame probe over the FILTERED
    // corpus — the index behaves as if the retired docs were never in
    val (cbands, csigs) = Dedup.corpusIndex(spark, sf)
    val keep = docs.filter(!col("source").isin(BandIndex.RetiredSrcs: _*))
      .select(col("doc_id").as("corpus_doc"))
    val expected = Dedup.incrementalDecisions(spark, sf,
        cbands.join(keep, "corpus_doc")
          .select(org.apache.spark.sql.functions
            .concat_ws(":", col("band"), col("key")).as("bkey"), col("corpus_doc")),
        csigs.join(keep, "corpus_doc").select(csigs.columns.map(col): _*))
      .collect().map(_.toString).toSeq
    val after = BandIndex.probe(spark, sf, prefix)
    assert(after.collect().map(_.toString).toSeq == expected,
      "post-retention decisions diverge from a never-indexed corpus")
    // no retired doc survives as a dup target
    after.collect().foreach { r =>
      if (!r.isNullAt(1))
        assert(!expiredIds(r.getLong(1)), s"retired doc still matched: $r")
    }

    // retention is also a compaction: one file per (non-empty) bucket
    Seq(BandIndex.bandsTable(prefix), BandIndex.sigsTable(prefix)).foreach { t =>
      val files = IndexCore.tableFiles(spark, t)
      assert(files.size <= BandIndex.Buckets,
        s"$t not rewritten to one file per bucket: ${files.size}")
    }

    // and the no-corpus-exchange plan property survives the rewrite
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = BandIndex.probe(spark, sf, prefix)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = probe.queryExecution.executedPlan
      val scans = indexScans(plan, "graft-bandidx-specretire")
      assert(scans.size == 2 && scans.forall(_.bucketedScan),
        s"retention broke the bucketed layout:\n$plan")
      def pathsToIndexScans(p: SparkPlan,
          above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
        case s: FileSourceScanExec
            if indexScans(s, "graft-bandidx-specretire").nonEmpty => Seq(above)
        case _ => p.children.flatMap(c => pathsToIndexScans(c, p :: above))
      }
      pathsToIndexScans(plan, Nil).foreach { above =>
        val belowJoin = above.takeWhile(n =>
          !n.nodeName.toLowerCase.contains("join"))
        assert(!belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"corpus-side exchange appeared after retention:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("tombstone retention: O(retired) delete, masked probe equals eager retire, purge converges") {
    import org.apache.spark.sql.functions.col
    // Round 12 (VERDICT r11 item 3): retire() pays a corpus-linear
    // rewrite per delete; retireTombstone must (a) leave the index's
    // data files byte-untouched (the delete is O(retired)), (b) make
    // probes behave EXACTLY like an eager retire immediately, (c) let
    // the next compaction purge the rows physically and clear the
    // tombstone set, with decisions unchanged throughout.
    val prefix = BandIndex.ensurePersisted(spark, sf, "spectomb")
    val eager = BandIndex.ensurePersisted(spark, sf, "spectombeager")
    val docs = graft.Tables.documents(spark, sf)
    val expired = docs.filter(col("source").isin(BandIndex.RetiredSrcs: _*))
      .select("doc_id")
    val expiredIds = expired.collect().map(_.getLong(0)).toSet

    // the reference: an identical index retired EAGERLY
    BandIndex.retire(spark, eager, expired)
    val expected = BandIndex.probe(spark, sf, eager).collect().map(_.toString).toSeq

    def dataFiles() =
      (IndexCore.tableFiles(spark, BandIndex.bandsTable(prefix)) ++
        IndexCore.tableFiles(spark, BandIndex.sigsTable(prefix))).sorted
    val filesBefore = dataFiles()
    BandIndex.retireTombstone(spark, prefix, expired)
    assert(dataFiles() == filesBefore,
      "tombstone retention touched the index's data files")
    // the retire is one commit to the index's log
    val tombBytes = IndexCore.lastCommit(spark, BandIndex.bandsTable(prefix))
      .fold(0L)(java.nio.file.Files.size)
    val indexBytes = filesBefore
      .map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    assert(tombBytes > 0 && tombBytes < indexBytes / 10,
      s"tombstone write not O(retired): $tombBytes B vs index $indexBytes B")

    // masked probe == eager retire, immediately
    assert(BandIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq
      == expected, "tombstone-masked decisions diverge from eager retire")

    // the mask must not cost the corpus its layout: broadcast hint
    // holds even under threshold -1, no exchange between either
    // corpus scan and the sort-merge join that consumes it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // corpus scans only — the tombstone table shares the temp dir
      // but is a tiny broadcast side, deliberately unbucketed
      def corpusScans(p: SparkPlan): Seq[FileSourceScanExec] =
        indexScans(p, "graft-bandidx-spectomb").filterNot(
          _.relation.location.rootPaths.exists(_.toString.contains("/tombstones")))
      val probe = BandIndex.probe(spark, sf, prefix)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = probe.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("leftanti"),
        s"tombstone mask missing from the probe plan:\n$plan")
      val scans = corpusScans(plan)
      assert(scans.nonEmpty && scans.forall(_.bucketedScan),
        s"tombstone mask broke the bucketed layout:\n$plan")
      def pathsToIndexScans(p: SparkPlan,
          above: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
        case s: FileSourceScanExec if corpusScans(s).nonEmpty => Seq(above)
        case _ => p.children.flatMap(c => pathsToIndexScans(c, p :: above))
      }
      pathsToIndexScans(plan, Nil).foreach { above =>
        val belowSmj = above.takeWhile(n =>
          !n.nodeName.toLowerCase.contains("sortmergejoin"))
        assert(!belowSmj.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"corpus-side exchange appeared under the tombstone mask:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }

    // purge: compaction absorbs the tombstones, clears the set, and
    // changes nothing observable
    BandIndex.compact(spark, prefix)
    assert(IndexCore.state(spark, BandIndex.bandsTable(prefix)).retired.isEmpty,
      "compaction did not clear the tombstone set")
    Seq(BandIndex.bandsTable(prefix), BandIndex.sigsTable(prefix)).foreach { t =>
      assert(IndexCore.tableFiles(spark, t).size <= BandIndex.Buckets,
        s"$t not rewritten to one file per bucket")
      val survivors = spark.table(t)
        .filter(col("corpus_doc").isin(expiredIds.toSeq: _*)).count()
      assert(survivors == 0, s"$t still holds $survivors tombstoned rows after purge")
    }
    assert(BandIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq
      == expected, "post-purge decisions diverge from eager retire")
  }

  test("dd17 compacted-cycle decisions equal dd16's fresh-cycle decisions") {
    val d16 = graft.SparkEntry.queries("dd16_index_append")(spark, sf)
      .collect().map(_.toString).toSeq
    val d17 = graft.SparkEntry.queries("dd17_index_compact")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(d17 == d16,
      "sliced-append + compaction diverged from the single-append cycle")
  }

  test("probe shuffle BYTES track the batch, not the corpus (10x corpus, ~1x bytes)") {
    // The plan-shape tests above prove no exchange sits over the
    // corpus scans; this closes the gap between "the plan looks
    // right" and "the bytes moved are batch-proportional": the SAME
    // sf0.001 batch probes an index built from the sf0.001 corpus
    // and one built from the 10× sf0.1 corpus, and total shuffle
    // write bytes must stay within 2× while the corpus grows 10×.
    // (Measured 0.96×; the bound is loose only for compression
    // jitter.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = BandIndex.ensurePersisted(spark, sf, "shufsmall")
      val big = BandIndex.ensurePersisted(spark, "/root/testdata/sf0.1", "shufbig")
      val corpusRatio =
        spark.table(BandIndex.sigsTable(big)).count().toDouble /
          spark.table(BandIndex.sigsTable(small)).count()
      assert(corpusRatio >= 5.0, s"fixture corpora not ~10x apart: $corpusRatio")
      def probeBytes(prefix: String): Long = {
        val run = () => Dedup.incrementalDecisions(spark, sf,
          spark.table(BandIndex.bandsTable(prefix)),
          spark.table(BandIndex.sigsTable(prefix))).count()
        run() // warm: neither measurement pays first-run codegen
        graft.Metrics.record(spark)(run())._2.shuffleWriteBytes
      }
      val smallBytes = probeBytes(small)
      val bigBytes = probeBytes(big)
      assert(smallBytes > 0, "listener captured no shuffle writes")
      assert(bigBytes.toDouble / smallBytes < 2.0,
        s"probe shuffle bytes scaled with the corpus: $smallBytes -> $bigBytes " +
          s"(corpus x$corpusRatio) — a corpus-sized exchange leaked into the plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("dd15 persists the index once per (session, dir) and probes it") {
    val p1 = BandIndex.ensurePersisted(spark, sf)
    val p2 = BandIndex.ensurePersisted(spark, sf)
    assert(p1 == p2, "second call must reuse the persisted index")
    val viaEntry = graft.SparkEntry.queries("dd15_bucketed_probe")(spark, sf)
      .collect().map(_.toString).toSeq
    val derived = Dedup.queries("dd13_incremental_dedup")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaEntry == derived)
  }

  test("self-excluding fence keeps unstamped (NULL ingest_batch) corpus rows") {
    // A legacy index — one written before batch stamping existed, or
    // by an external writer that omitted the column — carries NULL in
    // `ingest_batch`. The fence predicate must KEEP those rows
    // (they are by definition not the in-flight batch); a bare
    // three-valued `=!=` would silently drop every one of them from
    // the probe corpus and change dedup decisions. Simulate the
    // legacy table by rewriting a fresh index's stamp column to NULL,
    // then require a fenced probe to decide identically to an
    // unfenced one.
    import org.apache.spark.sql.functions.{col, lit}
    val prefix = BandIndex.ensurePersisted(spark, sf, "specnullstamp")
    def nullifyStamp(table: String, key: String): Unit = {
      val pinned = spark.table(table)
        .withColumn("ingest_batch", lit(null).cast("long"))
        .localCheckpoint()
      val loc = IndexCore.indexRootOf(spark, table)
      spark.sql(s"DROP TABLE $table")
      pinned.write
        .bucketBy(BandIndex.Buckets, key).sortBy(key)
        .option("path", s"$loc/${table.split('_').last}_nullstamp")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .saveAsTable(table)
    }
    nullifyStamp(BandIndex.bandsTable(prefix), "bkey")
    nullifyStamp(BandIndex.sigsTable(prefix), "corpus_doc")
    assert(spark.table(BandIndex.sigsTable(prefix))
      .filter(col("ingest_batch").isNotNull).isEmpty,
      "fixture failed to null the stamp column")

    val unfenced = BandIndex.probe(spark, sf, prefix)
      .collect().map(_.toString).toSeq
    val fenced = BandIndex.probe(spark, sf, prefix, excludeBatch = Some(7L))
      .collect().map(_.toString).toSeq
    assert(fenced == unfenced,
      "fence dropped unstamped corpus rows: a NULL-stamped legacy index " +
        "must probe identically whether or not a batch fence is active")
    // the fixture bites: with the corpus really gone the probe would
    // return all-novel, so require at least one dup decision
    assert(fenced.exists(!_.contains("null")),
      "fixture has no dup decisions — the fence test cannot bite")
  }

  test("maintainBatch rejects the BaseBatch sentinel id") {
    // BaseBatch (-1) stamps the base build and ad-hoc appends; a
    // streaming batch admitted with a colliding id would false-skip
    // (batchPresent sees the base build's stamp). The guard must fire
    // BEFORE any catalog access, so no index is needed.
    import org.apache.spark.sql.functions.col
    val ids = spark.range(1).select(col("id").as("doc_id"))
    val e = intercept[IllegalArgumentException] {
      BandIndex.maintainBatch(spark, sf, "graft_no_such_prefix", ids,
        BandIndex.BaseBatch)
    }
    assert(e.getMessage.contains("must be >= 0"), e.getMessage)
    intercept[IllegalArgumentException] {
      BandIndex.maintainBatch(spark, sf, "graft_no_such_prefix", ids, -42L)
    }
  }

  test("replay after a lost commit re-commits the batch without writing a row") {
    // Crash window: both tables landed (batch fully absorbed) but the
    // log commit was lost. The replay must (a) re-decide exactly what
    // the first attempt decided, (b) write no row — every table's
    // stamp is present — and (c) commit the batch, so the next replay
    // is the log's whole-batch no-op.
    import org.apache.spark.sql.functions.col
    val prefix = BandIndex.ensurePersisted(spark, sf, "specledger")
    val bands = BandIndex.bandsTable(prefix)
    val day0Ids = graft.Tables.documents(spark, sf)
      .filter(col("source") === Dedup.IncBatchSrc)
      .select("doc_id")
    val first = BandIndex.maintainBatch(spark, sf, prefix, day0Ids, 0L)
      .getOrElse(fail("first maintenance of a fresh index must run"))
      .collect().map(_.toString).toSeq.sorted
    def rows() = Seq(bands, BandIndex.sigsTable(prefix)).map(spark.table(_).count())
    val landed = rows()

    // simulate the lost commit: delete the newest log version
    java.nio.file.Files.delete(IndexCore.lastCommit(spark, bands).get)
    assert(!IndexCore.state(spark, bands).batches.contains(0L),
      "fixture failed to lose the commit")

    val replay = BandIndex.maintainBatch(spark, sf, prefix, day0Ids, 0L)
      .getOrElse(fail("a batch missing from the log must replay"))
      .collect().map(_.toString).toSeq.sorted
    assert(replay == first, "replay decisions diverge from the first attempt's")
    assert(rows() == landed, "replay of a fully-landed batch wrote rows")
    assert(IndexCore.state(spark, bands).batches.contains(0L),
      "replay did not re-commit the batch")

    // converged: the next replay is the log's whole-batch no-op
    assert(BandIndex.maintainBatch(spark, sf, prefix, day0Ids, 0L).isEmpty)
  }
}
