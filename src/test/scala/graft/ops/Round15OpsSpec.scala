package graft.ops

import graft.{SparkEntry, SparkSpec, TempDirs}

/** Invariants for the round-15 additions: the persisted BM25 postings
  * index family (tx16–tx19) and the ds12 quota-window plan pin the
  * round-14 VERDICT asked for. Exact result parity is the DuckDB
  * oracle's job — these pin the PLAN properties the 100 TB serving
  * story depends on: the probe must never re-read raw text, must
  * bucket-prune the postings scan to the query vocabulary, and must
  * keep the map-side top-k; compaction must leave one file per
  * bucket; retire must actually remove documents from serving.
  */
class Round15OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // walks through the AdaptiveSparkPlanExec wrapper (PlanLintSpec's
  // collectAll rationale — a bare .collect sees only the AQE shell)
  private def collectAll(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val expanded = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    expanded +: (expanded.children.flatMap(collectAll) ++
      expanded.subqueries.flatMap(collectAll))
  }

  // ---- tx16: persisted-index probe ------------------------------------

  test("tx16: probe equals the in-session tx15 result row for row") {
    val served = q("tx16_bm25_index_probe").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val fresh = q("tx15_bm25_topk").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(served.nonEmpty)
    assert(served.toSeq == fresh.toSeq,
      "persisted-index serving diverged from the in-session build")
  }

  test("tx16: the probe plan reads NO raw text and bucket-prunes the postings") {
    val plan = q("tx16_bm25_index_probe").queryExecution.executedPlan
    val s = plan.toString
    // the corpus build is gone from the read path: no documents scan,
    // no tokenizer expression anywhere in the serving plan
    assert(!s.contains("documents"),
      "probe plan scans the raw documents parquet — the index build leaked into serving")
    assert(!s.contains("split(lower"),
      "probe plan re-tokenizes text — the index build leaked into serving")
    // the query vocabulary's IN filter prunes postings buckets: only
    // matched-term buckets are ever read
    assert(s.contains("SelectedBucketsCount"),
      "postings scan lost bucket pruning — a probe would read every bucket at 100 TB")
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val pruned = sel.findAllMatchIn(s).exists(m => m.group(1).toInt < m.group(2).toInt)
    assert(pruned, s"no postings scan actually pruned buckets:\n" +
      sel.findAllMatchIn(s).map(_.matched).mkString("; "))
  }

  test("tx16: the per-query top-k keeps its map-side (partial) WindowGroupLimit") {
    val partials = collectAll(q("tx16_bm25_index_probe").queryExecution.executedPlan)
      .collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.mode == org.apache.spark.sql.execution.window.Partial => w
      }
    assert(partials.nonEmpty,
      "served BM25 top-k lost its map-side WindowGroupLimit")
  }

  // ---- tx18: compaction layout ---------------------------------------

  test("tx18: compaction leaves one postings file per bucket") {
    val docs = graft.Tables.documents(spark, sf)
    val prefix = s"graft_lex_spec_${System.nanoTime()}"
    val path = IndexCore.newTempDir("lexspec")
    try {
      import org.apache.spark.sql.functions.{col, hash, lit, pmod}
      LexIndex.persist(spark, sf, path, prefix,
        Some(docs.filter(pmod(hash(col("doc_id")), lit(4)) =!= lit(0))))
      Seq(0, 4, 8).foreach { r =>
        LexIndex.append(spark, sf,
          docs.filter(pmod(hash(col("doc_id")), lit(12)) === lit(r)),
          prefix, batch = r.toLong)
      }
      def parquetFiles(sub: String): Int =
        Option(new java.io.File(s"$path/$sub").listFiles()).fold(0)(
          _.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
      val before = parquetFiles("postings")
      assert(before > LexIndex.Buckets,
        s"fixture never grew multi-file buckets (saw $before files)")
      LexIndex.compact(spark, prefix)
      // compact relocates the table; count files at the new location
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(
          LexIndex.postingsTable(prefix))).location.toString.stripPrefix("file:")
      val after = Option(new java.io.File(loc).listFiles()).fold(0)(
        _.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))
      assert(after == LexIndex.Buckets,
        s"compaction left $after postings files, expected one per bucket (${LexIndex.Buckets})")
      // decisions survive the rewrite
      val dec = LexIndex.probe(spark, sf, prefix).collect()
      val fresh = q("tx15_bm25_topk").collect()
      assert(dec.map(_.toString).toSeq == fresh.map(_.toString).toSeq,
        "compaction changed serving decisions")
    } finally {
      LexIndex.drop(spark, prefix)
      IndexCore.retireTempDir(path)
    }
  }

  // ---- stats integrity under stamp collision ---------------------------

  test("two appends sharing one batch stamp do not double-count the corpus stats") {
    // regression (round-15 review): the stats row was built by
    // re-reading docstats filtered on ingest_batch === batch, so a
    // second append with the same stamp (append's DEFAULT) aggregated
    // the first append's rows again — inflated n_docs/sum_dl, wrong
    // idf and length norm on every subsequent probe
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val docs = graft.Tables.documents(spark, sf)
    val prefix = s"graft_lex_stamp_${System.nanoTime()}"
    val path = IndexCore.newTempDir("lexstamp")
    try {
      LexIndex.persist(spark, sf, path, prefix,
        Some(docs.filter(pmod(hash(col("doc_id")), lit(4)) =!= lit(0))))
      // the arriving quarter lands as TWO appends with the SAME
      // default stamp — the collision case
      Seq(0, 4, 8).foreach { r =>
        LexIndex.append(spark, sf,
          docs.filter(pmod(hash(col("doc_id")), lit(12)) === lit(r)), prefix)
      }
      val stats = spark.table(LexIndex.statsTable(prefix))
        .agg(org.apache.spark.sql.functions.sum("n_docs"),
          org.apache.spark.sql.functions.sum("sum_dl")).collect().head
      val truth = docs.selectExpr(
        "count(*) AS n", s"sum(CAST(size(${TextAnalysis.tokensExpr}) AS BIGINT)) AS s")
        .collect().head
      assert(stats.getLong(0) == truth.getLong(0),
        s"n_docs double-counted: ${stats.getLong(0)} vs ${truth.getLong(0)}")
      assert(stats.getLong(1) == truth.getLong(1),
        s"sum_dl double-counted: ${stats.getLong(1)} vs ${truth.getLong(1)}")
      // and the probe over the collided-stamp index still equals the
      // fresh-build probe decision for decision
      val served = LexIndex.probe(spark, sf, prefix).collect().map(_.toString)
      val fresh = q("tx16_bm25_index_probe").collect().map(_.toString)
      assert(served.toSeq == fresh.toSeq,
        "stamp collision changed serving decisions")
    } finally {
      LexIndex.drop(spark, prefix)
      IndexCore.retireTempDir(path)
    }
  }

  // ---- tx19: retention ------------------------------------------------

  test("tx19: retired documents vanish from ranks, df and length stats") {
    val rows = q("tx19_bm25_index_retire").collect()
    val ph0 = rows.filter(_.getInt(0) == 0)
    val ph1 = rows.filter(_.getInt(0) == 1)
    assert(ph0.nonEmpty && ph1.nonEmpty)
    val retired = ph0.map(_.getLong(3)).toSet
    assert(ph1.forall(r => !retired.contains(r.getLong(3))),
      "a retired document was served in phase 1")
    // phase 1 must re-fill: every query that had matches beyond its
    // phase-0 top-k serves a non-empty result set
    val ph0q = ph0.map(_.getInt(1)).toSet
    val ph1q = ph1.map(_.getInt(1)).toSet
    assert(ph1q.subsetOf(ph0q))
  }

  // ---- tx20: impact-ordered candidate cap -----------------------------

  test("tx20: the impact cap is PUSHED to the postings scan with the term filter") {
    // inspect the scan nodes directly — the plan STRING truncates
    // long filter lists, which hid the cap on first authoring
    val scans = collectAll(q("tx20_bm25_impact_topk").queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val postingsScans = scans.filter(_.tableIdentifier.exists(_.table.endsWith("_postings")))
    assert(postingsScans.nonEmpty, "no postings scan in the capped probe plan")
    val withCap = postingsScans.filter { f =>
      val filters = f.dataFilters.map(_.toString).mkString(" ")
      filters.contains(s"<= ${LexIndex.ImpactCap}") && filters.contains("term")
    }
    assert(withCap.nonEmpty,
      "the imp_rank cap (or the term IN) did not reach the postings scan — " +
        "probe bytes would scale with df, not terms x cap:\n" +
        postingsScans.map(_.dataFilters.mkString(", ")).mkString("\n"))
    val s = q("tx20_bm25_impact_topk").queryExecution.executedPlan.toString
    assert(!s.contains("documents"), "capped probe scans raw text")
  }

  test("tx20: the approximation contract holds — rare-term query intact, bounded loss overall") {
    val exactRows = q("tx16_bm25_index_probe").collect()
    val cappedRows = q("tx20_bm25_impact_topk").collect()
    assert(cappedRows.nonEmpty)
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), r.getLong(2))).toSet
    val exact = pairs(exactRows)
    val capped = pairs(cappedRows)
    val overlap = (exact & capped).size.toDouble / exact.size
    info(f"capped/exact top-k overlap: $overlap%.3f (${(exact & capped).size}/${exact.size})")
    // The fixture corpus is ADVERSARIAL for impact capping: every
    // doc matches every common term with tf 1-2, so scores cluster
    // and multi-term docs can sit below the cap in EVERY per-term
    // list (the union problem WAND's upper bounds exist to fix —
    // stated in the scaladoc, measured here rather than hidden).
    // Real corpora are Zipfian, where the measured loss is far
    // smaller. The floor pins the contract against regression.
    assert(overlap >= 0.5,
      f"impact cap degraded top-k beyond the approximation contract: $overlap%.3f")
    // the query the impact family serves BEST — the rare-term (high
    // idf) query 2, whose df sits inside the cap — must keep its
    // exact top-k SET intact
    def q2(rows: Set[(Int, Long)]) = rows.filter(_._1 == 2)
    val q2overlap = (q2(exact) & q2(capped)).size.toDouble / q2(exact).size
    info(f"rare-term (q2) overlap: $q2overlap%.3f")
    assert(q2overlap >= 0.9, f"rare-term query lost its top-k under the cap: $q2overlap%.3f")
  }

  // ---- sim28: persisted-prefix matryoshka serving ---------------------

  test("sim28: serves sim27's decisions row for row") {
    val served = q("sim28_matryoshka_served").collect().map(_.toString).toSeq
    val fresh = q("sim27_matryoshka_ann").collect().map(_.toString).toSeq
    assert(served.nonEmpty)
    assert(served == fresh, "persisted-prefix serving diverged from the in-session funnel")
  }

  test("sim28: the candidate pass column-prunes to the prefix (no full-vector read)") {
    val s = q("sim28_matryoshka_served").queryExecution.executedPlan.toString
    val readSchemas = s.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.exists(l => l.contains("pfx") && !l.contains("embedding")),
      "no scan reads the prefix column without the full vector — the " +
        s"candidate pass lost its 4x byte cut:\n${readSchemas.mkString("\n")}")
  }

  test("sim28: the prefix column is ~4x fewer bytes than the full-vector column on disk") {
    // parquet footer accounting over the persisted mat table: the
    // candidate pass reads the pfx column chunks, sim27's reads the
    // embedding column — the byte ratio IS the serving read delta
    val prefix = VecIndex.ensureMatPersisted(spark, sf)
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(
        VecIndex.matTable(prefix))).location
    val conf = spark.sessionState.newHadoopConf()
    val fs = org.apache.hadoop.fs.FileSystem.get(loc, conf)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(loc))
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    var pfxBytes = 0L
    var embBytes = 0L
    files.foreach { f =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, f.getPath,
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          val col0 = c.getPath.toDotString
          if (col0.startsWith("pfx")) pfxBytes += c.getTotalSize
          else if (col0.startsWith("embedding")) embBytes += c.getTotalSize
        }
      }
    }
    assert(pfxBytes > 0 && embBytes > 0, "footer accounting found no vector columns")
    val ratio = embBytes.toDouble / pfxBytes.toDouble
    info(f"embedding/pfx column bytes: $embBytes/$pfxBytes = $ratio%.2f")
    assert(ratio > 3.0 && ratio < 5.0,
      f"prefix column is not ~4x smaller than the full vector: $ratio%.2f " +
        "(16 of 64 dims should cost ~1/4 of the bytes)")
  }

  // ---- tx21: impact reindex restores global rank order -----------------

  test("tx21: appends leave batch-local impact ranks; reindex makes them globally contiguous") {
    import org.apache.spark.sql.functions.{col, countDistinct, hash, lit, max, pmod}
    val docs = graft.Tables.documents(spark, sf)
    val prefix = s"graft_lex_r15spec_${System.nanoTime()}"
    val path = IndexCore.newTempDir("lexr15spec")
    try {
      LexIndex.persist(spark, sf, path, prefix,
        Some(docs.filter(pmod(hash(col("doc_id")), lit(4)) =!= lit(0))))
      LexIndex.append(spark, sf,
        docs.filter(pmod(hash(col("doc_id")), lit(4)) === lit(0)), prefix)
      def rankProfile() = spark.table(LexIndex.postingsTable(prefix))
        .groupBy("term").agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n"),
          countDistinct(col("imp_rank")).as("distinct_rk"),
          max(col("imp_rank")).as("max_rk"))
        .collect()
      // after the append, any term present in BOTH batches carries
      // duplicate (batch-local) ranks — the staleness dq08 detects
      val before = rankProfile()
      assert(before.exists(r => r.getLong(1) > r.getLong(2)),
        "fixture never produced a cross-batch term — the staleness case is untested")
      LexIndex.reindexImpact(spark, prefix)
      // after the rebuild every term's ranks are globally unique and
      // contiguous 1..n — the invariant the capped probe's top-C
      // semantics rest on
      val after = rankProfile()
      after.foreach { r =>
        assert(r.getLong(1) == r.getLong(2) && r.getInt(3).toLong == r.getLong(1),
          s"term ${r.getString(0)}: ranks not contiguous after reindex " +
            s"(n=${r.getLong(1)}, distinct=${r.getLong(2)}, max=${r.getInt(3)})")
      }
      // and the capped probe over the rebuilt index equals the
      // fresh-build capped probe decision for decision
      val served = LexIndex.impactProbe(spark, sf, prefix).collect().map(_.toString)
      val fresh = q("tx20_bm25_impact_topk").collect().map(_.toString)
      assert(served.toSeq == fresh.toSeq,
        "reindexed capped probe diverged from the fresh-build capped probe")
    } finally {
      LexIndex.drop(spark, prefix)
      IndexCore.retireTempDir(path)
    }
  }

  // ---- dq08: vocabulary-drift trigger sensitivity ----------------------

  test("dq08: fires on a vocabulary-shifted batch, stays quiet on a stable one") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit, when}
    def corpus(newText: org.apache.spark.sql.Column): String = {
      val dir = TempDirs.create("graft-dq08").toString
      spark.range(400)
        .select(col("id").as("doc_id"),
          when(org.apache.spark.sql.functions.pmod(col("id"), lit(4)) === 0, newText)
            .otherwise(lit("alpha beta gamma delta epsilon")).as("text"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def summary(dir: String) = SparkEntry.queries("dq08_vocab_drift")(spark, dir)
      .filter(col("bucket") === "__total__").collect().head
    // shifted: the arriving quarter speaks a DISJOINT vocabulary —
    // every token lands in OOV, the old vocabulary empties out
    val shifted = summary(corpus(lit("zulu yankee xray whiskey victor")))
    assert(!shifted.isNullAt(5) && shifted.getBoolean(5),
      s"disjoint-vocabulary batch did not trigger reindex: $shifted")
    // stable: identical text — the distributions coincide, KL ~ 0
    val stable = summary(corpus(lit("alpha beta gamma delta epsilon")))
    assert(!stable.getBoolean(5),
      s"identical-vocabulary batch falsely triggered reindex: $stable")
    assert(stable.getDouble(4) < 0.001,
      s"stable corpus KL not ~0: ${stable.getDouble(4)}")
  }

  // ---- ds12: quota-window plan pin (round-14 VERDICT item 3) ----------

  test("ds12: BOTH windows plan as map-side (partial) WindowGroupLimit") {
    val partials = collectAll(q("ds12_diverse_topk").queryExecution.executedPlan)
      .collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.mode == org.apache.spark.sql.execution.window.Partial => w
      }
    // the (query_id, cluster) quota window — if its partial pass is
    // ever lost, the full scored frame crosses the exchange
    assert(partials.exists(_.partitionSpec.length == 2),
      "ds12 quota window lost its map-side WindowGroupLimit — the full " +
        "scored frame would cross the query_id×cluster exchange at 100 TB")
    // the final per-query top-k window
    assert(partials.exists(_.partitionSpec.length == 1),
      "ds12 final top-k window lost its map-side WindowGroupLimit")
  }
}
