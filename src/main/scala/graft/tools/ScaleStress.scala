package graft.tools

import org.apache.spark.sql.functions._

/** Scale-stress harness: replicates the sf0.1 testdata REPL× (with
  * key perturbation so cardinalities scale too) into a temp dir, then
  * times the headline catalog queries at 1× vs REPL× to expose any
  * super-linear operator. Evidence for the 100 TB design review —
  * run: tools/run.sh graft.tools.ScaleStress [repl]
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val repl = args.headOption.map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft-scale-x$repl"
    // SPARK_GRAFT_CPUS override (round 18, VERDICT item 6): the
    // core-SCALING axis — the same replica swept at two core counts
    // exposes serial stages (ratio ≈ 1) that the sf0.1 bench's
    // fixture-write floor hides. Same contract as graft.Bench.
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    val spark = graft.Session.local(cpus)

    // --- replicate with offset keys so join fan-outs stay realistic ---
    def replicate(name: String, keyOffsets: Map[String, Long]): Unit = {
      // repartition BEFORE the crossJoin: the broadcast-nested-loop
      // product preserves the left side's partitioning, and a small
      // single-file base would otherwise serialize the whole repl×
      // write through ONE task (at 1000× that's a 6 GB single-thread
      // write — hours)
      val base = spark.read.parquet(s"$src/$name.parquet").repartition(cpus)
      val copies = spark.range(repl).select(col("id").as("__copy"))
      val big = base.crossJoin(copies)
      val shifted = keyOffsets.foldLeft(big) { case (df, (c, span)) =>
        df.withColumn(c, col(c) + col("__copy") * span)
      }.drop("__copy")
      shifted.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }

    // --- calendar-extended replication: copies shift FORWARD IN TIME
    // instead of stacking onto the same dates, so temporal density
    // (rows per day) stays constant as the data grows — the honest
    // scale axis for time-range operators like j09, whose per-window
    // match count is density-proportional. 2600 days > the base span
    // (1995-01..2001-11 ≈ 2500 d) keeps copies disjoint even after
    // the +7-day window extension. ---
    val calDst = s"/tmp/graft-scale-cal-x$repl"
    val CalShiftDays = 2600L
    def replicateCal(name: String, keyOffsets: Map[String, Long],
        dateCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet").repartition(cpus)
      val copies = spark.range(repl).select(col("id").as("__copy"))
      val big = base.crossJoin(copies)
      val shifted = keyOffsets.foldLeft(big) { case (df, (c, span)) =>
        df.withColumn(c, col(c) + col("__copy") * span)
      }
      val dated = dateCols.foldLeft(shifted) { (df, c) =>
        df.withColumn(c,
          col(c) + expr(s"make_interval(0, 0, 0, CAST(__copy * $CalShiftDays AS INT), 0, 0, 0)"))
      }.drop("__copy")
      dated.write.mode("overwrite").parquet(s"$calDst/$name.parquet")
    }

    // SPARK_GRAFT_TABLES=documents → replicate only that subset
    // (the 1000× decade run needs just the documents axis; stamping
    // out a 1000× lineitem it never reads would cost more than the
    // measurement). Presence is checked per-table so a docs-only
    // replica can later be widened in place.
    val wantTables: String => Boolean = sys.env.get("SPARK_GRAFT_TABLES") match {
      case Some(csv) => csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      case None      => (_: String) => true
    }
    def replicateIfWanted(name: String, keyOffsets: Map[String, Long]): Unit =
      if (wantTables(name) && !new java.io.File(s"$dst/$name.parquet").exists())
        replicate(name, keyOffsets)
    replicateIfWanted("lineitem", Map("l_orderkey" -> 10000000L))
    replicateIfWanted("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
    replicateIfWanted("customer", Map("c_custkey" -> 1000000L))
    replicateIfWanted("supplier", Map("s_suppkey" -> 100000L))
    replicateIfWanted("events", Map("event_id" -> 100000000L, "user_id" -> 100000L))
    replicateIfWanted("documents", Map("doc_id" -> 10000000L))
    replicateIfWanted("embeddings", Map("vec_id" -> 1000000L))
    Seq("nation", "region", "part").foreach { t =>
      if (wantTables(t) && !new java.io.File(s"$dst/$t.parquet").exists())
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    val allHeadline = Seq("q1_pricing", "j02_sortmerge_join", "j06_regional_revenue",
      "j09_range_join", "sql02_correlated_subquery",
      "a01_report", "d01_dedup", "w01_lag", "dd01_exact_dedup", "dd02_minhash_sig",
      "dd03_lsh_pairs", "dd04_simhash", "dd05_ngram_jaccard", "dd06_cosine_dup",
      "dd07_dup_clusters", "dd08_cosine_dup2", "tx04_fingerprint", "tx06_bpe_tokens",
      "ds01_hash_split", "ds02_stratified_sample", "ds03_context_pack",
      "df01_quality_gate", "tx07_tfidf",
      "sim01_knn", "sim02_lsh_ann", "sim04_ivf_ann", "sim06_ivf2_ann",
      "sim05_norm_quant",
      "st01_tumbling_window",
      "tx10_ngram_topk", "tx11_chunk_windows", "cur03_domain_mix",
      "ds04_epoch_shuffle", "dq01_expectations", "dq02_profile",
      "dd09_editdist_verify", "sim07_pq_adc",
      "dd10_decontaminate", "bf01_bloom_semi", "u01_scd2_merge",
      "cdc01_snapshot_diff", "ivm01_delta_agg",
      "r01_retention", "f01_funnel", "w04_sessionize",
      "lm01_unigram_lm", "dd11_substring_dup", "sim08_range_search",
      "r02_transitions", "ts01_gapfill", "dq03_anomaly", "ds05_curriculum",
      "g01_pagerank",
      "ds06_weighted_sample", "q3_shipping_priority", "w05_rank_ratios",
      "a19_unpivot", "cur05_keep_best", "z01_zorder_layout",
      "hh01_heavy_hitters", "dd13_incremental_dedup",
      "a20_grouping_sets", "qs01_hist_quantiles", "cur06_temperature_mix",
      "ds08_importance_resample", "dd14_semantic_dedup",
      "ds11_contrastive_pairs",
      "st05_stream_neardup", "sim13_multiprobe_recall",
      "a21_sketch_rollup", "ivm02_delta_join", "tx14_bpe_encode",
      "ds09_balanced_shards", "ds10_exact_k_sample", "sql04_lateral_topn",
      "q6_forecast_revenue", "q14_promo_share", "z02_hilbert_layout", "j13_salted_join",
      "q2_min_cost_supp", "q4_order_priority", "q9_product_profit",
      "q21_waiting_supplier", "cur07_perplexity_filter",
      "dd15_bucketed_probe", "j14_sketch_skew_join", "dd16_index_append",
      "dd17_index_compact", "st06_stream_index_probe",
      "st07_stream_index_maintain", "st08_stream_exactly_once",
      "dd18_index_retention", "sim14_ivf_index_probe",
      "st09_stream_ann_probe",
      "dd19_tombstone_retention", "sim19_pq_lifecycle",
      "sim20_tombstone_retention", "st13_stream_pq_maintain")
    // SPARK_GRAFT_QUERIES=dd04_simhash,sim04_ivf_ann → time only those
    // (fast iteration on one operator without the 25-query sweep)
    val headline = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(csv) => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None      => allHeadline
    }

    // full reset: memoized stage frames + every cached relation go
    // cold, so a re-sweep measures recompute, never a cache read
    def coldReset(): Unit = {
      graft.ops.Relational.clearMemo(spark)
      graft.ops.Dedup.clearMemo(spark)
      spark.catalog.clearCache()
      System.gc()
    }

    // Per-query try/catch with a -1 failure sentinel (Bench's
    // convention): one query dying at high replication must not kill
    // the whole measurement run, and the per-query progress line on
    // stderr identifies WHICH query was active when something heavy
    // happens (the 1000× maxResultSize breach was anonymous without it).
    def sweep(dir: String): Map[String, Double] =
      headline.map { name =>
        System.err.println(s"[stress] $name @ $dir")
        val t0 = System.nanoTime()
        val ok =
          try { graft.SparkEntry.queries(name)(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[stress] $name FAILED: ${e.getMessage}")
            false
          }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap

    // min of two COLD sweeps: single-shot timings showed up to 30×
    // one-off noise (GC pauses, first-plan JIT) masquerading as
    // scaling bugs, while best-of-2 WITHOUT the reset times memo
    // cache hits (~0 s) instead of the operator. A negative timing is
    // MISSING, not fast — fall back to the other sweep's value.
    def timeAll(dir: String): Map[String, Double] = {
      val a = sweep(dir)
      coldReset()
      val b = sweep(dir)
      coldReset()
      headline.map { n =>
        n -> ((a(n) >= 0, b(n) >= 0) match {
          case (true, true)   => math.min(a(n), b(n))
          case (true, false)  => a(n)
          case (false, true)  => b(n)
          case _              => -1.0
        })
      }.toMap
    }

    // warmup then measure
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val base = timeAll(src)
    val big = timeAll(dst)
    println(f"${"query"}%-22s ${"1x_sec"}%8s ${s"${repl}x_sec"}%8s ${"ratio"}%6s")
    // -1 is the FAILED sentinel, not a timing — print it as FAIL and
    // never form a ratio from it (a negative "ratio" in the artifact
    // reads as a measurement).
    def cell(v: Double): String =
      if (v < 0) f"${"FAIL"}%8s" else f"$v%8.2f"
    headline.foreach { q =>
      val ratio = if (base(q) < 0 || big(q) < 0) f"${"-"}%6s"
        else f"${big(q) / base(q)}%6.1f"
      println(f"$q%-22s ${cell(base(q))} ${cell(big(q))} $ratio")
    }

    // Retention-cost axis (round 12, VERDICT r11 item 3): a FIXED
    // retired set against a growing corpus. The eager retire() is a
    // full per-bucket rewrite — its wall time must scale ~repl× with
    // the index — while retireTombstone() writes only the id set, so
    // its time (and bytes) must stay ~flat. Retired ids are pinned to
    // the base copy (doc_id below the replication offset) so the
    // delete batch is the same size on both axes.
    if (headline.contains("dd19_tombstone_retention")) {
      import graft.ops.BandIndex
      def tableBytes(tables: Seq[String]): Long =
        tables.flatMap(t => graft.ops.IndexCore.tableFiles(spark, t))
          .map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
      def retCosts(dir: String, tag: String): (Double, Double, Long, Long) = {
        val expired = graft.Tables.documents(spark, dir)
          .filter(col("source").isin(BandIndex.RetiredSrcs: _*) &&
            col("doc_id") < 10000000L)
          .select("doc_id")
        def buildIdx(sub: String): String = {
          val path = graft.ops.IndexCore.newTempDir(s"stress-ret-$sub")
          val prefix = s"graft_stress_ret_${sub}_${System.nanoTime()}"
          BandIndex.persist(spark, dir, path, prefix)
          prefix
        }
        val pEager = buildIdx(s"${tag}e")
        // the eager path's I/O: it rewrites the ENTIRE index
        val idxBytes = tableBytes(Seq(
          BandIndex.bandsTable(pEager), BandIndex.sigsTable(pEager)))
        val t0 = System.nanoTime()
        BandIndex.retire(spark, pEager, expired)
        val tEager = (System.nanoTime() - t0) / 1e9
        BandIndex.drop(spark, pEager)
        val pTomb = buildIdx(s"${tag}t")
        val t1 = System.nanoTime()
        BandIndex.retireTombstone(spark, pTomb, expired)
        val tTomb = (System.nanoTime() - t1) / 1e9
        // the retire writes one commit to the index's log
        val tombBytes = graft.ops.IndexCore.lastCommit(spark, BandIndex.bandsTable(pTomb))
          .fold(0L)(java.nio.file.Files.size)
        BandIndex.drop(spark, pTomb)
        (tEager, tTomb, tombBytes, idxBytes)
      }
      val (e1, t1, b1, i1) = retCosts(src, "x1")
      val (eN, tN, bN, iN) = retCosts(dst, s"x$repl")
      println(f"${"retire_eager"}%-22s $e1%8.2f $eN%8.2f ${eN / e1}%6.1f")
      println(f"${"retire_tombstone"}%-22s $t1%8.2f $tN%8.2f ${tN / t1}%6.1f")
      println(f"retire_eager_rewrite_bytes    $i1%10d $iN%10d (the whole index)")
      println(f"retire_tombstone_bytes        $b1%10d $bN%10d (fixed retired set)")
    }

    // ε-PERTURBED dup-stacking axis (round 14, VERDICT r13 item 4):
    // the plain replica stamps out byte-identical embedding copies,
    // which ds11's canonicalize-first guard merges away before any
    // pair work — the 0.9× ratio it measures never exercises the
    // in-cell quadratic. Realistic dup-stacking (re-encoded
    // embeddings) is ε-PERTURBED: each copy's vector is nudged by a
    // copy-specific 1e-6 offset, so `groupBy(embedding)` merges
    // NOTHING and every stack survives canonicalization into the
    // cells. The per-anchor candidate cap (Curation.Ds11CandCap) is
    // what bounds this axis; before it, the same corpus re-opened the
    // measured 65.6× blowup the exact-dup guard had closed.
    if (headline.contains("ds11_contrastive_pairs")) {
      val epsDst = s"/tmp/graft-scale-eps-x$repl"
      if (!new java.io.File(s"$epsDst/embeddings.parquet").exists()) {
        val base = spark.read.parquet(s"$src/embeddings.parquet").repartition(cpus)
        val copies = spark.range(repl).select(col("id").as("__copy"))
        base.crossJoin(copies)
          .withColumn("vec_id", col("vec_id") + col("__copy") * 1000000L)
          .withColumn("embedding",
            expr("transform(embedding, x -> CAST(x + __copy * 1.0e-6 AS FLOAT))"))
          .drop("__copy")
          .write.mode("overwrite").parquet(s"$epsDst/embeddings.parquet")
      }
      def timeEps(dir: String): Double = {
        def one(): Double = {
          coldReset()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries("ds11_contrastive_pairs")(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        math.min(one(), one())
      }
      val e1 = base("ds11_contrastive_pairs")
      val eN = timeEps(epsDst)
      println(f"${"ds11@eps-perturbed"}%-22s $e1%8.2f $eN%8.2f ${eN / e1}%6.1f")
    }

    // time-range operators again, on the calendar-extended axis
    // (constant density): the ratio here is the honest linearity
    // measurement for j09 — the density dataset above multiplies
    // matches per window by repl on top of the row growth. The cal
    // replica is built lazily here, so SPARK_GRAFT_QUERIES runs that
    // exclude j09 never pay for it.
    if (headline.contains("j09_range_join")) {
      if (!new java.io.File(s"$calDst/lineitem.parquet").exists()) {
        replicateCal("lineitem", Map("l_orderkey" -> 10000000L), Seq("l_shipdate"))
        replicateCal("orders",
          Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L), Seq("o_orderdate"))
      }
      def timeCal(dir: String): Double = {
        def one(): Double = {
          coldReset()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries("j09_range_join")(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        math.min(one(), one())
      }
      // at repl=1 the two axes coincide — the base sweep already
      // holds j09's min-of-2 cold time on src; don't re-measure it
      val c1 = base("j09_range_join")
      val cN = timeCal(calDst)
      println(f"${"j09_range_join@cal"}%-22s $c1%8.2f $cN%8.2f ${cN / c1}%6.1f")
    }
    spark.stop()
  }
}
