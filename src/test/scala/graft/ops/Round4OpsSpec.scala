package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

/** Invariants for the round-4 operators (exact result parity is the
  * DuckDB oracle's job — these guard semantics standalone). */
class Round4OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // ---- tx10 corpus n-gram top-k -------------------------------------

  test("tx10: top-k is sorted by tf desc, df bounded by tf and by corpus size") {
    val rows = q("tx10_ngram_topk").collect()
    assert(rows.nonEmpty && rows.length <= TextAnalysis.NgramTopK)
    val tfs = rows.map(_.getAs[Long]("tf"))
    assert(tfs.sameElements(tfs.sortBy(-_)), "tf not descending")
    val nDocs = Tables.documents(spark, sf).count()
    rows.foreach { r =>
      val (tf, df) = (r.getAs[Long]("tf"), r.getAs[Long]("df"))
      assert(df >= 1 && df <= tf && df <= nDocs)
    }
  }

  test("tx10: tf counts match a direct recount for the heaviest ngram") {
    val top = q("tx10_ngram_topk").limit(1).collect().head
    val ngram = top.getAs[String]("ngram")
    val recount = Tables.documents(spark, sf)
      .withColumn("tokens", expr(TextAnalysis.tokensExpr))
      .withColumn("bigrams", expr(TextAnalysis.bigramsExpr))
      .select(explode(col("bigrams")).as("ngram"))
      .filter(col("ngram") === ngram).count()
    assert(recount === top.getAs[Long]("tf"))
  }

  // ---- tx11 sliding-window chunking ---------------------------------

  test("tx11: chunk spans tile each doc with stride overlap and cover every token") {
    val chunks = q("tx11_chunk_windows").collect()
    assert(chunks.nonEmpty)
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr(s"CAST(size(${TextAnalysis.tokensExpr}) AS BIGINT)").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("chunk_id"))
      assert(sorted.map(_.getAs[Long]("chunk_id")).sameElements(sorted.indices.map(_.toLong)))
      sorted.foreach { r =>
        val (start, len) = (r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok"))
        assert(start === r.getAs[Long]("chunk_id") * TextAnalysis.ChunkStride)
        assert(len >= 1 && len <= TextAnalysis.ChunkWindow)
        assert(start + len <= nTok(doc))
      }
      // last chunk reaches the end of the doc; consecutive chunks overlap
      val last = sorted.last
      assert(last.getAs[Long]("start_tok") + last.getAs[Long]("n_tok") === nTok(doc))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_tok") <
            a.getAs[Long]("start_tok") + a.getAs[Long]("n_tok"),
            s"doc $doc: gap between chunks")
          // every chunk must EXTEND coverage — a chunk fully contained
          // in its predecessor is redundant work downstream
          assert(b.getAs[Long]("start_tok") + b.getAs[Long]("n_tok") >
            a.getAs[Long]("start_tok") + a.getAs[Long]("n_tok"),
            s"doc $doc: chunk contained in predecessor")
        case _ => ()
      }
    }
  }

  // ---- cur03 domain mixture -----------------------------------------

  test("cur03: the scarcest-relative-to-target language keeps ~everything and no lang exceeds its corpus") {
    val rows = q("cur03_domain_mix").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("keep_per_million") <= 1000000L)
    }
    // the pinning language's threshold is exactly 1e6 (keep rate 1)
    assert(rows.map(_.getAs[Long]("keep_per_million")).max === 1000000L)
  }

  test("cur03: kept mixture tracks LangTargets within hash-binomial tolerance") {
    val rows = q("cur03_domain_mix").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_kept")).toMap
    val totalKept = rows.values.sum.toDouble
    val targets = Curation.LangTargets.toMap
    rows.foreach { case (lang, kept) =>
      val share = kept / totalKept
      val target = targets(lang)
      // hash sampling is binomial around the integer threshold; the
      // sf0.001 corpus is tiny, so allow a wide but bounded drift
      assert(math.abs(share - target) < 0.15, s"$lang share $share vs target $target")
    }
  }

  // ---- ds04 epoch shuffle -------------------------------------------

  test("ds04: output is a permutation of the corpus with dense positions") {
    val docs = Tables.documents(spark, sf)
    val out = q("ds04_epoch_shuffle")
    assert(out.count() === docs.count())
    val n = docs.count()
    val pos = out.select("pos").collect().map(_.getLong(0)).sorted
    assert(pos.head === 0L && pos.last === n - 1 && pos.distinct.length === n.toInt)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted
    val expected = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(expected))
  }

  test("ds04: the permutation actually shuffles (not id order) and is deterministic") {
    val firstIds = q("ds04_epoch_shuffle").limit(20).collect().map(_.getAs[Long]("doc_id"))
    assert(!firstIds.sameElements(firstIds.sorted), "epoch shuffle left id order intact")
    assert(firstIds.sameElements(
      q("ds04_epoch_shuffle").limit(20).collect().map(_.getAs[Long]("doc_id"))))
  }

  // ---- dq01 expectations --------------------------------------------

  test("dq01: invariant rules hold on the clean corpus, policy rules fire, checked matches row counts") {
    val rows = q("dq01_expectations").collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("checked"), r.getAs[Long]("violations"))).toMap
    val nLi = Tables.lineitem(spark, sf).count()
    val nOrd = Tables.orders(spark, sf).count()
    Seq("l01_quantity_range", "l02_discount_range", "l03_price_positive",
      "x01_lineitem_order_fk").foreach { rule =>
      assert(rows(rule)._1 === nLi, s"$rule checked")
      assert(rows(rule)._2 === 0L, s"$rule should not fire on clean data")
    }
    Seq("o01_status_domain", "o02_totalprice_positive", "x02_orderkey_unique")
      .foreach { rule =>
        assert(rows(rule)._1 === nOrd, s"$rule checked")
        assert(rows(rule)._2 === 0L, s"$rule should not fire on clean data")
      }
    // the two policy rules exercise the non-zero counting path
    assert(rows("l04_unit_price_floor")._2 > 0L)
    assert(rows("l05_promo_discount")._2 > 0L)
  }

  test("dq01: expect() fuses all row rules into a single aggregate over one scan") {
    import DataQuality.Expectation
    val df = spark.range(10).toDF("x")
    val out = DataQuality.expect(df, Seq(
      Expectation("r1", "x < 3"), Expectation("r2", "x >= 8")))
    val rows = out.collect().map(r =>
      r.getAs[String]("rule") -> (r.getAs[Long]("checked"), r.getAs[Long]("violations"))).toMap
    assert(rows === Map("r1" -> (10L, 3L), "r2" -> (10L, 2L)))
    // one Aggregate over the scan — no self-union of per-rule scans
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), s"expected a single fused scan, got:\n$plan")
  }

  // ---- dq02 column profiler -----------------------------------------

  test("dq02: one row per profiled column; counts and ranges are internally consistent") {
    val rows = q("dq02_profile").collect()
    val expected = (DataQuality.ProfileNumericCols ++ DataQuality.ProfileStringCols).toSet
    assert(rows.map(_.getAs[String]("col_name")).toSet === expected)
    val nLi = Tables.lineitem(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === nLi)
      assert(r.getAs[Long]("n_null") >= 0 && r.getAs[Long]("n_null") <= nLi)
      assert(r.getAs[Long]("n_distinct") <= nLi - r.getAs[Long]("n_null"))
      val c = r.getAs[String]("col_name")
      if (DataQuality.ProfileNumericCols.contains(c)) {
        assert(r.getAs[Double]("min_d") <= r.getAs[Double]("max_d"))
      } else {
        assert(r.isNullAt(r.fieldIndex("min_d")) && r.isNullAt(r.fieldIndex("max_d")))
      }
    }
  }

  // ---- dd09 edit-distance verification ------------------------------

  test("dd09: verified pairs are a subset of dd03 candidates, with sim >= 0.8") {
    val verified = q("dd09_editdist_verify").collect()
    assert(verified.nonEmpty, "expected at least the exact-dup pairs to verify")
    val cands = q("dd03_lsh_pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    verified.foreach { r =>
      assert(cands.contains((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))))
      assert(r.getAs[Double]("edit_sim") >= 0.8)
      assert(r.getAs[Long]("edit_dist") >= 0L)
    }
  }

  test("dd09: canonicalize-first means every verified pair is a GENUINE near-dup (distance >= 1)") {
    // signatures are built over one canonical doc per distinct text,
    // so candidate pairs are always between distinct texts — a
    // zero-distance pair would mean exact dups leaked past the guard
    val zeroPairs = q("dd09_editdist_verify")
      .filter(col("edit_dist") === 0L).count()
    assert(zeroPairs === 0L, "exact-duplicate pair leaked past canonicalize-first")
  }

  // ---- sim07 product quantization -----------------------------------

  test("sim07: k neighbors per query, non-negative ADC distance, no self-matches") {
    val rows = q("sim07_pq_adc").collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === (0L until Similarity.KnnQueries).toSet)
    byQuery.foreach { case (qid, rs) =>
      assert(rs.length === Similarity.KnnK, s"query $qid")
      rs.foreach { r =>
        assert(r.getAs[Long]("neighbor_id") !== qid)
        assert(r.getAs[Double]("adc_dist") >= 0.0)
      }
    }
  }

  test("sim07: Lloyd training is shape-preserving and never increases quantization distortion") {
    import org.apache.spark.sql.functions.{broadcast, expr => e}
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val seed = emb.filter(col("vec_id") < Similarity.PqK)
      .select(col("vec_id").as("code"), col("embedding").as("cw"))
    val trained = Similarity.pqTrainedCodebook(spark, sf)
    val cwRows = trained.collect()
    assert(cwRows.length === Similarity.PqK)
    cwRows.foreach { r =>
      val cw = r.getAs[scala.collection.Seq[Double]]("cw")
      assert(cw.length === Similarity.Dims)
      assert(cw.forall(v => !v.isNaN && !v.isInfinite))
    }
    // Lloyd monotonicity: total distortion under the trained codebook
    // must not exceed the seed codebook's
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val dExprs = (0 until Similarity.PqM).map { m =>
        val s = m * Similarity.PqSubDims + 1
        min(e(s"sq_dist(slice(embedding, $s, ${Similarity.PqSubDims}), " +
          s"slice(cw, $s, ${Similarity.PqSubDims}))")).as(s"d$m")
      }
      emb.crossJoin(broadcast(cb))
        .groupBy("vec_id").agg(dExprs.head, dExprs.tail: _*)
        .select((0 until Similarity.PqM).map(m => sum(col(s"d$m"))).reduce(_ + _).as("t"))
        .collect()(0).getDouble(0)
    }
    val dSeed = distortion(seed)
    val dTrained = distortion(trained)
    assert(dTrained <= dSeed,
      s"training increased distortion: $dSeed -> $dTrained")
  }

  test("token_stats matches every HOF counter exactly across the corpus") {
    val stops = TextAnalysis.inList(TextAnalysis.LangStopwords.flatMap(_._2))
    val cmp = Tables.documents(spark, sf)
      .withColumn("tokens", expr(TextAnalysis.tokensExpr))
      .withColumn("ts", expr("token_stats(tokens)"))
      .filter(
        col("ts.n") =!= expr("CAST(size(tokens) AS BIGINT)") ||
        col("ts.len_sum") =!= expr("CAST(aggregate(tokens, 0, (a, t) -> a + length(t)) AS BIGINT)") ||
        col("ts.stop_cnt") =!= expr(s"CAST(size(filter(tokens, t -> $stops)) AS BIGINT)") ||
        col("ts.short_cnt") =!= expr(s"CAST(size(filter(tokens, t -> length(t) <= ${TextAnalysis.ShortTokenLen})) AS BIGINT)") ||
        col("ts.n_distinct") =!= expr("CAST(size(array_distinct(tokens)) AS BIGINT)"))
    assert(cmp.count() === 0)
  }

  test("sq_dist matches the HOF fold bit-for-bit and nulls on length mismatch") {
    val e = Tables.embeddings(spark, sf).limit(50)
      .select(col("embedding").as("a"),
        expr("reverse(embedding)").as("b"))
    val cmp = e.select(
      expr("sq_dist(a, b)").as("fused"),
      expr("""aggregate(zip_with(a, b,
             |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
             |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("hof"))
    assert(cmp.filter(col("fused") =!= col("hof")).count() === 0)
    val mismatch = spark.sql(
      "SELECT sq_dist(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS v")
    assert(mismatch.collect().head.isNullAt(0))
    // null element → null, matching the HOF form (not a silent 0.0)
    val nullElem = spark.sql(
      "SELECT sq_dist(array(CAST(NULL AS DOUBLE), CAST(1.0 AS DOUBLE)), array(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) AS v")
    assert(nullElem.collect().head.isNullAt(0))
  }
}
