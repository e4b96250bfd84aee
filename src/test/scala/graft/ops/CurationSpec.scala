package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkEntry, Tables}

/** Invariants for the dataset-curation operators (exact result parity
  * is the DuckDB oracle's job — these guard semantics standalone). */
class CurationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("hash split partitions the corpus: counts sum to total, all three splits present") {
    val total = Tables.documents(spark, sf).count()
    val rows = q("ds01_hash_split").collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    assert(rows.keySet === Set("train", "val", "test"))
    assert(rows.values.sum === total)
    // 90/5/5 targets, hash-binomial tolerance
    val train = rows("train").toDouble / total
    assert(train > 0.85 && train < 0.95, s"train fraction $train")
  }

  test("hash split and sample are deterministic across runs") {
    assert(q("ds01_hash_split").collect().toSeq === q("ds01_hash_split").collect().toSeq)
    assert(q("ds02_stratified_sample").collect().toSeq ===
      q("ds02_stratified_sample").collect().toSeq)
    assert(q("ds06_weighted_sample").collect().toSeq ===
      q("ds06_weighted_sample").collect().toSeq)
  }

  test("weighted sample keeps at roughly the mean weight, never above p=1 docs' certainty") {
    val weights = Tables.documents(spark, sf)
      .withColumn("tokens", expr(TextAnalysis.tokensExpr))
      .filter(expr("size(tokens) > 0"))
      .selectExpr("CAST(size(array_distinct(tokens)) AS DOUBLE) / CAST(size(tokens) AS DOUBLE) AS w")
      .collect().map(_.getDouble(0))
    val kept = q("ds06_weighted_sample").collect()
    val expected = weights.sum
    val sigma = math.sqrt(weights.map(w => w * (1 - w)).sum)
    assert(math.abs(kept.length - expected) < 4 * sigma + 1,
      s"kept ${kept.length}, expected ~$expected (sigma $sigma)")
    kept.foreach { r =>
      assert(r.getAs[Double]("keep_p") > 0.0 && r.getAs[Double]("keep_p") <= 1.0)
    }
  }

  test("stratified sample respects per-stratum rates within hash-binomial tolerance") {
    val totals = Tables.documents(spark, sf).groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val kept = q("ds02_stratified_sample").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_kept")).toMap
    kept.foreach { case (src, n) =>
      val target = Curation.SampleThresholds.toMap.getOrElse(src, Curation.DefaultThreshold) / 1000.0
      val rate = n.toDouble / totals(src)
      // ±4 binomial sigmas on the stratum size
      val sigma = math.sqrt(target * (1 - target) / totals(src))
      assert(math.abs(rate - target) < 4 * sigma + 0.01, s"$src rate $rate vs $target")
    }
  }

  test("normalization is idempotent and emits only [a-z0-9 ] singles-spaced") {
    val norm = q("tx05_normalize").select("norm")
    val renorm = norm.withColumn("norm2",
      expr("trim(regexp_replace(regexp_replace(lower(norm), '[^a-z0-9 ]', ' '), ' +', ' '))"))
    assert(renorm.filter(col("norm") =!= col("norm2")).count() === 0)
    assert(norm.filter(col("norm").rlike("[^a-z0-9 ]|  ")).count() === 0)
  }

  test("quality gate survivors all satisfy the published bounds") {
    val rows = q("df01_quality_gate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      assert(n >= 20 && n <= 500, r.toString)
      val avg = r.getAs[Double]("avg_token_len")
      assert(avg >= 2.0 && avg <= 12.0, r.toString)
      assert(r.getAs[Double]("distinct_ratio") >= 0.2, r.toString)
    }
    // and it actually gates something
    assert(rows.length < Tables.documents(spark, sf).count())
  }

  test("contrastive pairs: bands respected, ids distinct, choices are in-cell argmaxes") {
    val rows = q("ds11_contrastive_pairs").collect()
    assert(rows.nonEmpty, "no anchors mined — vacuous fixture")
    val tau = Similarity.DupThreshold
    rows.foreach { r =>
      val (a, p, pc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(a != p, s"anchor paired with itself: $r")
      assert(pc >= tau - 1e-9, s"positive below band: $r")
      if (!r.isNullAt(3)) {
        val (n, ncos) = (r.getLong(3), r.getDouble(4))
        assert(n != a && n != p, s"negative collides: $r")
        assert(ncos < tau + 1e-9, s"negative inside the positive band: $r")
        assert(ncos <= pc + 1e-9, s"negative scores above the positive: $r")
      }
    }
    // brute-force recheck at this SF: recompute the canonicalized
    // cell assignment (round-14 rules: hash-sampled centroid pool +
    // per-anchor top-C candidate cap) and verify each anchor's
    // choices are the argmaxes over its CAPPED candidate set
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sf)
      .groupBy("embedding").agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id", "embedding")
    val nc = e.agg(
      ceil(sqrt(count(lit(1)).cast("double"))).cast("long").as("ncells"),
      count(lit(1)).as("n"), min(col("vec_id")).as("mid"))
    val cents = e.crossJoin(broadcast(nc))
      .filter(expr(
        s"${graft.functions.Portable.phashExpr("concat('ct|', CAST(vec_id AS STRING))")} % n")
        < col("ncells") || col("vec_id") === col("mid"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
    val assignedRows = e.crossJoin(broadcast(cents))
      .withColumn("cos_c", expr("cosine_sim(embedding, ce)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cos_c").desc, col("cent_id").asc)))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster"), col("cos_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val assigned = assignedRows.map { case (v, c, _) => v -> c }.toMap
    // the cell's top-C members by quantizer residual — the capped
    // candidate pool every anchor draws from
    val capped: Map[Long, Seq[Long]] = assignedRows.groupBy(_._2)
      .map { case (c, ms) =>
        c -> ms.sortBy { case (v, _, cc) => (-cc, v) }
          .take(Curation.Ds11CandCap).map(_._1).toSeq
      }
    val embs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val dot = x.zip(y).map { case (u, v) => u * v }.sum
      dot / (math.sqrt(x.map(u => u * u).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    rows.foreach { r =>
      val a = r.getLong(0)
      val inCell = capped(assigned(a)).filter(_ != a)
        .map(v => v -> cos(embs(a), embs(v)))
      val bestPos = inCell.filter(_._2 >= tau - 1e-9)
        .sortBy { case (v, c) => (-c, v) }.headOption
      assert(bestPos.exists(_._1 == r.getLong(1)),
        s"anchor $a positive is not the capped in-cell argmax: got ${r.getLong(1)}, " +
          s"expected ${bestPos.map(_._1)}")
    }
  }

  test("boilerplate strip removes exactly the corpus-frequent chunks and keeps order") {
    val rows = q("cur08_boilerplate_strip").collect()
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        s"filter(split(lower(text), ' +'), t -> t <> '') AS tokens")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows.length == docs.size, "one output row per document")
    // the stage bites at this SF
    assert(rows.map(_.getLong(2)).sum > 0, "no boilerplate flagged — vacuous fixture")
    // recompute chunk document frequencies independently
    val C = Curation.BoilerChunk
    val chunkDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, toks) =>
      toks.grouped(C).filter(_.length == C).foreach { c =>
        val k = c.mkString(" ")
        chunkDocs(k) = chunkDocs.getOrElse(k, Set.empty) + id
      }
    }
    rows.foreach { r =>
      val (id, nCh, nBo, clean) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val toks = docs(id)
      val chunks = toks.grouped(C).filter(_.length == C).map(_.mkString(" ")).toSeq
      assert(nCh == chunks.length, s"doc $id chunk count")
      val kept = chunks.filter(c => chunkDocs(c).size < Curation.BoilerMinDocs)
      assert(nBo == chunks.length - kept.length, s"doc $id boiler count")
      val tail = toks.drop(chunks.length * C)
      val expected = (kept ++ (if (tail.nonEmpty) Seq(tail.mkString(" ")) else Nil))
        .mkString(" ")
      assert(clean == expected, s"doc $id clean_text mismatch")
      // idempotence-adjacent sanity: no flagged chunk survives
      kept.foreach(c => assert(chunkDocs(c).size < Curation.BoilerMinDocs))
    }
  }
}
