package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** sim24's OPQ-lite rotation: the variance-balanced dimension
  * permutation must BE a permutation (the orthonormality argument
  * rests on it), must achieve its allocation objective, and must
  * leave exact distances — and therefore the ground-truth kNN —
  * invariant.
  */
class OpqSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("opq permutation is a bijection on 0..Dims-1 with balanced subspaces") {
    val perm = Similarity.opqPermutation(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getInt(1))
    assert(perm.length == Similarity.Dims)
    assert(perm.map(_._1).sorted.toSeq == (0 until Similarity.Dims),
      "newpos is not a permutation of 0..Dims-1")
    assert(perm.map(_._2).sorted.toSeq == (0 until Similarity.Dims),
      "orig is not a permutation of 0..Dims-1")
    // snake draft: each subspace receives exactly PqSubDims dims, and
    // the per-subspace variance totals are tighter than the identity
    // layout's (the allocation objective)
    val vars = Similarity.dimVariances(spark, sf).toMap
    val bySub = perm.groupBy(_._1 / Similarity.PqSubDims)
      .map { case (s, ds) => s -> ds.map(d => vars(d._2)) }
    assert(bySub.values.forall(_.length == Similarity.PqSubDims))
    def spread(tot: Iterable[Double]): Double = tot.max - tot.min
    val opqSpread = spread(bySub.values.map(_.sum))
    val idSpread = spread((0 until Similarity.Dims)
      .groupBy(_ / Similarity.PqSubDims).values
      .map(_.map(d => vars(d)).sum))
    assert(opqSpread <= idSpread + 1e-12,
      s"snake draft failed to tighten the variance allocation: " +
        s"$opqSpread vs identity $idSpread")
  }

  test("permuted basis preserves exact distances (orthonormality in effect)") {
    import spark.implicits._
    val orig = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    val perm = Similarity.opqPermuted(spark, sf)
      .filter(col("vec_id") < 10)
      .as[(Long, Seq[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (i <- orig.keys; j <- orig.keys if i < j) {
      val before = d2(orig(i), orig(j))
      val after = d2(perm(i), perm(j))
      assert(math.abs(before - after) < 1e-9,
        s"distance moved under the permutation: ($i,$j) $before -> $after")
    }
  }

  test("sim24 recall is not below trained PQ beyond the binomial interval (n>=640)") {
    // Round-14 adjudication of the r13 instrument reading (OPQ 0.080
    // vs trained 0.240 at 5 queries × k=5): at n=1280 the drop does
    // NOT replicate — sf0.01 reads 0.125±0.018 vs 0.133±0.019 and
    // sf0.1 reads 0.066 vs 0.060 (SCALE_NOTES "Round-14: recall
    // instruments at statistical power"). This pins the claim at
    // statistical power: the permutation must never degrade serving
    // recall beyond the interval noise of a ≥640-trial measurement on
    // the synthetic corpus.
    val nQ = 64L
    val k = 10
    val bf = Similarity.bruteKnn(spark, sf, nQ, k)
      .select("query_id", "neighbor_id").cache()
    val n = bf.count()
    assert(n >= 640, s"ground truth underpowered: $n trials")
    def recall(lane: org.apache.spark.sql.DataFrame): Double =
      lane.select("query_id", "neighbor_id")
        .join(bf, Seq("query_id", "neighbor_id")).count().toDouble / n
    val trained = recall(Similarity.pqAdc(spark, sf, trained = true, nQ, k))
    val opq = recall(Similarity.pqAdcOver(spark,
      Similarity.opqPermuted(spark, sf), trained = true, nQ, k))
    val ci = 1.96 * math.sqrt(trained * (1 - trained) / n)
    assert(opq >= trained - ci,
      f"OPQ degrades serving recall beyond noise: $opq%.3f vs trained " +
        f"$trained%.3f - CI $ci%.3f at n=$n")
  }

  test("sim24 output shape matches sim07's and ranks by permuted-space ADC") {
    val rows = graft.SparkEntry.queries("sim24_opq_adc")(spark, sf)
    assert(rows.columns.toSeq == Seq("query_id", "neighbor_id", "adc_dist"))
    val collected = rows.collect()
    assert(collected.nonEmpty)
    val perQuery = collected.groupBy(_.getLong(0))
    assert(perQuery.values.forall(_.length <= Similarity.KnnK))
  }
}
