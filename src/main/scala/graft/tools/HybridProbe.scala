package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Graded hybrid-relevance measurement (round 15, VERDICT item 2):
  * sim26/st18's "fusion helps" was inherited from sim25's
  * vector-vector experiment — this measures it CROSS-MODALITY, at
  * statistical power, against a blended ground truth.
  *
  * Construction (kernels in [[graft.ops.Similarity]]):
  *   - every query is a corpus document (the shared doc_id ↔ vec_id
  *     domain sim26 fuses over);
  *   - ground truth@k = top-k by blended label, RRF of the exact
  *     term-overlap (Jaccard) rank and the exact full-corpus cosine
  *     rank — both modalities carry signal by construction;
  *   - graded lanes: BM25 more-like-this (lexical only), IVF
  *     (vector only), and sim26's RRF fusion of the two — each lane
  *     asked for k, recall@k = fraction of ground-truth pairs
  *     recovered, ± a simple 95% binomial interval (hits within a
  *     query correlate, so the interval is approximate — stated,
  *     not hidden).
  *
  * HybridFusionSpec pins the claim this exists to test: the fused
  * lane's recall is not below the better single lane's beyond the CI.
  * The lane-depth and score-normalized fusion sweeps are recorded in
  * SCALE_NOTES ("Round-16: lane depth graded", "Round-17:
  * score-normalized fusion graded").
  */
object HybridProbe {

  /** Returns ((recall, ci) lexical, (recall, ci) vector, (recall, ci)
    * fused, n ground-truth pairs), every lane asked for k. */
  def measure(spark: SparkSession, sfDir: String, nQ: Long, k: Int)
      : ((Double, Double), (Double, Double), (Double, Double), Long) = {
    import graft.ops.Similarity
    val gt = Similarity.hybridGroundTruth(spark, sfDir, nQ, k).cache()
    val n = gt.count()
    def recall(lane: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val hits = lane.join(gt, Seq("query_id", "item_id")).count()
      val p = hits.toDouble / n
      (p, 1.96 * math.sqrt(p * (1 - p) / n))
    }
    val lex = recall(Similarity.bm25MoreLikeThis(spark, sfDir, nQ, k)
      .select("query_id", "item_id"))
    val vec = recall(Similarity.ivfAnn(spark, sfDir, nQ, k)
      .select(col("query_id"), col("neighbor_id").as("item_id")))
    val fus = recall(Similarity.hybridFused(spark, sfDir, nQ, k, laneK = k))
    gt.unpersist()
    (lex, vec, fus, n)
  }
}
