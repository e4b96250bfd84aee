package graft.ops

import graft.SparkSpec

/** Pins the hybrid-fusion claim sim26/st18 rest on (round 15,
  * VERDICT item 2): against a BLENDED cross-modality ground truth
  * (RRF of exact term-overlap rank and exact cosine rank — both
  * modalities carry signal by construction), the fused lane's
  * recall@k must not fall below the better single-modality lane's
  * beyond the binomial interval. Measured at statistical power
  * (128 queries × k=10 → n=1280 graded pairs) through the SAME
  * measurement core the SCALE_NOTES hybrid tables were read from
  * (`HybridProbe.measure`), so the two cannot drift apart.
  *
  * Observed at authoring (sf0.001): lexical 0.152±0.020, vector
  * 0.188±0.021, fused 0.212±0.022 — fused ABOVE the best single
  * lane. The pinned bound is the weaker, stable one (≥ best − CI):
  * a fusion regression that costs more than the interval fails the
  * suite; instrument noise does not.
  */
class HybridFusionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("fused recall is not below the best single lane beyond the 95% CI (n>=640)") {
    val (lex, vec, fus, n) =
      graft.tools.HybridProbe.measure(spark, sf, nQ = 128L, k = 10)
    assert(n >= 640, s"ground truth underpowered: $n trials")
    val bestSingle = math.max(lex._1, vec._1)
    assert(fus._1 >= bestSingle - fus._2,
      f"fusion fell below its better lane beyond the CI: fused ${fus._1}%.3f " +
        f"± ${fus._2}%.3f vs best single $bestSingle%.3f " +
        f"(lex ${lex._1}%.3f, vec ${vec._1}%.3f)")
    // and both single lanes must individually contribute signal —
    // a degenerate lane (recall ~ random) would make the fusion
    // claim vacuous. Random recall@10 over a ~500-doc corpus is
    // ~0.02; 3× that with the CI subtracted is a safe floor.
    assert(lex._1 - lex._2 > 0.06, f"lexical lane carries no signal: ${lex._1}%.3f")
    assert(vec._1 - vec._2 > 0.06, f"vector lane carries no signal: ${vec._1}%.3f")
  }
}
