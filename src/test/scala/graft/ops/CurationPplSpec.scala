package graft.ops

import graft.{SparkEntry, SparkSpec, TempDirs}

/** Mechanics invariants for cur07 (CCNet-style perplexity filter).
  * Exact numeric parity is the DuckDB oracle's job; these pin the
  * DECISION semantics — the head/middle/tail cut is value-monotone,
  * rank-covering, and exhaustive — so a threshold bug cannot hide
  * behind an oracle transcription of the same mistake.
  */
class CurationPplSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val rows: Seq[(Long, Long, Double, String)] =
    SparkEntry.queries("cur07_perplexity_filter")(spark, sf)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))

  test("cur07 labels every doc exactly once and uses all three buckets") {
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.size.toLong == nDocs)
    assert(rows.map(_._1).distinct.size == rows.size)
    assert(rows.map(_._4).toSet == Set("head", "middle", "tail"))
  }

  test("cur07 buckets are value-monotone at centinat-bin granularity") {
    def bins(b: String) =
      rows.filter(_._4 == b).map(r => math.floor(r._3 * 100.0).toLong)
    assert(bins("head").max < bins("middle").min)
    assert(bins("middle").max < bins("tail").min)
  }

  test("cur07 thresholds cover their target ranks (head >= n/3, head+middle >= 2n/3)") {
    val n = rows.size.toDouble
    val head = rows.count(_._4 == "head")
    val mid = rows.count(_._4 == "middle")
    assert(head >= math.ceil(n / 3.0).toLong)
    assert(head + mid >= math.ceil(2.0 * n / 3.0).toLong)
    // the boundary-bin slop stays small: no bucket swallows the corpus
    assert(head < n * 0.6 && mid < n * 0.6)
  }

  test("cur07 labels zero-token docs: n_tokens 0, null score, tail bucket") {
    // round-8 ADVICE: the inner-explode form silently DROPPED empty
    // docs and the oracle dropped them identically, so parity hid the
    // gap. This fixture pins the explode_outer semantics: an empty
    // and a whitespace-only doc stay in the output, score null, and
    // land in 'tail' deterministically.
    import spark.implicits._
    val dir = TempDirs.create("graft-cur07-empty").toString
    Seq(
      (0L, "alpha beta alpha", "src0", 16L),
      (1L, "beta gamma", "src1", 10L),
      (2L, "", "web", 0L), // zero tokens: empty text
      (3L, "   ", "web", 3L), // zero tokens: whitespace only
      (4L, "alpha delta", "web", 11L))
      .toDF("doc_id", "text", "source", "n_chars")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("cur07_perplexity_filter")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
    assert(out.map(_._1).toSeq.sorted == Seq(0L, 1L, 2L, 3L, 4L),
      "every doc labeled exactly once, including zero-token docs")
    Seq(2L, 3L).foreach { id =>
      val row = out.find(_._1 == id).get
      assert(row._2 == 0L && row._3.isEmpty && row._4 == "tail",
        s"doc $id: expected (0, null, tail), got $row")
    }
    // scoreable docs still get real scores and legal buckets
    out.filter(r => r._1 != 2L && r._1 != 3L).foreach { r =>
      assert(r._2 > 0 && r._3.nonEmpty && Set("head", "middle", "tail")(r._4))
    }
  }

  test("cur07 scores are the ref-slice add-one NLL (spot-check one doc)") {
    // recompute doc 0's score naively from the raw fixture
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String) = t.toLowerCase.split(" +").filter(_.nonEmpty).toSeq
    val refCounts = docs.filter(d => Curation.RefSources.contains(d._2))
      .flatMap(d => toks(d._3)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bigN = refCounts.values.sum.toDouble
    val v = refCounts.size.toDouble
    val target = docs.minBy(_._1)
    val ts = toks(target._3)
    val nll = ts.map { t =>
      val c = refCounts.getOrElse(t, 0L).toDouble
      BigDecimal(-math.log((c + 1.0) / (bigN + v)))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble / ts.size
    val got = rows.find(_._1 == target._1).get
    assert(got._2 == ts.size.toLong)
    assert(math.abs(got._3 - nll) < 1e-5, s"got ${got._3}, expected $nll")
  }
}
