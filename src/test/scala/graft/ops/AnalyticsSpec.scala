package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkEntry, Tables, TempDirs}

/** Invariants for the round-4 continuation operators (behavioral
  * analytics, LM scoring, substring dedup, range search) — exact
  * result parity is the DuckDB oracle's job; these guard semantics
  * standalone. */
class AnalyticsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  // --- r01_retention -------------------------------------------------

  test("retention: week-0 cohort sizes sum to the distinct-user count") {
    val rows = q("r01_retention").collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    val week0 = rows.filter(_.getAs[Long]("weeks_since") == 0L)
      .map(_.getAs[Long]("users")).sum
    assert(week0 === users, "every user is active in their own cohort week")
  }

  test("retention: no cohort cell exceeds its week-0 cohort size") {
    val rows = q("r01_retention").collect()
      .map(r => (r.getAs[String]("cohort_week"), r.getAs[Long]("weeks_since"),
        r.getAs[Long]("users")))
    val base = rows.filter(_._2 == 0L).map(t => t._1 -> t._3).toMap
    rows.foreach { case (c, _, n) =>
      assert(n <= base(c), s"cohort $c cell $n > base ${base(c)}")
    }
  }

  // --- f01_funnel ----------------------------------------------------

  test("funnel stages are monotone non-increasing") {
    val r = q("f01_funnel").collect().head
    val (v, c, p) = (r.getAs[Long]("users_view"),
      r.getAs[Long]("users_click"), r.getAs[Long]("users_purchase"))
    assert(v >= c && c >= p, s"funnel $v -> $c -> $p must narrow")
    assert(v > 0, "synthetic events contain views")
  }

  test("funnel ordering matters: stage-2 users all have a view at-or-before a click") {
    // recompute stage-2 membership independently with a self-join
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        floor(col("ts").cast("double")).cast("long").as("s"))
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("s").as("t1"))
    val expected = e.filter(col("event_type") === "click")
      .join(views, "user_id")
      .filter(col("s") >= col("t1"))
      .select("user_id").distinct().count()
    val got = q("f01_funnel").collect().head.getAs[Long]("users_click")
    assert(got === expected)
  }

  // --- w04_sessionize ------------------------------------------------

  test("sessionize: event counts sum to table size; session ids are dense from 1") {
    val rows = q("w04_sessionize").collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, sf).count())
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val ids = rs.map(_.getAs[Long]("session_id")).sorted
      assert(ids.head === 1L && ids === (1L to ids.length).toArray.toSeq,
        "per-user session ids must be 1..n with no gaps")
    }
  }

  test("sessionize: singleton sessions have zero duration, multi-event ones respect the gap") {
    q("w04_sessionize").collect().foreach { r =>
      val (n, dur) = (r.getAs[Long]("n_events"), r.getAs[Long]("duration_s"))
      if (n == 1L) assert(dur === 0L)
      else assert(dur >= 0L && dur <= (n - 1) * Analytics.SessionGapSec,
        s"$n events cannot span more than (n-1) max gaps")
    }
  }

  // --- lm01_unigram_lm -----------------------------------------------

  test("unigram LM: every doc scored, nll positive, rare-token docs score higher") {
    val rows = q("lm01_unigram_lm").collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    assert(rows.forall(_.getAs[Double]("avg_nll") > 0.0),
      "probabilities < 1 make -ln positive")
    // the corpus-wide mean nll must sit below ln(N+V) (the score of a
    // token never seen once) — sanity that the model is actually used
    val n = Tables.documents(spark, sf)
      .select(explode(expr(TextAnalysis.tokensExpr)).as("t")).count()
    rows.foreach(r => assert(r.getAs[Double]("avg_nll") < math.log(n.toDouble + 1)))
  }

  // --- dd11_substring_dup --------------------------------------------

  test("substring dup: fractions in [0,1], dup grams <= total grams, planted dup detected") {
    val rows = q("dd11_substring_dup").collect()
    rows.foreach { r =>
      val (n, dup, f) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams"),
        r.getAs[Double]("dup_frac"))
      assert(dup <= n && f >= 0.0 && f <= 1.0)
    }
    // exact-duplicate texts exist in the synthetic corpus (dd01's
    // subject) — those docs must show 100% span duplication
    val dupDocs = Tables.documents(spark, sf)
      .groupBy("text").count().filter(col("count") >= 2).count()
    if (dupDocs > 0)
      assert(rows.exists(_.getAs[Double]("dup_frac") == 1.0),
        "full-text duplicates must be fully span-duplicated")
  }

  // --- dd21_dup_span_scale ---------------------------------------------

  test("dup span scale: monotone down the ladder, max_scale consistent, exact dups saturate") {
    val rows = q("dd21_dup_span_scale").collect()
    rows.foreach { r =>
      val (n, d8, d16, d32, ms) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("d8"),
        r.getAs[Long]("d16"), r.getAs[Long]("d32"), r.getAs[Int]("max_scale"))
      // a duplicated 32-gram's start position also starts a duplicated
      // 16-gram and 8-gram (prefix containment) — counts are monotone
      // non-increasing up the ladder
      assert(d32 <= d16 && d16 <= d8, s"ladder not monotone: $r")
      assert(d8 <= math.max(0L, n - 8 + 1), s"more dup positions than positions: $r")
      val expectedMs = if (d32 > 0) 32 else if (d16 > 0) 16 else if (d8 > 0) 8 else 0
      assert(ms == expectedMs, s"max_scale inconsistent: $r")
    }
    // exact-duplicate texts (dd01's subject) saturate every scale
    // their length supports
    val dupTexts = Tables.documents(spark, sf)
      .groupBy("text").agg(count(lit(1)).as("c"),
        min(expr("size(filter(split(lower(text), ' +'), t -> t <> ''))")).as("len"))
      .filter(col("c") >= 2 && col("len") >= 32).count()
    if (dupTexts > 0)
      assert(rows.exists(_.getAs[Int]("max_scale") == 32),
        "full-text duplicates of length >= 32 must saturate the ladder")
  }

  // --- r02_transitions -----------------------------------------------

  test("transitions: rows per from_type sum to probability 1 and pair counts to n-1 per user") {
    val rows = q("r02_transitions").collect()
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (ft, rs) =>
      val pSum = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"$ft probabilities sum to $pSum")
    }
    // total transition count = sum over users of (events - 1)
    val expected = Tables.events(spark, sf)
      .groupBy("user_id").count()
      .agg(sum(expr("count - 1"))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n")).sum === expected)
  }

  // --- ts01_gapfill --------------------------------------------------

  test("gapfill: complete hour spine per line, zero-filled counts sum to table size") {
    val rows = q("ts01_gapfill").collect()
    val lines = rows.map(_.getAs[String]("line")).distinct
    val perLine = rows.groupBy(_.getAs[String]("line")).view.mapValues(_.length).toMap
    // every line covers the same full spine
    assert(perLine.values.toSet.size === 1, s"unequal spine coverage: $perLine")
    assert(rows.map(_.getAs[Long]("n_events")).sum ===
      Tables.events(spark, sf).count())
    assert(lines.nonEmpty)
  }

  test("gapfill: ffill value on an empty hour equals the previous non-empty hour's mean") {
    val rows = q("ts01_gapfill").collect()
      .groupBy(_.getAs[String]("line")).view.mapValues(_.sortBy(_.getAs[String]("hour_ts")))
    rows.foreach { case (_, rs) =>
      var lastNonEmpty: Option[Double] = None
      rs.foreach { r =>
        val filled = Option(r.getAs[java.lang.Double]("avg_value_ffill")).map(_.doubleValue)
        if (r.getAs[Long]("n_events") == 0L) {
          assert(filled === lastNonEmpty, "empty hour must carry the last observation")
        } else lastNonEmpty = filled
      }
    }
  }

  // --- dq03_anomaly --------------------------------------------------

  test("anomaly: flagged rows are a small tail and every |z| exceeds 3") {
    val rows = q("dq03_anomaly").collect()
    val total = Tables.events(spark, sf).count()
    rows.foreach(r => assert(math.abs(r.getAs[Double]("z")) > 3.0))
    // 3-sigma two-tailed mass is ~0.27% for gaussian-ish data; allow 5%
    assert(rows.length < total * 0.05, s"${rows.length} of $total flagged")
  }

  test("anomaly: degenerate groups (n=1, constant-valued) emit nothing instead of NaN/Inf z") {
    import spark.implicits._
    val dir = TempDirs.create("graft-dq03-degenerate").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // "solo": one row (sd undefined); "flat": constant values (sd=0);
    // "real": a populated group with one obvious outlier
    val rows =
      Seq((1L, "solo", 5.0)) ++
      (2L to 11L).map(i => (i, "flat", 7.5)) ++
      // outlier stays inside dq03's DECIMAL(18,6) window for value²
      ((12L to 41L).map(i => (i, "real", 10.0 + (i % 3) * 0.1)) :+ (42L, "real", 1000.0))
    rows.map { case (id, t, v) => (id, t, v, t0) }
      .toDF("event_id", "event_type", "value", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("dq03_anomaly")(spark, dir).collect()
    assert(out.nonEmpty, "the planted outlier must be flagged")
    out.foreach { r =>
      val z = r.getAs[Double]("z")
      assert(!z.isNaN && !z.isInfinite, s"degenerate z leaked: $z")
      assert(r.getAs[String]("line") === "real")
    }
  }

  // --- ds05_curriculum -----------------------------------------------

  test("curriculum: positions are a permutation, stages are contiguous quartiles, score non-decreasing") {
    val rows = q("ds05_curriculum").collect()
    val n = rows.length
    assert(n === Tables.documents(spark, sf).count())
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq === (1L to n).toSeq)
    val byPos = rows.sortBy(_.getAs[Long]("pos"))
    byPos.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("score") <= b.getAs[Double]("score"))
      assert(a.getAs[Int]("stage") <= b.getAs[Int]("stage"))
    }
    val sizes = rows.groupBy(_.getAs[Int]("stage")).view.mapValues(_.length).toMap
    assert(sizes.keySet === Set(1, 2, 3, 4))
    assert(sizes.values.max - sizes.values.min <= 1, s"stage sizes $sizes")
  }

  // --- g01_pagerank --------------------------------------------------

  test("pagerank: probability mass is conserved and ranks are positive") {
    val rows = q("g01_pagerank").collect()
    assert(rows.nonEmpty, "the sf0.001 corpus contains near-dup pairs")
    rows.foreach(r => assert(r.getAs[Double]("pagerank") > 0.0))
    // no dangling nodes (every graph node has degree >= 1), so the
    // power iteration conserves total mass 1 up to rounding
    val mass = rows.map(_.getAs[Double]("pagerank")).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"mass $mass")
  }

  // --- cur05_keep_best -----------------------------------------------

  test("keep-best: survivor belongs to its cluster and has the cluster-max quality") {
    val clusters = q("dd07_dup_clusters").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    val rows = q("cur05_keep_best").collect()
    assert(rows.nonEmpty)
    val sizes = clusters.groupBy(_._2).view.mapValues(_.size).toMap
    rows.foreach { r =>
      val (rep, best, n) = (r.getAs[Long]("cluster_rep"),
        r.getAs[Long]("best_doc"), r.getAs[Long]("n_members"))
      assert(clusters.get(best).contains(rep), s"survivor $best not in cluster $rep")
      assert(n >= 2, "a dup cluster has at least two members")
      assert(n === sizes(rep).toLong)
    }
  }

  // --- z01_zorder_layout ---------------------------------------------

  test("z-order files are tight on BOTH keys at once — the min-max skipping payoff") {
    val rows = q("z01_zorder_layout").collect()
    assert(rows.length === Layout.ZFiles)
    val li = Tables.lineitem(spark, sf)
      .agg(expr("max(l_partkey) - min(l_partkey)"), expr("max(l_suppkey) - min(l_suppkey)"))
      .collect().head
    val (pRange, sRange) = (li.getLong(0).toDouble, li.getLong(1).toDouble)
    // average per-file span must be far below the full range on both
    // dims simultaneously (a single-column sort would leave the OTHER
    // column's span at ~the full range in every file)
    val pAvg = rows.map(_.getAs[Long]("partkey_span")).sum.toDouble / rows.length
    val sAvg = rows.map(_.getAs[Long]("suppkey_span")).sum.toDouble / rows.length
    assert(pAvg < pRange / 4, s"partkey avg span $pAvg vs range $pRange")
    // tightness below the file count is only possible when the key's
    // range exceeds it (at sf0.001 only ~10 suppliers exist, so every
    // file necessarily sees most of them)
    if (sRange >= 4 * Layout.ZFiles)
      assert(sAvg < sRange / 4, s"suppkey avg span $sAvg vs range $sRange")
    // z ranges of consecutive files are disjoint (it IS a clustering)
    val byFile = rows.sortBy(_.getAs[Int]("file_id"))
    byFile.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("z_max") <= b.getAs[Long]("z_min"),
        "files must be contiguous, non-overlapping z ranges")
    }
    // row counts are balanced (equal-height split)
    assert(rows.map(_.getAs[Long]("n_rows")).toSet.size <= 2)
  }

  test("hilbert index is a bijective, step-adjacent space-filling curve on a full grid") {
    import spark.implicits._
    val n = 16 // the 16×16 low-coordinate block of the 2^ZBits grid
    val gridDf = (0 until n).flatMap(x => (0 until n).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
      .withColumn("h", expr("hilbert_index(x, y)"))
      .withColumn("h_ref", expr(Layout.hilbertExpr("x", "y")))
    // the codegen loop and the reference HOF fold are bit-equal
    assert(gridDf.filter(col("h") =!= col("h_ref")).count() === 0L)
    val grid = gridDf
      .collect().map(r => ((r.getAs[Long]("x"), r.getAs[Long]("y")), r.getAs[Long]("h")))
    // the block contains the curve's start: its 256 cells map exactly
    // onto positions 0..255 (bijectivity + completeness of the fold)
    assert(grid.map(_._2).sorted.toSeq === (0L until (n.toLong * n)).toSeq)
    // consecutive curve positions are grid-adjacent (|dx|+|dy| = 1) —
    // the locality guarantee z-order lacks at quadrant seams
    grid.sortBy(_._2).map(_._1).sliding(2).foreach { case Array((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L, s"($x1,$y1)->($x2,$y2)")
    }
  }

  test("hilbert files are tight, contiguous, and balanced (z02)") {
    val rows = q("z02_hilbert_layout").collect()
    assert(rows.length === Layout.ZFiles)
    val byFile = rows.sortBy(_.getAs[Int]("file_id"))
    byFile.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("h_max") <= b.getAs[Long]("h_min"),
        "files must be contiguous, non-overlapping hval ranges")
    }
    assert(rows.map(_.getAs[Long]("n_rows")).toSet.size <= 2)
    val li = Tables.lineitem(spark, sf)
      .agg(expr("max(l_partkey) - min(l_partkey)")).collect().head
    val pAvg = rows.map(_.getAs[Long]("partkey_span")).sum.toDouble / rows.length
    assert(pAvg < li.getLong(0).toDouble / 4, s"partkey avg span $pAvg")
  }

  test("z-order skips files under a key predicate where a row-order layout cannot") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
        col("l_partkey").cast("long"), col("l_suppkey").cast("long"))
      .withColumn("zval", expr(Layout.zvalExpr("l_partkey", "l_suppkey")))
      .collect()
    val nFiles = 32
    val fileSize = math.ceil(rows.length / nFiles.toDouble).toInt
    def ranges(sorted: Seq[org.apache.spark.sql.Row]) =
      sorted.grouped(fileSize).map { f =>
        val ks = f.map(_.getAs[Long]("l_partkey"))
        (ks.min, ks.max)
      }.toSeq
    val zLayout = ranges(rows.sortBy(r =>
      (r.getAs[Long]("zval"), r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_linenumber"))))
    val rowLayout = ranges(rows.sortBy(r =>
      (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_linenumber"))))
    // a partkey window 1/32 of the key range — the shape a min-max
    // index answers per file
    val all = rows.map(_.getAs[Long]("l_partkey"))
    val (kMin, kMax) = (all.min, all.max)
    val w = math.max(1L, (kMax - kMin) / nFiles)
    val (pLo, pHi) = (kMin + 10 * w, kMin + 11 * w)
    def hit(rs: Seq[(Long, Long)]) = rs.count { case (lo, hi) => hi >= pLo && lo <= pHi }
    val (zHit, rowHit) = (hit(zLayout), hit(rowLayout))
    // the row-order layout scans essentially everything; z-order reads
    // a small fraction of the files
    assert(rowHit >= nFiles * 3 / 4, s"row layout hit $rowHit")
    assert(zHit <= nFiles / 4, s"z layout hit $zHit of $nFiles")
  }

  // --- sim08_range_search --------------------------------------------

  test("range search returns exactly the tau-ball and agrees with brute-force kNN scores") {
    val rows = q("sim08_range_search").collect()
    assert(rows.forall(_.getAs[Double]("cosine") >= Similarity.RangeTau))
    // cross-check against sim01: any kNN neighbor with cos >= tau must
    // appear in the range result with the identical rounded score
    val knn = q("sim01_knn").collect()
      .filter(_.getAs[Double]("cosine") >= Similarity.RangeTau)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    val range = rows.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    knn.foreach { case (k, cos) =>
      assert(range.get(k).contains(cos), s"kNN pair $k missing from range result")
    }
  }
}
