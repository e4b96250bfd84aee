package graft.tools

/** Per-query COLD benchmark: every catalog query timed from a cold
  * start (shared memo frames dropped, cached relations unpersisted,
  * a GC between queries), so the numbers attribute each operator's
  * own work — unlike the driver's warm `graft.Bench`, where the
  * first query in Map order to touch a shared memo pays its build
  * (e.g. `j02_sortmerge_join` showing 9.27 s warm vs 0.97 s cold in
  * round 2).
  *
  * Protocol mirrors `ScaleStress`: min of two full cold sweeps —
  * single shots carried up to 30× one-off noise (GC pauses,
  * first-plan JIT), while best-of-2 WITHOUT the reset times memo
  * cache hits instead of the operator.
  *
  * Usage: `tools/run.sh graft.tools.BenchCold BENCH_COLD_r3.json`
  * (dataset from SPARK_GRAFT_SF_DIR, default sf0.1).
  */
object BenchCold {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("BENCH_COLD.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Session.local(cpus.toInt)

    def coldReset(): Unit = {
      graft.ops.Relational.clearMemo(spark)
      graft.ops.Dedup.clearMemo(spark)
      spark.catalog.clearCache()
      System.gc()
    }

    // Quiet-machine guard (round-4 lesson: contention-polluted
    // artifacts read as phantom regressions) — wait for loadavg to
    // settle, annotate the artifact either way.
    val (load0, loadOk) = LoadGuard.awaitQuiet()
    // Calibration gate (round-8 lesson: two cold sweeps ran a uniform
    // ~1.5× slower than round 7 on identical code while loadavg read
    // quiet — host throughput, invisible to loadavg, fully visible to
    // a fixed CPU loop). Wait for the host to return to the healthy
    // band; if it never does, the artifact is stamped calib_ok=false
    // and carries the normalization factor so a reader can discount.
    val calib0 = LoadGuard.awaitCalibrated()

    // Warm the JVM once (codegen, parquet reader, shuffle machinery);
    // the per-query resets below only drop DATA caches, not JIT state.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try { graft.SparkEntry.entry(spark).count() } catch { case _: Throwable => () }

    // Full AXIS gate, shared with the warm bench (round 12: three
    // degraded cold captures in one afternoon slipped past the
    // CPU-only calibration band above — the contention was memory-
    // bandwidth- and trivial-scan-shaped, which awaitCalibrated never
    // sees). Wait for all three axes to enter the best-ever band
    // (BENCH_AXES.json); if the host never recovers, sweep anyway and
    // stamp axes_ok=false so the artifact self-labels.
    def trivialProbe(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
      (System.nanoTime() - t0) / 1e6
    }
    trivialProbe() // warm the probe itself
    val (axesOk, calib, trivialMs, axesCompound) =
      graft.Bench.awaitAxes(calib0, () => trivialProbe())
    coldReset()

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    // Mid-sweep axis windows (round-17 — graft.Bench.MidSampleEvery's
    // rationale): a cold sweep runs ~10 minutes, two full bandwidth
    // waves on this host; sample between queries against a baseline
    // taken right after the start gate, and refuse to roll the
    // comparison base when any window degraded.
    val midSampler = new LoadGuard.MemBwSampler()
    val midBwBase = math.max(midSampler.sample(), midSampler.sample())
    val midBw = scala.collection.mutable.ArrayBuffer.empty[Double]
    val midTrivial = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sinceSample = 0
    def sweep(): Map[String, Double] = names.map { name =>
      coldReset()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      sinceSample += 1
      if (sinceSample >= graft.Bench.MidSampleEvery) {
        sinceSample = 0
        midBw += midSampler.sample()
        midTrivial += trivialProbe()
      }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap

    val a = sweep()
    val b = sweep()
    val axesMidOk = graft.Bench.midWindowsOk(midBwBase, trivialMs,
      midBw.toSeq, midTrivial.toSeq)
    val best = names.map(n => n -> math.min(a(n), b(n)))
    val total = best.map(_._2).sum
    // Locale.ROOT — a comma-decimal default locale would corrupt the JSON
    val qs = best.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }.mkString("{", ",", "}")
    graft.Bench.ratchetAxes(calib, trivialMs,
      inBand = axesOk && axesCompound <= graft.Bench.AxesTightMax && axesMidOk)
    val axisJson = String.format(java.util.Locale.ROOT,
      ""","trivial_scan_ms":%.1f,"axes_ok":%b,"axes_compound":%.3f,"axes_tight":%b,"axes_mid_ok":%b,"mid_n":%d,"mid_bw_base":%.1f,"mid_bw_min":%.1f,"mid_trivial_max":%.1f""",
      Double.box(trivialMs), Boolean.box(axesOk), Double.box(axesCompound),
      Boolean.box(axesCompound <= graft.Bench.AxesTightMax),
      Boolean.box(axesMidOk), Int.box(midBw.size),
      Double.box(midBwBase),
      Double.box(if (midBw.nonEmpty) midBw.min else -1.0),
      Double.box(if (midTrivial.nonEmpty) midTrivial.max else -1.0))
    // SELF-DESCRIBING cold artifact (round-15, VERDICT item 5): the
    // warm maps have carried n/common_n/common_ratio since round 11,
    // but the cold comparisons lived in SCALE_NOTES prose +
    // tools/cold_compare.py. Stamp the same summary block here, with
    // BENCH_COLD_last.json as the rolling comparison base (the
    // BENCH_FULL_last pattern) — kept fresh only by in-band captures,
    // so the ratio always reads against a clean cold base.
    val fp = graft.Bench.codeFingerprint()
    val resMap = best.toMap
    val prior = (try Some(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_COLD_last.json")),
      java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => None })
      .filter(_.contains("\"sf\":\"" + sfDir + "\""))
    val priorQueries = prior.map(graft.Bench.extractQueries).getOrElse(Map.empty)
    val common = resMap.keySet.intersect(priorQueries.keySet)
    val commonSum = common.toSeq.map(resMap).sum
    val priorCommonSum = common.toSeq.map(priorQueries).sum
    val commonRatio = if (priorCommonSum > 0) commonSum / priorCommonSum else 1.0
    // Per-phase breakdown for the maintenance-cycle entries (round-16,
    // VERDICT r15 item 8): the warm artifact has carried `phases` +
    // the graded ratio since round 14, but the COLD map reported only
    // opaque full-cycle walls, so cold round-over-round attribution of
    // maintenance-cost changes stayed prose-driven. Spans hold the
    // LAST recording — under min-of-2 cold sweeps, sweep 2's values,
    // the same regime the headline cold numbers report. The graded
    // ratio (write phases excluded — the host-bandwidth antenna)
    // rides next to the raw common ratio for the same degraded-host
    // reading the warm guard does.
    val phases = graft.Metrics.spansJson()
    val priorPhases = prior.map(graft.Bench.extractPhases).getOrElse(Map.empty)
    val gradedRatio = graft.Bench.gradedCommonRatio(resMap, priorQueries,
      graft.Bench.extractPhases(s"""{"phases":$phases}"""), priorPhases)
    val summaryJson =
      s""","n":${best.size},"common_n":${common.size},"common_sum":${graft.Bench.fmt(commonSum)},"common_ratio":${graft.Bench.fmt(commonRatio)},"graded_common_ratio":${graft.Bench.fmt(gradedRatio)},"code_fp":"$fp""""
    val json =
      s"""{"metric":"total_cold","value":$total,"unit":"sec","protocol":"min-of-2 cold sweeps, memo+cache cleared per query"${LoadGuard.jsonFields(load0, loadOk, calib)}$axisJson$summaryJson,"queries":$qs,"phases":$phases,"sf":"$sfDir"}"""
    val w = new java.io.PrintWriter(outPath)
    try w.println(json) finally w.close()
    // Roll the comparison base only when this capture is IN BAND —
    // a degraded capture must not become the thing future captures
    // normalize against (the warm guard's acceptance discipline).
    if (axesOk && axesCompound <= graft.Bench.AxesTightMax && axesMidOk)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_COLD_last.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    else System.err.println(
      f"[bench-cold] capture out of band (axes_ok=$axesOk%b, compound " +
        f"$axesCompound%.3f, axes_mid_ok=$axesMidOk%b, mid bw base " +
        f"$midBwBase%.1f min ${if (midBw.nonEmpty) midBw.min else -1.0}%.1f) — " +
        "keeping the prior BENCH_COLD_last.json base")
    println(json)
    spark.stop()
  }
}
