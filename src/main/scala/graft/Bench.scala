package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}


/** Benchmark entrypoint (driver contract).
  *
  * Runs every catalog query at `SPARK_GRAFT_SF_DIR` and prints ONE compact
  * JSON line. The harness that collects this output only keeps the last
  * ~2000 characters of the run log, so the line MUST stay short: per-query
  * timings are rounded to milliseconds and limited to a fixed headline
  * subset (one or two representative queries per operator family plus every
  * historically-heavy query). `value` is still the total across ALL catalog
  * queries, and `n` is the full catalog size, so round-over-round totals
  * remain comparable. The complete per-query map is written to
  * `BENCH_FULL_last.json` in the repo root for humans/judges who want the
  * long tail, and `tools/BenchCold` remains the attribution-noise-free
  * instrument (cold, memo-cleared, min-of-two).
  */
object Bench {
  /** Fixed headline subset — stable across rounds so per-query diffs work. */
  private[graft] val headline: Vector[String] = Vector(
    "q1_pricing", "q17_small_qty", "q18_big_orders",
    "a01_report", "a13_percentiles", "a15_approx_distinct",
    "j01_broadcast_join", "j02_sortmerge_join", "j08_asof_join",
    "j09_range_join", "j11_interval_join", "x03_intersect",
    "w01_lag", "o04_argmax", "p01_explode", "m01_haversine", "d01_dedup",
    "dd01_exact_dedup", "dd02_minhash_sig", "dd03_lsh_pairs", "dd04_simhash",
    "dd05_ngram_jaccard", "dd06_cosine_dup", "dd07_dup_clusters",
    "sim01_knn", "sim02_lsh_ann", "sim04_ivf_ann", "sim06_ivf2_ann",
    "tx01_token_stats", "tx07_tfidf", "df01_quality_gate", "ds03_context_pack",
    "st03_session_window", "sql03_recursive_cte", "mm01_media_features",
    "tx10_ngram_topk", "tx11_chunk_windows", "cur03_domain_mix",
    "ds04_epoch_shuffle", "dq01_expectations", "dq02_profile",
    "dd09_editdist_verify", "sim07_pq_adc",
    "dd10_decontaminate", "ivm01_delta_agg",
    "dd11_substring_dup", "lm01_unigram_lm", "w04_sessionize",
    "g01_pagerank", "g03_triangles", "dd12_snm_pairs", "ds07_leakage_safe_split",
    "tx13_bpe_vocab", "sim12_pq_train_eval",
    "st05_stream_neardup", "st06_stream_index_probe", "sim13_multiprobe_recall",
    "q2_min_cost_supp", "q9_product_profit", "q21_waiting_supplier",
    "cur07_perplexity_filter", "dd15_bucketed_probe", "j14_sketch_skew_join",
    "dd16_index_append", "dd17_index_compact",
    "dd18_index_retention", "st07_stream_index_maintain",
    "st08_stream_exactly_once", "sim14_ivf_index_probe",
    "st09_stream_ann_probe",
    "sim15_vec_index_append", "sim16_vec_index_compact",
    "sim17_vec_retention", "st10_stream_ann_maintain",
    "st11_selffence_replay", "sim18_ivfpq_probe",
    "st12_stream_pq_serving",
    "sim19_pq_lifecycle", "sim20_tombstone_retention", "sim21_trained_ivf",
    "dd19_tombstone_retention", "st13_stream_pq_maintain", "dq07_cell_drift",
    "dd20_auto_compact", "st14_stream_drift")

  // Locale.ROOT: the f-interpolator honors the default locale, and a
  // comma decimal separator would corrupt the JSON
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Stable fingerprint of src/main (sorted paths, content hash) —
    * stamped into the artifact so a total swing with NO code delta is
    * detectable as measurement noise rather than a regression. Caveat:
    * this hashes the sources on disk, not the compiled classes actually
    * running, so an edit without a recompile can mislabel a swing; the
    * driver always recompiles before benching, which keeps them in sync. */
  private[graft] def codeFingerprint(): String =
    try {
      val root = Paths.get("src/main")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val walk = Files.walk(root)
      val paths =
        try {
          val it = walk.iterator()
          val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
          while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) buf += p }
          buf
        } finally walk.close()
      paths.sortBy(_.toString).foreach { p =>
        md.update(p.toString.getBytes(StandardCharsets.UTF_8))
        md.update(Files.readAllBytes(p))
      }
      md.digest().map(b => f"$b%02x").mkString.take(16)
    } catch { case _: Throwable => "unknown" }

  private[graft] def extractField(json: String, field: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + field + "\":\"?([0-9a-zA-Z.\\-]+)\"?").matcher(json)
    if (m.find()) Some(m.group(1)) else None
  }

  /** The prior artifact's full per-query map — the axis-aware guard's
    * comparison base. Extracting it from the flat `"name":sec` layout
    * needs no JSON library; only the `queries` object is scanned. */
  private[graft] def extractQueries(json: String): Map[String, Double] = {
    val start = json.indexOf("\"queries\":{")
    if (start < 0) Map.empty
    else {
      val sub = json.substring(start + 11, json.indexOf('}', start))
      val m = java.util.regex.Pattern
        .compile("\"([A-Za-z0-9_]+)\":(-?[0-9.]+)").matcher(sub)
      val buf = scala.collection.mutable.Map.empty[String, Double]
      while (m.find()) buf(m.group(1)) = m.group(2).toDouble
      buf.toMap
    }
  }

  /** The prior artifact's per-phase map (`"phases":{"dd17":{"persist":
    * 3.11,…},…}`) — nested one level, parsed with the same no-library
    * discipline as [[extractQueries]]. */
  private[graft] def extractPhases(json: String): Map[String, Map[String, Double]] = {
    val start = json.indexOf("\"phases\":{")
    if (start < 0) Map.empty
    else {
      // the phases object nests one level: scan to its matching brace
      var i = start + 9
      var depth = 0
      var end = -1
      while (end < 0 && i < json.length) {
        json.charAt(i) match {
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      if (end < 0) Map.empty
      else {
        val sub = json.substring(start + 10, end)
        val tagPat = java.util.regex.Pattern
          .compile("\"([A-Za-z0-9_]+)\":\\{([^}]*)\\}").matcher(sub)
        val out = scala.collection.mutable.Map.empty[String, Map[String, Double]]
        while (tagPat.find()) {
          val inner = java.util.regex.Pattern
            .compile("\"([A-Za-z0-9_]+)\":(-?[0-9.]+)").matcher(tagPat.group(2))
          val m = scala.collection.mutable.Map.empty[String, Double]
          while (inner.find()) m(inner.group(1)) = inner.group(2).toDouble
          out(tagPat.group(1)) = m.toMap
        }
        out.toMap
      }
    }
  }

  /** Phases whose wall time is raw bucketed-parquet WRITE I/O
    * (fixture rebuild + ingest), not the graded operator decision —
    * the host-bandwidth antenna the guard must not listen to
    * (round-14, VERDICT r13 item 3: the maintenance-cycle fixtures
    * are ~18% of total wall and dominated by these phases, so every
    * host-bandwidth wobble read as a bench swing). */
  private[graft] val WritePhases = Set("persist", "append")

  /** GRADED common-subset ratio: like the raw common ratio, but a
    * query with a per-phase breakdown in BOTH artifacts contributes
    * only its graded phases (probe/compact/retire/replay/… — every
    * phase not in [[WritePhases]]); queries without phase rows
    * contribute their full wall. This is the ratio the acceptance
    * guard trusts on a degraded host: raw write-phase wall moves
    * with host bandwidth, the graded phases move with the code. */
  private[graft] def gradedCommonRatio(
      cur: Map[String, Double], prior: Map[String, Double],
      curPhases: Map[String, Map[String, Double]],
      priorPhases: Map[String, Map[String, Double]]): Double = {
    val common = cur.keySet.intersect(prior.keySet)
      .filter(k => cur(k) >= 0 && prior(k) >= 0)
    def graded(q: String,
        phases: Map[String, Map[String, Double]]): Option[Double] =
      phases.collectFirst {
        case (tag, ps) if q.startsWith(tag + "_") && ps.nonEmpty =>
          ps.collect { case (p, v) if !WritePhases(p) => v }.sum
      }.filter(_ > 0)
    val pairs = common.toSeq.map { q =>
      (graded(q, curPhases), graded(q, priorPhases)) match {
        // graded lane only when BOTH sides have phase rows — a
        // one-sided breakdown would compare a phase sum to full wall
        case (Some(c), Some(p)) => (c, p)
        case _                  => (cur(q), prior(q))
      }
    }
    val priorSum = pairs.map(_._2).sum
    if (priorSum > 0) pairs.map(_._1).sum / priorSum else 1.0
  }

  /** Rolling best-observed host axes (BENCH_AXES.json): the minimum
    * all-core CPU reference, minimum trivial-scan, and maximum memory
    * bandwidth any accepted sweep has measured on this box. This is
    * the guard's reference — comparing against the PRIOR ARTIFACT's
    * axes would let a polluted artifact (the round-11 blemish: 105.2 ms
    * all-core / 320 ms trivial committed as final) redefine "healthy"
    * downward; the best-ever record only ratchets toward health. */
  private[graft] case class AxesRef(allCoreMs: Double, trivialMs: Double, memBwGbps: Double)

  private val AxesPath = Paths.get("BENCH_AXES.json")

  private def readAxesRef(): Option[AxesRef] =
    try {
      val s = new String(Files.readAllBytes(AxesPath), StandardCharsets.UTF_8)
      for {
        a <- extractField(s, "best_all_core_ms").flatMap(_.toDoubleOption)
        t <- extractField(s, "best_trivial_scan_ms").flatMap(_.toDoubleOption)
        b <- extractField(s, "best_mem_bw_gbps").flatMap(_.toDoubleOption)
      } yield AxesRef(a, t, b)
    } catch { case _: Throwable => None }

  /** Bounded history of axes from ACCEPTED in-band sweeps (newest
    * last, capped at [[AxesHistoryMax]]). The round-14 session showed
    * the pure best-ever reference can STRAND the gate: one lucky
    * snapshot (mem_bw 123.3 GB/s) set a band the host did not revisit
    * for the following hour, so two cold sweeps whose per-query
    * numbers were FLAT against the clean base still timed out and
    * self-labeled degraded. The gate therefore compares against the
    * component-wise MEDIAN of this history once it holds
    * [[AxesHistoryMin]] entries (best-ever until then): a single
    * lucky — or polluted — capture moves a median of 8 very little,
    * and only in-band captures may append, so "healthy" can drift
    * only gradually and only through sweeps the band itself
    * accepted. The best-ever fields stay recorded for reference. */
  private[graft] val AxesHistoryMax = 8
  private[graft] val AxesHistoryMin = 3

  private def readAxesHistory(): Seq[AxesRef] =
    try {
      val s = new String(Files.readAllBytes(AxesPath), StandardCharsets.UTF_8)
      val arr = """"history":\[(.*?)\]""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      """\{[^}]*\}""".r.findAllIn(arr).toSeq.flatMap { obj =>
        for {
          a <- extractField(obj, "a").flatMap(_.toDoubleOption)
          t <- extractField(obj, "t").flatMap(_.toDoubleOption)
          b <- extractField(obj, "b").flatMap(_.toDoubleOption)
        } yield AxesRef(a, t, b)
      }
    } catch { case _: Throwable => Seq.empty }

  /** The reference the gate compares against: component-wise median
    * of the in-band history when it is deep enough, else best-ever. */
  private[graft] def gatingRef(best: Option[AxesRef], history: Seq[AxesRef]): Option[AxesRef] = {
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    if (history.size >= AxesHistoryMin)
      Some(AxesRef(med(history.map(_.allCoreMs)), med(history.map(_.trivialMs)),
        med(history.map(_.memBwGbps))))
    else best
  }

  private def writeAxesRef(r: AxesRef, history: Seq[AxesRef]): Unit =
    try {
      def f(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      val hist = history.takeRight(AxesHistoryMax)
        .map(h => s"""{"a":${f(h.allCoreMs)},"t":${f(h.trivialMs)},"b":${f(h.memBwGbps)}}""")
        .mkString("[", ",", "]")
      Files.write(AxesPath,
        (s"""{"best_all_core_ms":${f(r.allCoreMs)},"best_trivial_scan_ms":${f(r.trivialMs)},"best_mem_bw_gbps":${f(r.memBwGbps)},"history":$hist}""" + "\n")
          .getBytes(StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }

  /** Degradation-direction band check: axes are "in band" when none
    * sits more than 10% WORSE than the best-ever reference (better
    * than the reference is always fine — it just ratchets the
    * record). A missing reference or a failed probe (-1) passes. */
  private[graft] def axesInBand(ref: Option[AxesRef], allCore: Double,
      trivial: Double, memBw: Double): Boolean = ref.forall { r =>
    allCore <= r.allCoreMs * 1.10 &&
      trivial <= r.trivialMs * 1.10 &&
      (memBw < 0 || r.memBwGbps <= 0 || memBw >= r.memBwGbps * 0.90)
  }

  /** COMPOUND axis-drift ratio (round-14, VERDICT r13 item 8): the
    * product of each axis's worse-direction ratio vs the best-ever
    * reference, clamped at 1 per axis so a better-than-best axis
    * never masks a degraded one. The round-13 222-entry warm
    * supplement passed the per-axis 10% bands with EVERY axis at the
    * worse edge — individually in band, compounding to >1.1× of
    * uniform host drift that then read as in-band bench movement.
    * The per-axis band stays the `axes_ok` GATE (this box's probes
    * wobble ±10% run to run — mem_bw sampled 66/89/81 GB/s in three
    * consecutive idle probes, so a hard compound gate would flap);
    * the compound ratio is STAMPED (`axes_compound`, with
    * `axes_tight` = compound ≤ [[AxesTightMax]]) so a band-edge
    * capture self-labels as degraded, and the acceptance guard
    * treats compound > [[AxesCompoundSuspect]] like axes_ok=false. */
  private[graft] def axesCompound(ref: Option[AxesRef], allCore: Double,
      trivial: Double, memBw: Double): Double = ref.fold(1.0) { r =>
    def worse(cur: Double, best: Double) =
      if (cur <= 0 || best <= 0) 1.0 else math.max(1.0, cur / best)
    worse(allCore, r.allCoreMs) * worse(trivial, r.trivialMs) *
      (if (memBw < 0 || r.memBwGbps <= 0) 1.0
       else math.max(1.0, r.memBwGbps / memBw))
  }

  private[graft] val AxesTightMax = 1.10
  private[graft] val AxesCompoundSuspect = 1.15

  // ------------------------------------------------------------------
  // MID-SWEEP axis windows (round-17, VERDICT r16 item 1): the r16
  // driver sweep passed the start-of-run snapshot gate (compound
  // 1.012) yet landed a common-236 ratio of 1.185 — the host's
  // bandwidth band degraded DURING the ~4-minute sweep (SCALE_NOTES:
  // 13.8–113.9 GB/s waves on a ~5-minute period, exactly the shape a
  // start snapshot cannot see). Every [[MidSampleEvery]] queries the
  // sweep now re-samples memory bandwidth (a resident
  // LoadGuard.MemBwSampler — cheap, GC-free) and the trivial scan,
  // and compares each window against a BASELINE taken with the same
  // probes right after the start gate passed. A sweep with any
  // degraded window self-labels (`axes_mid_ok=false`) and the
  // acceptance guard treats it like axes_ok=false. Thresholds: the
  // observed polluted bands sit at ≤0.59× the healthy baseline while
  // healthy wobble stays ≥0.78× (round-15/16 refusal ledger), so the
  // 0.65 floor separates them with margin on both sides; the trivial
  // scan gets a loose 1.6× ceiling — it runs right after a heavy
  // query's GC tail, so a tight band would flap.
  // ------------------------------------------------------------------
  private[graft] val MidSampleEvery = 30
  private[graft] val MidBwFloor = 0.65
  private[graft] val MidTrivialCeil = 1.6

  /** Are all mid-sweep windows within band of the sweep-start
    * baseline? Failed probes (-1) and a missing baseline pass — the
    * gate degrades to the start snapshot, never blocks on a broken
    * probe. */
  private[graft] def midWindowsOk(bwBase: Double, trivialBase: Double,
      bws: Seq[Double], trivials: Seq[Double]): Boolean =
    bws.forall(b => b < 0 || bwBase <= 0 || b >= bwBase * MidBwFloor) &&
      trivials.forall(t => t < 0 || trivialBase <= 0 || t <= trivialBase * MidTrivialCeil)

  /** The shared axis GATE: starting from `firstCalib`, wait up to 10
    * minutes for all three host axes (all-core CPU ref, trivial scan,
    * memory bandwidth) to enter the best-ever band before a sweep.
    * Returns (axesOk, calibration, trivialMs); ratchets nothing.
    * Shared with `tools/BenchCold` — round 12's three
    * degraded cold captures in one afternoon (mem_bw 35–68 GB/s vs
    * the 82–84 band, every swing host-attributed by cold_compare)
    * showed the cold instrument needs this gate as much as the warm
    * one; its old guard banded only the CPU reference. */
  private[graft] def awaitAxes(firstCalib: graft.tools.LoadGuard.Calibration,
      trivialProbe: () => Double): (Boolean, graft.tools.LoadGuard.Calibration, Double, Double) = {
    val axesRef = gatingRef(readAxesRef(), readAxesHistory())
    var calibNow = firstCalib
    var trivialMs = Seq.fill(3)(trivialProbe()).min
    def okNow() = axesInBand(axesRef, calibNow.cpuRefAllCoreMs, trivialMs,
      calibNow.memBwGbps)
    def compoundNow() = axesCompound(axesRef, calibNow.cpuRefAllCoreMs,
      trivialMs, calibNow.memBwGbps)
    var axesOk = okNow()
    var compound = compoundNow()
    val gateDeadline = System.nanoTime() + 600L * 1000000000L
    // wait for TIGHT (per-axis band AND compound ≤ AxesTightMax) but
    // settle for the per-axis band at the deadline — see axesCompound
    while ((!axesOk || compound > AxesTightMax) && System.nanoTime() < gateDeadline) {
      System.err.println(f"[bench] axes out of band vs best-ever " +
        f"(all_core ${calibNow.cpuRefAllCoreMs}%.1f ms, trivial $trivialMs%.1f ms, " +
        f"mem_bw ${calibNow.memBwGbps}%.1f GB/s, compound $compound%.3f vs $axesRef) — waiting")
      Thread.sleep(30000)
      calibNow = graft.tools.LoadGuard.calibrate()
      trivialMs = Seq.fill(3)(trivialProbe()).min
      axesOk = okNow()
      compound = compoundNow()
    }
    (axesOk, calibNow, trivialMs, compound)
  }

  /** Ratchet the best-axes record toward health (any run may improve
    * it; a degraded run never worsens it), and — when the session's
    * axes were IN BAND — append them to the rolling history the gate
    * medians over ([[gatingRef]]'s anti-stranding design). */
  private[graft] def ratchetAxes(calibNow: graft.tools.LoadGuard.Calibration,
      trivialMs: Double, inBand: Boolean = false): Unit = {
    val axesRef = readAxesRef()
    // Append only when every probed axis is VALID: axesInBand
    // deliberately passes a failed mem_bw probe (LoadGuard's OOM
    // fallback stamps -1), but such a session must not enter the
    // gating history — enough -1 entries drive the component-wise
    // median ≤ 0 and permanently disable the mem-bw band.
    val axesValid = calibNow.memBwGbps > 0 && calibNow.cpuRefAllCoreMs > 0 && trivialMs > 0
    val history = readAxesHistory() ++
      (if (inBand && axesValid)
         Seq(AxesRef(calibNow.cpuRefAllCoreMs, trivialMs, calibNow.memBwGbps))
       else Seq.empty)
    writeAxesRef(AxesRef(
      axesRef.fold(calibNow.cpuRefAllCoreMs)(r => math.min(r.allCoreMs, calibNow.cpuRefAllCoreMs)),
      axesRef.fold(trivialMs)(r => math.min(r.trivialMs, trivialMs)),
      axesRef.fold(calibNow.memBwGbps)(r => math.max(r.memBwGbps, calibNow.memBwGbps))),
      history)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt)
    // Quiet-machine guard: wait for ambient load to settle and stamp
    // the artifact so contention-polluted totals are self-labelling
    // (round-4 lesson — see tools/LoadGuard; threshold tightened to
    // 1.0 after round 6's loadavg-3.61 sweep passed at 4.0 and read
    // as a phantom 53% regression).
    val (load0, loadOk) = graft.tools.LoadGuard.awaitQuiet()
    // Calibration measured HERE — at sweep start, after the quiet
    // wait — and carried as a value into the artifact (round-8
    // lesson: a post-sweep re-measure stamps the wrong host state).
    val calib = graft.tools.LoadGuard.calibrate()
    // Warm the JVM (codegen, parquet reader, shuffle machinery) once
    // so per-query timings measure the queries, not session startup.
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    // Min-of-2 full sweeps (round-6 lesson, mirroring BenchCold): a
    // single warm sweep carries one-off noise — GC pauses, ambient
    // load spikes — that min-of-2 mostly cancels.
    // A sweep records -1 for a query that threw; when combining, a
    // negative timing is MISSING, not fast — fall back to the other
    // sweep's value so a transient one-sweep failure can't shave ~1 s
    // off the total unnoticed, and surface any query that failed both.
    // Mid-sweep axis windows (see MidSampleEvery): sampled BETWEEN
    // queries, so the overhead lands in wall clock only, never in any
    // per-query timing or the total.
    val midSampler = new graft.tools.LoadGuard.MemBwSampler()
    val midBw = scala.collection.mutable.ArrayBuffer.empty[Double]
    val midTrivial = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sinceSample = 0
    def sweep(trivialProbe: () => Double): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        sinceSample += 1
        if (sinceSample >= MidSampleEvery) {
          sinceSample = 0
          midBw += midSampler.sample()
          midTrivial += trivialProbe()
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
    // Warm trivial-scan host axis (round-10 VERDICT item 1): the CPU
    // calibration didn't move across rounds 9→10 while 56/62 common
    // queries drifted ~13%, so cpu_ref alone under-determines the
    // host state a WARM sweep ran under (task-scheduling / page-cache
    // / JIT-tier overheads that a pure spin loop never touches).
    // Stamp the same axis cold_compare.py derives cross-round from
    // sub-0.2s queries, measured in-artifact: a fixed tiny
    // parquet-scan probe (region + nation counts), min-of-3 after
    // warmup. Cross-round warm comparisons divide by the ratio of
    // these stamps before claiming a code-attributed swing.
    def trivialProbe(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
      (System.nanoTime() - t0) / 1e6
    }
    trivialProbe() // warm the probe itself
    // Axis GATE at sweep start (round-11 VERDICT item 1): the r11
    // final warm artifact was captured on a session whose axes sat
    // outside the round's own calibration band (all-core 105.2 ms vs
    // the 97–100 band, trivial scan 320 ms, d01 warm above its own
    // cold) and its per-query deltas were pure pollution. Before
    // sweeping, require all three axes within 10% of the best this
    // box has ever recorded (BENCH_AXES.json), waiting up to 10
    // minutes for the host to recover; if it never does, the sweep
    // still runs but the artifact is stamped axes_ok=false and the
    // acceptance guard below treats its swings as unattributable.
    val (axesOk, calibNow, trivialMs, axesCompoundRatio) =
      awaitAxes(calib, () => trivialProbe())
    // mid-window baseline: the same resident sampler the sweep uses,
    // read right after the gate passed — self-calibrating, so the
    // mid gate needs no cross-probe band in BENCH_AXES.json
    val midBwBase = math.max(midSampler.sample(), midSampler.sample())
    val s1 = sweep(() => trivialProbe())
    val s2 = sweep(() => trivialProbe())
    val results = s1.map { case (k, v1) =>
      val v2 = s2.getOrElse(k, -1.0)
      k -> ((v1 >= 0, v2 >= 0) match {
        case (true, true)  => math.min(v1, v2)
        case (true, false) => v1
        case (false, true) => v2
        case _             => -1.0
      })
    }
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED in both sweeps: ${failed.mkString(",")}")
    val total = results.values.filter(_ >= 0).sum
    val fp = codeFingerprint()
    // Acceptance guard, AXIS-AWARE (round-11 VERDICT item 1). Two
    // independent triggers refuse the BENCH_FULL_last.json overwrite:
    //   - same-code rule (round-10): byte-identical src/main and the
    //     total swings >15% worse — pollution by construction;
    //   - axis rule (round-11): the r11 blemish disarmed the same-code
    //     rule because st12 landed between runs, so the guard now
    //     also compares the COMMON-query subset against the prior
    //     artifact — a changed fingerprint only changes NEW entries'
    //     rows — and rejects a >10%-worse common sum whenever the
    //     session's axes sit out of band (a swing measured on a
    //     degraded host is unattributable, not a regression).
    val prior = (try Some(new String(Files.readAllBytes(
      Paths.get("BENCH_FULL_last.json")), StandardCharsets.UTF_8))
    catch { case _: Throwable => None })
      // A prior artifact at a DIFFERENT scale factor is no comparison
      // base (a dev sf0.001 run must neither trip the guard nor be
      // guarded against) — treat it as absent.
      .filter(_.contains("\"sf\":\"" + sfDir + "\""))
    val priorTotal = prior.flatMap(extractField(_, "value")).flatMap(_.toDoubleOption)
    val priorFp = prior.flatMap(extractField(_, "code_fp"))
    val sameCode = priorFp.contains(fp)
    val priorQueries = prior.map(extractQueries).getOrElse(Map.empty)
    val common = results.keySet.intersect(priorQueries.keySet)
      .filter(k => results(k) >= 0 && priorQueries(k) >= 0)
    val commonSum = common.toSeq.map(results).sum
    val priorCommonSum = common.toSeq.map(priorQueries).sum
    val commonRatio = if (priorCommonSum > 0) commonSum / priorCommonSum else 1.0
    // PHASE-SPLIT ratio (round-14, VERDICT r13 item 3): on a host
    // whose axes are suspect, raw write-phase wall (bucketed-parquet
    // fixture I/O) tracks host bandwidth, not the code — the guard's
    // degraded-host trigger compares the GRADED phases instead, so a
    // bandwidth wobble on dd17's 8 s of fixture writes can neither
    // trip the guard nor hide a real probe/compact regression.
    val phases = graft.Metrics.spansJson()
    val priorPhases = prior.map(extractPhases).getOrElse(Map.empty)
    val gradedRatio = gradedCommonRatio(results, priorQueries,
      extractPhases(s"""{"phases":$phases}"""), priorPhases)
    // degraded-host trigger: per-axis band broken, compound drift
    // past AxesCompoundSuspect (round-14: individually-in-band axes
    // at the worse edge compound into uniform drift — VERDICT item 8),
    // OR any mid-sweep window degraded vs the sweep's own start
    // baseline (round-17: the start snapshot alone blessed the r16
    // polluted sweep)
    val axesMidOk = midWindowsOk(midBwBase, trivialMs, midBw.toSeq, midTrivial.toSeq)
    val axesSuspect =
      !axesOk || axesCompoundRatio > AxesCompoundSuspect || !axesMidOk
    val suspect =
      (sameCode && priorTotal.exists(p => p > 0 && (total - p) / p > 0.15)) ||
        (axesSuspect && gradedRatio > 1.10)
    ratchetAxes(calibNow, trivialMs,
      inBand = axesOk && axesCompoundRatio <= AxesTightMax && axesMidOk)
    val loadJson = graft.tools.LoadGuard.jsonFields(load0, loadOk, calibNow) +
      String.format(java.util.Locale.ROOT, ""","trivial_scan_ms":%.1f""",
        Double.box(trivialMs)) +
      s""","axes_ok":$axesOk,"axes_compound":${fmt(axesCompoundRatio)},"axes_tight":${axesCompoundRatio <= AxesTightMax},"axes_mid_ok":$axesMidOk,"mid_n":${midBw.size},"mid_bw_base":${fmt(midBwBase)},"mid_bw_min":${fmt(if (midBw.nonEmpty) midBw.min else -1.0)},"mid_trivial_max":${fmt(if (midTrivial.nonEmpty) midTrivial.max else -1.0)},"common_n":${common.size},"common_sum":${fmt(commonSum)},"common_ratio":${fmt(commonRatio)},"graded_common_ratio":${fmt(gradedRatio)}""" +
      s""","code_fp":"$fp","protocol":"min-of-2 warm; pre-ANSI lane; fresh index per maintenance cycle (phases in full file)"""" +
      (if (failed.nonEmpty) s""","failed":${failed.size}""" else "") +
      (if (suspect) s""","suspect_swing":true,"prior_total":${fmt(priorTotal.getOrElse(-1.0))}""" else "")
    // Full map + per-phase breakdown → file (sorted for stable diffs).
    val full = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${fmt(v)}""" }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"cpus":$cpus$loadJson,"queries":$full,"phases":$phases,"sf":"$sfDir"}
"""
    // PER-RUN full map (round 18, VERDICT r17 item 1): the driver
    // benches TWICE per round (32-core sweep, then an 8-core scaling
    // sweep) and both used to write only BENCH_FULL_last.json — the
    // second run clobbered the first's map before the driver's PERF
    // comparison could read it, leaving per_query/scaling empty two
    // rounds running. The core-count-suffixed file is written
    // UNCONDITIONALLY (a suspect run stamps suspect_swing inside):
    // it records "what this run measured", while _last keeps its
    // guarded comparison-base semantics below.
    try Files.write(Paths.get(s"BENCH_FULL_c$cpus.json"),
      fullJson.getBytes(StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    if (!suspect)
      try Files.write(
        Paths.get("BENCH_FULL_last.json"),
        fullJson.getBytes(StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    else System.err.println(
      f"[bench] SUSPECT artifact (axes_ok=$axesOk%b, compound $axesCompoundRatio%.3f, " +
        f"axes_mid_ok=$axesMidOk%b (bw base $midBwBase%.1f, min " +
        f"${if (midBw.nonEmpty) midBw.min else -1.0}%.1f over ${midBw.size} windows), " +
        f"common_ratio $commonRatio%.3f, graded_ratio $gradedRatio%.3f, " +
        f"total $total%.1f s vs prior ${priorTotal.getOrElse(-1.0)}%.1f s) — " +
        "keeping the prior BENCH_FULL_last.json")
    // stdout is the driver-captured artifact and the harness keeps
    // only the last ~2000 chars of the run log — round 11's tail
    // still clipped half the 201-query headline map. The stdout line
    // is now SLIM by design (round-11 VERDICT item 7): the slowest 15
    // queries for glanceability, every stamp, and the total — it
    // parses standalone well under the window. The complete map and
    // the per-phase breakdown live in BENCH_FULL_last.json.
    def fmt2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map { case (k, v) => s""""$k":${fmt2(v)}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","n":${results.size},"full_map":"BENCH_FULL_c$cpus.json","slowest":$qs$loadJson,"value":${fmt(total)}}""")
    spark.stop()
  }
}
