package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.functions.Portable

/** Dataset-curation operators for LLM training-data pipelines over
  * `documents`: deterministic train/val/test splitting, stratified
  * sampling, text normalization, and a C4/Gopher-style quality gate.
  *
  * Everything here is a SINGLE NARROW PASS over the corpus (the only
  * shuffles are the tiny per-split / per-stratum summary aggregates),
  * so the operators scale linearly and partition-locally at 100 TB.
  *
  * Splits and samples are HASH-deterministic (md5-prefix, `Portable`),
  * not RNG-based (`rand()` / `sampleBy`): a retried task re-derives
  * the same decision for every row, the assignment is reproducible
  * across engines and runs (it is oracle-checked against DuckDB), and
  * membership can be recomputed for any row at any time — the same
  * retry-idempotence argument as `ops/Salting`. The two hash domains
  * are salted apart so split and sample are independent.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  private val tokensExpr = TextAnalysis.tokensExpr

  /** cur07's head/middle/tail VALUE thresholds from the bounded
    * centinat histogram, as one (t1, t2) row: collect the ≤ ~hundreds
    * of (bin, count) pairs, sort, prefix-scan with an array
    * `aggregate` HOF whose state latches the first bin reaching
    * ⌈n/3⌉ / ⌈2n/3⌉ cumulative docs. Values are identical to a
    * min-over-cumulative-window form, without the window stage, the
    * totals aggregate, or their crossJoin — three serial tiny-data
    * stages whose scheduling latency dominated cur07's warm number
    * (round-10 VERDICT item 4). */
  private def thresholds(scored: DataFrame): DataFrame =
    scored.filter(col("bin").isNotNull)
      .groupBy("bin").agg(count(lit(1)).as("c"))
      .agg(collect_list(struct(col("bin"), col("c"))).as("h"))
      .select(expr("""
        |aggregate(
        |  array_sort(h),
        |  named_struct('cum', 0L,
        |               't1', CAST(NULL AS BIGINT), 't2', CAST(NULL AS BIGINT),
        |               'n1', CAST(ceil(CAST(aggregate(h, 0L, (a, x) -> a + x.c) AS DOUBLE) / 3.0) AS BIGINT),
        |               'n2', CAST(ceil(2.0 * CAST(aggregate(h, 0L, (a, x) -> a + x.c) AS DOUBLE) / 3.0) AS BIGINT)),
        |  (s, x) -> named_struct(
        |    'cum', s.cum + x.c,
        |    't1', CASE WHEN s.t1 IS NULL AND s.cum + x.c >= s.n1 THEN x.bin ELSE s.t1 END,
        |    't2', CASE WHEN s.t2 IS NULL AND s.cum + x.c >= s.n2 THEN x.bin ELSE s.t2 END,
        |    'n1', s.n1, 'n2', s.n2))""".stripMargin).as("t"))
      .select(col("t.t1").as("t1"), col("t.t2").as("t2"))
  private val tokensSql = TextAnalysis.tokensSql

  /** cur08: C4-style boilerplate removal unit — fixed-width token
    * chunks (this corpus has no line structure, so the chunk grid is
    * the segment unit, tx11's convention) flagged when the SAME chunk
    * appears in ≥ [[BoilerMinDocs]] distinct documents (C4 discarded
    * any line occurring ≥ 3 times; CCNet dedups paragraphs by hash).
    * The frequency table groups on a 60-bit chunk hash so the
    * exchange moves fixed-width longs, never text (dd11's argument);
    * the sub-chunk tail of each doc is KEPT verbatim (segments
    * shorter than the unit are never boilerplate-tested). */
  val BoilerChunk = 16
  val BoilerMinDocs = 3

  /** ds11's per-anchor candidate cap: each anchor scores at most this
    * many in-cell candidates — the cell's top-[[Ds11CandCap]] members
    * by quantizer residual (cosine to their own centroid, the score
    * the assignment already computed). Bounds in-cell pair work to
    * |cell|·C instead of |cell|² — the lever that survives an
    * ε-perturbed dup-stacked corpus where canonicalize-first cannot
    * merge (round 14, VERDICT r13 item 4; the exact-dup guard's
    * measured 65.6× blowup re-opens under perturbation without it).
    * Deterministic rank (cos_c DESC, vec_id ASC), so the oracle
    * replays the cap move for move. */
  val Ds11CandCap = 32

  /** Per-mille keep thresholds per stratum for ds02 (src0 is
    * over-represented in the corpus, so it is down-sampled hardest —
    * the usual domain-rebalancing move). */
  val SampleThresholds: Seq[(String, Int)] = Seq("src0" -> 100, "src1" -> 300)
  val DefaultThreshold = 500

  private def thresholdCase(colName: String): String =
    SampleThresholds.map { case (s, t) => s"WHEN $colName = '$s' THEN $t" }
      .mkString("CASE ", " ", s" ELSE $DefaultThreshold END")

  /** Context-window capacity (tokens) and prefix-sum bucket count for
    * ds03. PackBuckets bounds every window function in the plan: the
    * cross-bucket offset window runs over PackBuckets ROWS (not n),
    * the within-bucket cumsum partitions n/PackBuckets rows each. */
  val PackWindow = 512L
  val PackBuckets = 32L

  /** ds09: shard fan-out; ds10: exact sample size. */
  val ShardCount = 8
  val SampleK = 100

  /** Target language mixture for cur03 (domain/language rebalancing).
    * Weights sum to 1; the achievable corpus cap is set by the
    * scarcest language relative to its target share. */
  val LangTargets: Seq[(String, Double)] = Seq(
    "en" -> 0.4, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1, "zh" -> 0.1)

  /** cur07: the curated reference slice the perplexity-filter LM
    * trains on (CCNet's Wikipedia role — here the first four synthetic
    * sources stand in for the curated domains), and the value-bin
    * width exponent: avg-NLL thresholds are read at centinat (0.01)
    * granularity, so the threshold frame stays a few hundred rows no
    * matter the corpus size. */
  val RefSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** cur06: temperature exponent is fixed at α = 1/2, applied as
    * sqrt — IEEE 754 requires sqrt to be correctly rounded, so Spark
    * and DuckDB produce the identical double (no libm drift, unlike
    * pow, which is why α is not a free knob here). */
  val MixHashSalt = "t5|"

  /** ds08: the language whose docs play the TARGET distribution
    * (the hand-curated high-quality set in a real DSIR run). */
  val DsirTargetLang = "en"

  /** ds04 epoch-shuffle layout: the 60-bit portable hash is
    * range-bucketed on its top bits so bucket order == hash order
    * (2^60 / 2^55 = 32 buckets — the prefix-sum frame stays tiny). */
  val ShuffleSeed = "ep1"
  val ShuffleBucketWidth = 1L << 55

  /** PII redaction patterns (cur02), in the Java∩RE2 common subset so
    * Spark and DuckDB match per-character. Emails and long digit runs
    * — the two highest-volume PII classes a pretraining scrub targets
    * first. */
  val EmailRe = "[a-z0-9._]+@[a-z0-9._]+"
  val LongNumRe = "[0-9]{6,}"

  /** The df01 quality-gate transform over a (doc_id, text) frame —
    * UNORDERED and fully stateless/narrow, so the same function runs
    * over a batch frame (the df01 catalog query adds the output sort)
    * or a streaming frame (StreamingSpec runs it under
    * Trigger.AvailableNow and gets batch-identical survivors; sorts
    * are illegal on streams, which is why the ordering lives at the
    * catalog boundary). */
  def qualityGate(docs: DataFrame): DataFrame =
    docs
      // explode(array(...)) is a MATERIALIZATION BARRIER: without it,
      // predicate pushdown substitutes the `ts` alias into the filter
      // condition and the kernel (plus the tokenizer chain) re-embeds
      // once per predicate leaf — 13 occurrences in the physical
      // plan, the History-#7 pathology. Predicates on a GENERATED
      // attribute cannot push below the Generate, and the inferred
      // size(array(x)) > 0 pre-filter constant-folds away, so the
      // kernel runs exactly once per row.
      .select(col("doc_id"),
        explode(array(expr(s"token_stats($tokensExpr)"))).as("ts"))
      .withColumn("n", col("ts.n"))
      .withColumn("avg_len",
        expr("CAST(ts.len_sum AS DOUBLE) / CAST(nullif(ts.n, 0) AS DOUBLE)"))
      .withColumn("stop_cnt", col("ts.stop_cnt"))
      .withColumn("distinct_ratio",
        expr("CAST(ts.n_distinct AS DOUBLE) / CAST(nullif(ts.n, 0) AS DOUBLE)"))
      .filter(col("n").between(20, 500) &&
        col("avg_len").between(2.0, 12.0) &&
        col("stop_cnt") >= 1 &&
        col("distinct_ratio") >= 0.2)
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        expr("round(avg_len, 6)").as("avg_token_len"),
        expr("round(distinct_ratio, 6)").as("distinct_ratio"))

  val queries: Map[String, Q] = Map(
    // Deterministic 90/5/5 train/val/test split: bucket by a 60-bit
    // md5 prefix of the doc id — stable under retries, recomputable
    // per-row, identical across engines
    "ds01_hash_split" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", expr(s"${Portable.phashExpr("CAST(doc_id AS STRING)")} % 100"))
        .withColumn("split",
          expr("CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy("split")),

    // Stratified deterministic sampling: per-source keep rates via a
    // salted hash threshold (per-mille); summary per stratum
    "ds02_stratified_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("keep_hash",
          expr(s"${Portable.phashExpr("concat('smp|', CAST(doc_id AS STRING))")} % 1000"))
        .filter(expr(s"keep_hash < ${thresholdCase("source")}"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("kept_chars"))
        .orderBy("source")),

    // Text normalization (the canonicalize step dedup pipelines run
    // before shingling): lowercase, strip non-alphanumerics,
    // collapse whitespace
    "tx05_normalize" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("norm",
          expr("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))"))
        .select(col("doc_id"), col("norm"),
          expr("CAST(size(split(norm, ' ')) AS BIGINT)").as("n_norm_tokens"))
        .orderBy("doc_id")),

    // Context-window packing: concatenate the corpus token stream in
    // doc_id order and chunk it into PackWindow-token training
    // windows — each doc reports the window span it lands in (the
    // pack-and-chunk step that turns a curated corpus into LLM
    // training sequences). The global running offset is a TWO-PHASE
    // DISTRIBUTED PREFIX SUM, not a single-partition window: docs
    // range-bucket by id (PackBuckets buckets), per-bucket token
    // totals (tiny agg) prefix-sum across the ≤PackBuckets-row frame,
    // and the within-bucket cumsum partitions by bucket — no window
    // in the plan ever sees more than n/PackBuckets rows, so the
    // operator scales where the naive `OVER (ORDER BY doc_id)` global
    // sort-to-one-reducer (which IS the DuckDB oracle form) would
    // stall at 100 TB. Exact integer math end to end.
    "ds03_context_pack" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("n", expr(s"CAST(size($tokensExpr) AS BIGINT)"))
        .filter(col("n") > 0)
        .select("doc_id", "n")
      val mx = toks.agg(max(col("doc_id")).as("mx"))
      val bucketed = toks.crossJoin(broadcast(mx))
        .withColumn("bsz", expr(s"CAST(ceil((CAST(mx AS DOUBLE) + 1.0) / $PackBuckets) AS BIGINT)"))
        .withColumn("bucket", expr("doc_id DIV bsz"))
        .select("doc_id", "n", "bucket")
      val bucketTotals = bucketed.groupBy("bucket").agg(sum(col("n")).as("btot"))
      val bucketOffsets = bucketTotals
        .withColumn("boff",
          coalesce(sum(col("btot")).over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("bucket", "boff")
      val wIn = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(broadcast(bucketOffsets), "bucket")
        .withColumn("off", col("boff") + coalesce(sum(col("n")).over(wIn), lit(0L)))
        .select(col("doc_id"), col("n").as("n_tokens"),
          expr(s"off DIV $PackWindow").as("first_window"),
          expr(s"(off + n - 1) DIV $PackWindow").as("last_window"))
        .orderBy("doc_id")
    }),

    // PII redaction: scrub emails and long digit runs before
    // training. One narrow regexp pass per row (codegen'd string
    // kernels, no UDF); emits match counts and the scrubbed text's
    // length + md5 so the compare stays compact while still pinning
    // the exact redacted bytes.
    "cur02_pii_redact" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("n_emails",
          expr(s"CAST(size(regexp_extract_all(lower(text), '$EmailRe', 0)) AS BIGINT)"))
        .withColumn("n_longnums",
          expr(s"CAST(size(regexp_extract_all(lower(text), '$LongNumRe', 0)) AS BIGINT)"))
        .withColumn("redacted",
          expr(s"regexp_replace(regexp_replace(lower(text), '$EmailRe', '<EMAIL>'), '$LongNumRe', '<NUM>')"))
        .select(col("doc_id"), col("n_emails"), col("n_longnums"),
          expr("CAST(length(redacted) AS BIGINT)").as("redacted_len"),
          expr("substring(md5(redacted), 1, 16)").as("redacted_md5"))
        .orderBy("doc_id")),

    // Domain-mixture rebalancing: down-sample each language to a
    // target mixture (LangTargets). The achievable corpus cap is
    // C = min over languages of n_lang / w_lang (the scarcest
    // language pins the total); each language then keeps
    // min(1, C·w/n) of its docs via the deterministic salted-hash
    // threshold (per-million integer compare — same retry-idempotent,
    // engine-portable design as ds01/ds02). Dataflow: per-language
    // counts (tiny agg) → 1-row cap → per-language thresholds, all
    // broadcast back onto the corpus scan — the full pass stays
    // narrow, so the operator is one scan + two broadcast joins at
    // any scale. All double arithmetic is written with identical
    // operation order in both engines (IEEE-deterministic), and the
    // emitted threshold is an integer.
    "cur03_domain_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val weights = LangTargets
        .map { case (l, w) => s"SELECT '$l' AS lang, CAST($w AS DOUBLE) AS w" }
        .mkString("\n UNION ALL\n ")
      val rated = counts.join(broadcast(s.sql(weights)), "lang")
      val cap = rated.agg(min(expr("CAST(n AS DOUBLE) / w")).as("cap"))
      val thr = rated.crossJoin(broadcast(cap))
        .withColumn("thr", expr(
          "CAST(floor(least(CAST(1 AS DOUBLE), (cap * w) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)"))
        .select("lang", "n", "thr")
      docs.join(broadcast(thr), "lang")
        .filter(expr(
          s"${Portable.phashExpr("concat('mix|', CAST(doc_id AS STRING))")} % 1000000 < thr"))
        .groupBy("lang")
        .agg(max(col("n")).as("n_docs"), max(col("thr")).as("keep_per_million"),
          count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    // Deterministic epoch shuffle: a seeded global permutation of the
    // corpus (pos, doc_id) — the "shuffle the training data each
    // epoch" step, reproducible per seed and retry-idempotent because
    // order comes from the portable hash, not an RNG. The global
    // row_number is the same TWO-PHASE DISTRIBUTED PREFIX SUM as
    // ds03: range-bucket on the hash's top bits (bucket order ==
    // hash order), per-bucket counts prefix-sum across a ≤32-row
    // frame, within-bucket row_number — no window ever sees more
    // than n/32 rows, where the oracle's naive global
    // `row_number() OVER (ORDER BY h)` would sort to one reducer.
    "ds04_epoch_shuffle" -> ((s, d) => {
      val h = Tables.documents(s, d)
        .withColumn("h", expr(
          s"${Portable.phashExpr(s"concat('$ShuffleSeed|', CAST(doc_id AS STRING))")}"))
        .withColumn("bucket", expr(s"h DIV ${ShuffleBucketWidth}"))
        .select("doc_id", "h", "bucket")
      val offs = h.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .withColumn("boff",
          coalesce(sum(col("bn")).over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("bucket", "boff")
      val wIn = Window.partitionBy("bucket").orderBy("h", "doc_id")
      h.join(broadcast(offs), "bucket")
        .withColumn("pos", col("boff") + row_number().over(wIn).cast("long") - 1)
        .select("pos", "doc_id")
        .orderBy("pos")
    }),

    // Curriculum ordering: rank the corpus easy → hard on an exact
    // difficulty proxy (mean token length — integer sums, so the
    // score is a deterministic double in both engines) and cut the
    // ranking into 4 equal stages with plain integer arithmetic
    // (stage = 1 + (rank-1)*4 div n — never the builtin ntile, whose
    // tie placement is engine-defined). The global rank reuses
    // ds03/ds04's two-phase distributed prefix sum, bucketing on
    // floor(score*1000) (monotone in score, so bucket order == score
    // order): per-bucket counts prefix-sum across a tiny frame, then
    // within-bucket row_number — no window sees more than one
    // bucket's rows where the oracle's naive global ORDER BY sorts on
    // one reducer. Intra-stage example order for training is ds04's
    // epoch shuffle composed downstream; this operator owns the
    // difficulty axis.
    "ds05_curriculum" -> ((s, d) => {
      // score via the fused token_stats codegen kernel (identical
      // integers to the aggregate-HOF fold it replaced — round-5
      // swap: the interpreted lambda ran TWICE per doc through the
      // uncached two-consumer scan and dominated the 100× cost;
      // measured 32.9 s → see SCALE_NOTES)
      val scored = Tables.documents(s, d)
        .withColumn("ts", expr(s"token_stats(${TextAnalysis.tokensExpr})"))
        .withColumn("score", expr(
          "CAST(ts.len_sum AS DOUBLE) / CAST(ts.n AS DOUBLE)"))
        .withColumn("bucket", expr("CAST(floor(score * 1000.0) AS BIGINT)"))
        .select("doc_id", "score", "bucket")
      // n_total rides the same tiny bucket frame as the offsets (a
      // full-frame window sum) — deriving it from `scored` again
      // would re-run the tokenize+score scan a third time
      val offs = scored.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .withColumn("boff",
          coalesce(sum(col("bn")).over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .withColumn("n_total", sum(col("bn")).over(
          Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select("bucket", "boff", "n_total")
      val wIn = Window.partitionBy("bucket").orderBy("score", "doc_id")
      scored.join(broadcast(offs), "bucket")
        .withColumn("pos", col("boff") + row_number().over(wIn).cast("long"))
        .withColumn("stage", expr("CAST(1 + ((pos - 1) * 4) DIV n_total AS INT)"))
        .select(col("doc_id"), col("stage"), col("pos"), round(col("score"), 6).as("score"))
        .orderBy("pos")
    }),

    // Balanced shard assignment — the output-layout step before
    // training: docs land in ShardCount shards with near-equal TOKEN
    // totals (uniform shard sizes = uniform data-loader throughput;
    // random/hash sharding leaves heavy-tailed doc lengths
    // unbalanced). Longest-first round-robin: exact global rank by
    // (n_tokens DESC, doc_id) via the ds05 two-phase pattern — a
    // per-n-bucket window plus a broadcast bucket-offset frame, never
    // a single-partition global sort — then shard = (rank−1) mod K
    // (the classic LPT-style greedy, deterministic and
    // oracle-mirrorable). Output is the per-shard manifest the loader
    // reads; the max/min token spread IS the balance claim, hash-
    // checked.
    "ds09_balanced_shards" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("n", expr(s"CAST(size($tokensExpr) AS BIGINT)"))
        .filter(col("n") > 0)
        .select("doc_id", "n")
      // bucket key = n itself (distinct token counts are few); rank
      // descends through buckets ordered by n DESC
      val offs = toks.groupBy("n").agg(count(lit(1)).as("bn"))
        .withColumn("boff",
          coalesce(sum(col("bn")).over(
            Window.orderBy(col("n").desc).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("n", "boff")
      val wIn = Window.partitionBy("n").orderBy("doc_id")
      toks.join(broadcast(offs), "n")
        .withColumn("rank", col("boff") + row_number().over(wIn).cast("long"))
        .withColumn("shard", expr(s"CAST((rank - 1) % $ShardCount AS INT)"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("shard_tokens"))
        .orderBy("shard")
    }),

    // Exact-k deterministic uniform sample — ds02/ds06 keep each row
    // by an independent hash test (sample SIZE varies); audits and
    // eval sets need exactly k. Keying on a salted md5 hash and
    // keeping the k smallest keys is a uniform k-sample that is
    // retry-idempotent and ORDER-FREE at scale: orderBy+limit plans
    // as TakeOrdered (per-partition top-k heaps merged on one
    // reducer, O(n log k) work, no full-sort exchange), never a
    // global sort of the corpus.
    // The rank window runs AFTER .limit(SampleK) so its input is k
    // rows by construction — a constant partition key would document
    // that, but Spark 4's EliminateWindowPartitions folds foldable
    // partition keys away, so the canonical plan IS the unpartitioned
    // window. Boundedness is instead enforced by PlanLintSpec's
    // allowlist gate (every unpartitioned window needs a written
    // justification there) and the reviewed warning logger is muted
    // in the bench mains.
    "ds10_exact_k_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("h", expr(Portable.phashExpr("concat('ks:', CAST(doc_id AS STRING))")))
        .orderBy(col("h"), col("doc_id"))
        .limit(SampleK)
        .withColumn("sample_rank", row_number().over(
          Window.orderBy(col("h"), col("doc_id"))))
        .select(col("sample_rank"), col("doc_id"), col("h").as("sample_key"))
        .orderBy("sample_rank")),

    // Quality-WEIGHTED sampling (the DCLM-style move past ds02's flat
    // per-stratum rates): each doc keeps with probability equal to
    // its distinct-token ratio — higher-diversity docs oversampled —
    // decided by a salted deterministic hash, so the sample is
    // retry-idempotent and recomputable per row like ds01/ds02. The
    // keep test is PURE INTEGER math (h·n < nd·10⁶ — both sides
    // exact longs), so there is no float threshold to flake and the
    // oracle mirrors it verbatim. One narrow pass; the only shuffle
    // is the output sort.
    "ds06_weighted_sample" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("n", expr("CAST(size(tokens) AS BIGINT)"))
        .withColumn("nd", expr("CAST(size(array_distinct(tokens)) AS BIGINT)"))
        .filter(col("n") > 0)
        .withColumn("h",
          expr(s"${Portable.phashExpr("concat('ws|', CAST(doc_id AS STRING))")} % 1000000"))
        .filter(col("h") * col("n") < col("nd") * lit(1000000L))
        .select(col("doc_id"), col("n").as("n_tokens"), col("nd").as("n_distinct"),
          round(col("nd").cast("double") / col("n").cast("double"), 6).as("keep_p"))
        .orderBy("doc_id")),

    // Leakage-safe train/val/test split — ds01's hash split made
    // near-dup-aware: the split unit is the dd07 duplicate CLUSTER,
    // not the document, so two near-copies can never land in
    // different splits (the classic eval-contamination leak: a test
    // doc whose near-twin was trained on). Every doc hashes on its
    // cluster representative (singletons on themselves) with ds01's
    // 90/5/5 bucket layout on a salted domain. Cost shape: dd07's
    // component labels + one broadcast-ish left join (the cluster
    // frame is dup-family-sized, tiny relative to the corpus) + the
    // narrow per-row hash — the split itself adds no new shuffle
    // beyond the label join.
    "ds07_leakage_safe_split" -> ((s, d) => {
      val clusters = Dedup.queries("dd07_dup_clusters")(s, d)
        .select("doc_id", "cluster_rep")
      Tables.documents(s, d).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("gk", coalesce(col("cluster_rep"), col("doc_id")))
        .withColumn("bucket",
          expr(s"${Portable.phashExpr("concat('s7|', CAST(gk AS STRING))")} % 100"))
        .select(col("doc_id"),
          expr("CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END")
            .as("split"))
        .orderBy("doc_id")
    }),

    // C4/Gopher-style quality gate: token-count bounds, mean-word-
    // length bounds, at-least-one-stopword, repetition cut via the
    // distinct-token ratio; emits survivors with their features.
    // All counters come from the fused token_stats codegen pass
    // (functions/VectorExprs) instead of three interpreted HOF
    // sweeps; each field is exact-integer-identical to the HOF form,
    // so the oracle SQL is unchanged. See [[qualityGate]] for the
    // transform (shared with the streaming path) and its
    // materialization barrier.
    "df01_quality_gate" -> ((s, d) => {
      qualityGate(Tables.documents(s, d)).orderBy("doc_id")
    }),

    // Temperature-based mixture flattening (the UniMax/multilingual
    // move cur03's FIXED targets can't express): sampling weight
    // w_l ∝ share_l^α with α = 1/2, so scarce languages are
    // oversampled relative to their share and dominant ones damped.
    // Because w_l ∝ sqrt(n_l) (the 1/N normalizer cancels), the
    // weights need only the per-language counts. The ≤|langs|-row
    // weight sum goes through DECIMAL(28,12) addends (dsum rationale
    // — engine-portable regardless of sum order); sqrt is IEEE-exact
    // in both engines (see [[MixHashSalt]] doc). Budget is half the
    // observed corpus (exact integer N DIV 2); each language keeps
    // min(1, B·w/n) of its docs via the same deterministic salted-
    // hash per-million threshold as cur03/ds01 — retry-idempotent,
    // no RNG. Dataflow at 100 TB: one tiny count agg + broadcast
    // thresholds back onto a single narrow corpus pass.
    "cur06_temperature_mix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("sp", expr("CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(28,12))"))
      val tot = counts.agg(sum(col("sp")).as("S"),
        expr("sum(n) DIV 2").as("B"))
      val thr = counts.crossJoin(broadcast(tot))
        .withColumn("w", expr("CAST(sp AS DOUBLE) / CAST(S AS DOUBLE)"))
        .withColumn("thr", expr(
          "CAST(floor(least(CAST(1 AS DOUBLE), (CAST(B AS DOUBLE) * w) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)"))
        .select("lang", "n", "w", "thr")
      docs.join(broadcast(thr), "lang")
        .filter(expr(
          s"${Portable.phashExpr(s"concat('$MixHashSalt', CAST(doc_id AS STRING))")} % 1000000 < thr"))
        .groupBy("lang")
        .agg(max(col("n")).as("n_docs"), round(max(col("w")), 6).as("weight"),
          max(col("thr")).as("keep_per_million"), count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    // DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling" — here with the
    // add-one-smoothed unigram LM standing in for hashed-ngram
    // features): score(doc) = mean over tokens of
    // ln p_target(tok) − ln p_raw(tok), target = the [[DsirTargetLang]]
    // slice, raw = the whole corpus. Positive score ⇒ the doc looks
    // more like the target distribution than the corpus average ⇒
    // selected. Same scale posture as lm01: both models are vocab-
    // sized (zipf-bounded) map-side-combinable aggregates broadcast
    // back onto one token pass; the per-doc mean goes through
    // DECIMAL(18,8) addends (ln parity — tx09/lm01 precedent) so
    // grouping order can't flake the hash. The selected flag compares
    // the EXACT pre-round score to 0, identically in both engines.
    "ds08_importance_resample" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(expr(tokensExpr)).as("tok"))
      val raw = toks.groupBy("tok").agg(count(lit(1)).as("cr"))
      val tgt = toks.filter(col("lang") === DsirTargetLang)
        .groupBy("tok").agg(count(lit(1)).as("ct0"))
      val model = raw.join(tgt, Seq("tok"), "left")
        .withColumn("ct", coalesce(col("ct0"), lit(0L))).drop("ct0")
      val stats = model.agg(
        sum(col("cr")).cast(DoubleType).as("Nr"),
        sum(col("ct")).cast(DoubleType).as("Nt"),
        count(lit(1)).cast(DoubleType).as("V"))
      toks.join(broadcast(model), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("lr", expr(
          "ln((CAST(ct AS DOUBLE) + 1.0) / (Nt + V)) - ln((CAST(cr AS DOUBLE) + 1.0) / (Nr + V))"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum(col("lr").cast(DecimalType(18, 8))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("raw_score"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("raw_score"), 6).as("dsir_score"),
          expr("CAST(CASE WHEN raw_score > 0.0 THEN 1 ELSE 0 END AS INT)").as("selected"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity filtering (Wenzek et al. 2020): train the
    // unigram LM on the CURATED [[RefSources]] slice only (CCNet's
    // Wikipedia LM), score EVERY doc's add-one-smoothed avg NLL
    // against that broadcast model — out-of-domain text pays the OOV
    // price (c = 0) for every token the reference never saw — then cut
    // the corpus into head/middle/tail thirds on VALUE thresholds read
    // from a centinat histogram prefix-sum (CCNet cuts on perplexity
    // percentile VALUES; the histogram form keeps every frame past the
    // scoring scan bounded: ~hundreds of bins, 1-row totals, 1-row
    // thresholds — the qs01 pattern, never a data-sized global sort).
    // Differs from lm01 (model = whole corpus, no decision) and ds08
    // (contrastive two-model score): this is the production FILTER —
    // one in-domain model, a bucket label per doc. Numeric parity:
    // DECIMAL(18,8) NLL addends (ln parity — tx09/lm01), round(·,6)
    // at the projection; bin/threshold comparisons are integer.
    // Scored docs are memo-cached: a doc-id-keyed 4-column frame (NOT
    // the token stream), consumed by the histogram and the final
    // labelling pass.
    "cur07_perplexity_filter" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(expr(tokensExpr)).as("tok"))
      val model = toks.filter(col("source").isin(RefSources: _*))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val stats = model.agg(sum(col("c")).cast(DoubleType).as("N"),
        count(lit(1)).cast(DoubleType).as("V"))
      // ZERO-TOKEN documents must stay in the output (round-8 ADVICE:
      // inner explode silently dropped them — a production filter
      // must label every doc). Round-9's explode_outer fix cost cur07
      // 1.55× warm: every scoreable token paid the outer-explode's
      // null-marker machinery and the CASE around the NLL. Round 10
      // splits the paths instead: score non-empty docs through the
      // plain inner explode (the fast codegen'd pipeline, no CASE),
      // and derive the empty set DIRECTLY from `documents` with a
      // size(tokens)<=0 predicate — one narrow scan, no second
      // explode, no join — union'd in with n_tokens 0 / avg_nll null.
      // Empties are EXCLUDED from the histogram/thresholds (defined
      // over scoreable docs only) and deterministically bucket 'tail'
      // (no tokens ⇒ no evidence of in-domain text). Pinned by
      // CurationPplSpec's empty-doc fixture; the DuckDB mirror
      // re-attaches empties via LEFT JOIN from documents with the
      // same COALESCE bucket.
      val scored = Dedup.memoFrame(s, d, "cur07_scored")({
        val base = Tables.documents(s, d)
          .select(col("doc_id"), explode(expr(tokensExpr)).as("tok"))
          .join(broadcast(model), Seq("tok"), "left")
          .crossJoin(broadcast(stats))
          .withColumn("nll", expr(
            "0.0 - ln((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / (N + V))"))
          .groupBy("doc_id")
          .agg(count(col("tok")).as("n_tokens"),
            (sum(col("nll").cast(DecimalType(18, 8))).cast(DoubleType) /
              count(col("tok")).cast(DoubleType)).as("raw_nll"))
          .withColumn("avg_nll", round(col("raw_nll"), 6))
          .withColumn("bin", expr("CAST(floor(avg_nll * 100.0) AS BIGINT)"))
        // size() is null for a null token array and -1 only under the
        // legacy conf — coalesce covers both lanes
        val empties = Tables.documents(s, d)
          .filter(coalesce(org.apache.spark.sql.functions.size(expr(tokensExpr)),
            lit(0)) <= 0)
          .select(col("doc_id"),
            lit(0L).as("n_tokens"),
            lit(null).cast(DoubleType).as("raw_nll"),
            lit(null).cast(DoubleType).as("avg_nll"),
            lit(null).cast("bigint").as("bin"))
        base.unionByName(empties).cache()
      })
      // Thresholds from the bounded (~hundreds of bins) histogram in
      // ONE aggregation: collect the (bin, count) pairs, sort, and
      // run the prefix scan as an array `aggregate` HOF — replacing
      // the round-10 window + totals-agg + crossJoin chain (three
      // serial tiny-data stages whose scheduling latency dominated
      // cur07's warm number). The state is (cum, t1, t2); t1/t2 latch
      // the first bin whose cumulative count reaches ⌈n/3⌉ / ⌈2n/3⌉ —
      // identical values to the old min-over-window form. Like
      // `scored`, the 1-row threshold frame is part of the TRAINED
      // model (deterministic per corpus) — memoized and pinned, the
      // train-once/serve-many split a production filter runs under.
      val th = Dedup.memoFrame(s, d, "cur07_th")(
        thresholds(scored).localCheckpoint())
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("n_tokens"), col("avg_nll"),
          when(col("bin") <= col("t1"), "head")
            .when(col("bin") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // Contrastive pair mining (ds11; round 13): the training-data
    // constructor an embedding-model team runs over a curated corpus
    // — per anchor vector, one POSITIVE (its highest-cosine in-cell
    // neighbor at or above Similarity.DupThreshold — the SemDeDup
    // "same meaning" band) and one HARD NEGATIVE (the highest-cosine
    // in-cell neighbor BELOW the threshold: close enough to be
    // informative, far enough to be a true negative — in-batch
    // random negatives are easy; hard negatives come from exactly
    // this near-miss band). Candidates form only inside the √n-cell
    // quantizer's cells (dd14's assignment, never all-pairs), are
    // capped per anchor at the cell's top-[[Ds11CandCap]] members by
    // quantizer residual (deterministic rank, oracle-replayed), and
    // carry 8-byte ids until the single re-join that scores them —
    // dd06's exchange argument. CANONICALIZE-FIRST (dd06's guard,
    // and the honest semantics): byte-identical embeddings are
    // deduplicated to their min-id rep before mining — identical
    // pairs teach a contrastive loss nothing (cos 1), a real
    // pipeline dedupes before pair mining, and without the guard a
    // dup-stacked corpus blows up quadratically inside cells
    // (measured 65.6× at a 100× replica before; see SCALE_NOTES).
    // Anchors with no in-cell positive are dropped (no pair to train
    // on); a missing hard negative emits NULL (the trainer falls
    // back to in-batch negatives). Ranking is (cosine DESC, cand
    // ASC) on the raw bit-identical cosine, so the oracle replays
    // the choice exactly.
    "ds11_contrastive_pairs" -> ((s, d) => {
      val e = Similarity.canonicalEmbeddings(s, d)
      // the hash-sampled ~√n-cell pool dd14 assigns against
      val assigned = VecIndex.nearestCells(e, "vec_id", "embedding",
          Similarity.hashSampledCentroids(e))(_ === 1)
        .select(col("vec_id"), col("cent_id").as("cluster"), col("cos_c"))
      // per-anchor candidate CAP (see [[Ds11CandCap]]): candidates are
      // the cell's top-C members by quantizer residual — |cell|·C
      // pairs, never |cell|². The cluster-partitioned window is
      // cell-bounded (~√n rows), never corpus-wide.
      val capped = assigned
        .withColumn("mrn", row_number().over(
          Window.partitionBy("cluster")
            .orderBy(col("cos_c").desc, col("vec_id").asc)))
        .filter(col("mrn") <= Ds11CandCap)
        .select(col("vec_id"), col("cluster"))
      val pairs = assigned.as("a").join(capped.as("b"),
          col("a.cluster") === col("b.cluster") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("anchor"), col("b.vec_id").as("cand"))
        .join(e.toDF("anchor", "ea"), "anchor")
        .join(e.toDF("cand", "eb"), "cand")
        .withColumn("cos", expr("cosine_sim(ea, eb)"))
        .select("anchor", "cand", "cos")
      val w = Window.partitionBy("anchor")
        .orderBy(col("cos").desc, col("cand").asc)
      val tau = Similarity.DupThreshold
      val pos = pairs.filter(col("cos") >= tau)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("anchor"), col("cand").as("pos_id"),
          round(col("cos"), 6).as("pos_cosine"))
      val neg = pairs.filter(col("cos") < tau)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("anchor"), col("cand").as("neg_id"),
          round(col("cos"), 6).as("neg_cosine"))
      pos.join(neg, Seq("anchor"), "left")
        .select(col("anchor").as("anchor_id"), col("pos_id"),
          col("pos_cosine"), col("neg_id"), col("neg_cosine"))
        .orderBy("anchor_id")
    }),

    // Boilerplate strip (cur08; round 13): the C4/CCNet cleaning
    // stage this engine was missing — segments repeated across
    // [[BoilerMinDocs]]+ documents ("click here to subscribe") are
    // cut from every document, and the cleaned text is reassembled in
    // segment order. One tokenize pass → chunk grid → dual-lane
    // 120-bit-hash frequency table (map-side-combinable countDistinct,
    // fixed-width exchange — collision-safe for a DESTRUCTIVE stage at
    // 1e11 chunks, see Portable.phash2Expr)
    // → join back → per-doc ordered reassembly (collect_list
    // is doc-length-bounded, never corpus). clean_text is defined
    // over the tokenized stream (lower + single-space), so both
    // engines agree byte for byte.
    "cur08_boilerplate_strip" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("nch", expr(s"CAST(size(tokens) DIV $BoilerChunk AS INT)"))
        .select(col("doc_id"), col("tokens"), col("nch"))
      val ch = base.select(col("doc_id"),
          posexplode_outer(expr(
            s"""CASE WHEN nch >= 1
               |  THEN transform(sequence(0, nch - 1),
               |    i -> concat_ws(' ', slice(tokens, i * $BoilerChunk + 1, $BoilerChunk)))
               |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
            .as(Seq("idx", "chunk")))
        .filter(col("chunk").isNotNull)
        // BOTH md5 lanes (round 14, r13 ADVICE): this stage DELETES
        // text on hash equality — unlike dd10/dd11, which only flag —
        // so the match is 120-bit (see Portable.phash2Expr for the
        // collision arithmetic at 1e11 chunks). Exchange width stays
        // two longs; the chunk string never enters the shuffle.
        .withColumn("chash", expr(Portable.phashExpr("chunk")))
        .withColumn("chash2", expr(Portable.phash2Expr("chunk")))
      val freq = ch.groupBy("chash", "chash2")
        .agg(countDistinct(col("doc_id")).as("nd"))
      val perDoc = ch.join(freq, Seq("chash", "chash2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= BoilerMinDocs, 1L).otherwise(0L)).as("n_boiler"),
          expr(s"""array_join(
                  |  transform(
                  |    array_sort(collect_list(
                  |      CASE WHEN nd < $BoilerMinDocs THEN struct(idx, chunk) END)),
                  |    t -> t.chunk),
                  |  ' ')""".stripMargin).as("body"))
      base
        .withColumn("tail",
          expr(s"concat_ws(' ', slice(tokens, nch * $BoilerChunk + 1, size(tokens)))"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          expr("concat_ws(' ', nullif(coalesce(body, ''), ''), nullif(tail, ''))")
            .as("clean_text"))
        .orderBy("doc_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "ds01_hash_split" ->
      s"""WITH b AS (
         |  SELECT n_chars,
         |         ${Portable.phashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents
         |)
         |SELECT CASE WHEN bucket < 90 THEN 'train'
         |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    "ds02_stratified_sample" ->
      s"""WITH k AS (
         |  SELECT source, n_chars,
         |         ${Portable.phashSql("'smp|' || CAST(doc_id AS VARCHAR)")} % 1000 AS keep_hash
         |  FROM documents
         |)
         |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars
         |FROM k WHERE keep_hash < ${thresholdCase("source")}
         |GROUP BY source ORDER BY source""".stripMargin,

    "tx05_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents
        |)
        |SELECT doc_id, norm,
        |       CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_norm_tokens
        |FROM n ORDER BY doc_id""".stripMargin,

    // the oracle is DELIBERATELY the naive single-partition global
    // cumsum — tiny-scale-correct, 100 TB-wrong — proving the
    // distributed two-phase prefix sum computes the same function
    "ds03_context_pack" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n FROM documents
         |),
         |t AS (SELECT doc_id, n FROM tok WHERE n > 0),
         |c AS (
         |  SELECT doc_id, n,
         |         CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM t
         |)
         |SELECT doc_id, n AS n_tokens,
         |       CAST(off // $PackWindow AS BIGINT) AS first_window,
         |       CAST((off + n - 1) // $PackWindow AS BIGINT) AS last_window
         |FROM c ORDER BY doc_id""".stripMargin,

    // the oracle ranks with a plain global window — tiny-scale-
    // correct; the engine's two-phase form must equal it (ds03/ds05
    // convention)
    "ds09_balanced_shards" ->
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n FROM documents
         |),
         |t AS (SELECT doc_id, n FROM tok WHERE n > 0),
         |r AS (
         |  SELECT doc_id, n,
         |         row_number() OVER (ORDER BY n DESC, doc_id ASC) AS rank
         |  FROM t
         |)
         |SELECT CAST((rank - 1) % $ShardCount AS INT) AS shard,
         |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS shard_tokens
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,

    "ds10_exact_k_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         ${Portable.phashSql("'ks:' || CAST(doc_id AS VARCHAR)")} AS sample_key
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, sample_key,
         |         row_number() OVER (ORDER BY sample_key, doc_id) AS sample_rank
         |  FROM h
         |)
         |SELECT CAST(sample_rank AS INT) AS sample_rank, doc_id, sample_key
         |FROM r WHERE sample_rank <= $SampleK ORDER BY sample_rank""".stripMargin,

    "cur03_domain_mix" -> {
      val weightRows = LangTargets
        .map { case (l, w) => s"SELECT '$l' AS lang, CAST($w AS DOUBLE) AS w" }
        .mkString("\n  UNION ALL\n  ")
      s"""WITH w AS (
         |  $weightRows
         |),
         |counts AS (
         |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
         |),
         |rated AS (
         |  SELECT counts.lang, n, w FROM counts JOIN w ON counts.lang = w.lang
         |),
         |cap AS (
         |  SELECT min(CAST(n AS DOUBLE) / w) AS cap FROM rated
         |),
         |thr AS (
         |  SELECT lang, n,
         |         CAST(floor(least(CAST(1 AS DOUBLE), (cap * w) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS thr
         |  FROM rated, cap
         |)
         |SELECT d.lang AS lang, max(n) AS n_docs, max(thr) AS keep_per_million,
         |       count(*) AS n_kept
         |FROM documents d JOIN thr ON d.lang = thr.lang
         |WHERE ${Portable.phashSql("'mix|' || CAST(doc_id AS VARCHAR)")} % 1000000 < thr
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    },

    "ds04_epoch_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         ${Portable.phashSql(s"'$ShuffleSeed|' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents
         |)
         |SELECT CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos,
         |       doc_id
         |FROM h ORDER BY pos""".stripMargin,

    "cur02_pii_redact" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '$EmailRe')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(lower(text), '$LongNumRe')) AS BIGINT) AS n_longnums,
         |    regexp_replace(regexp_replace(lower(text), '$EmailRe', '<EMAIL>', 'g'),
         |                   '$LongNumRe', '<NUM>', 'g') AS redacted
         |  FROM documents
         |)
         |SELECT doc_id, n_emails, n_longnums,
         |       CAST(length(redacted) AS BIGINT) AS redacted_len,
         |       substring(md5(redacted), 1, 16) AS redacted_md5
         |FROM r ORDER BY doc_id""".stripMargin,

    "df01_quality_gate" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |), f AS (
         |  SELECT doc_id, len(tokens) AS n,
         |    CAST(list_reduce(list_prepend(0, list_transform(tokens, t -> length(t))), (a, b) -> a + b) AS DOUBLE)
         |      / CAST(nullif(len(tokens), 0) AS DOUBLE) AS avg_len,
         |    len(list_filter(tokens, t -> ${TextAnalysis.inList(TextAnalysis.LangStopwords.flatMap(_._2))})) AS stop_cnt,
         |    CAST(len(list_distinct(tokens)) AS DOUBLE)
         |      / CAST(nullif(len(tokens), 0) AS DOUBLE) AS distinct_ratio
         |  FROM tok
         |)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |       round(avg_len, 6) AS avg_token_len,
         |       round(distinct_ratio, 6) AS distinct_ratio
         |FROM f
         |WHERE n BETWEEN 20 AND 500 AND avg_len BETWEEN 2.0 AND 12.0
         |  AND stop_cnt >= 1 AND distinct_ratio >= 0.2
         |ORDER BY doc_id""".stripMargin,

    "ds06_weighted_sample" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |f AS (
         |  SELECT doc_id,
         |         CAST(len(tokens) AS BIGINT) AS n,
         |         CAST(len(list_distinct(tokens)) AS BIGINT) AS nd,
         |         ${Portable.phashSql("'ws|' || CAST(doc_id AS VARCHAR)")} % 1000000 AS h
         |  FROM tok WHERE len(tokens) > 0
         |)
         |SELECT doc_id, n AS n_tokens, nd AS n_distinct,
         |       round(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS keep_p
         |FROM f WHERE h * n < nd * 1000000
         |ORDER BY doc_id""".stripMargin,

    // The naive one-reducer global sort IS the oracle form (same
    // stance as ds03/ds04: the engine plan is the scalable variant).
    "ds05_curriculum" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(list_reduce(list_prepend(0, list_transform(tokens, t -> length(t))), (a, b) -> a + b) AS DOUBLE)
         |      / CAST(len(tokens) AS DOUBLE) AS score
         |  FROM tok
         |),
         |r AS (
         |  SELECT doc_id, score,
         |         row_number() OVER (ORDER BY score, doc_id) AS pos,
         |         count(*) OVER () AS n_total
         |  FROM sc
         |)
         |SELECT doc_id,
         |       CAST(1 + ((pos - 1) * 4) // n_total AS INT) AS stage,
         |       pos, round(score, 6) AS score
         |FROM r ORDER BY pos""".stripMargin,

    // the cluster labels come from dd07's recursive-CTE oracle,
    // nested as a subquery so both sides split on the identical
    // component structure
    "ds07_leakage_safe_split" ->
      s"""WITH clusters AS (
         |  SELECT * FROM ( ${Dedup.oracle("dd07_dup_clusters")} ) t
         |),
         |g AS (
         |  SELECT d.doc_id,
         |         coalesce(c.cluster_rep, d.doc_id) AS gk
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
         |)
         |SELECT doc_id,
         |       CASE WHEN ${Portable.phashSql("'s7|' || CAST(gk AS VARCHAR)")} % 100 < 90 THEN 'train'
         |            WHEN ${Portable.phashSql("'s7|' || CAST(gk AS VARCHAR)")} % 100 < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM g ORDER BY doc_id""".stripMargin,

    // identical operation order throughout: sqrt (IEEE-exact), the
    // DECIMAL(28,12) weight sum, the double divisions, and the
    // integer per-million threshold all mirror the Spark plan
    "cur06_temperature_mix" ->
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n,
         |         CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(28,12)) AS sp
         |  FROM documents GROUP BY lang
         |),
         |tot AS (SELECT sum(sp) AS S, sum(n) // 2 AS B FROM counts),
         |thr AS (
         |  SELECT lang, n,
         |         CAST(sp AS DOUBLE) / CAST(S AS DOUBLE) AS w,
         |         CAST(floor(least(CAST(1 AS DOUBLE),
         |              (CAST(B AS DOUBLE) * (CAST(sp AS DOUBLE) / CAST(S AS DOUBLE)))
         |              / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS thr
         |  FROM counts, tot
         |)
         |SELECT d.lang, max(t.n) AS n_docs, round(max(t.w), 6) AS weight,
         |       max(t.thr) AS keep_per_million, count(*) AS n_kept
         |FROM documents d JOIN thr t ON t.lang = d.lang
         |WHERE ${Portable.phashSql(s"'$MixHashSalt' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < t.thr
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "ds08_importance_resample" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(${TextAnalysis.tokensSql}) AS tok FROM documents
         |),
         |raw AS (SELECT tok, count(*) AS cr FROM tok GROUP BY tok),
         |tgt AS (SELECT tok, count(*) AS ct0 FROM tok
         |        WHERE lang = '$DsirTargetLang' GROUP BY tok),
         |model AS (
         |  SELECT r.tok, r.cr, coalesce(t.ct0, 0) AS ct
         |  FROM raw r LEFT JOIN tgt t ON t.tok = r.tok
         |),
         |st AS (SELECT CAST(sum(cr) AS DOUBLE) AS Nr, CAST(sum(ct) AS DOUBLE) AS Nt,
         |              CAST(count(*) AS DOUBLE) AS V FROM model),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         CAST(sum(CAST(ln((CAST(ct AS DOUBLE) + 1.0) / (Nt + V))
         |                        - ln((CAST(cr AS DOUBLE) + 1.0) / (Nr + V)) AS DECIMAL(18,8))) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS raw_score
         |  FROM tok JOIN model USING (tok), st
         |  GROUP BY doc_id
         |)
         |-- "+ 0.0" washes DuckDB's signed -0.0 to match Spark's
         |-- sign-dropping round (sim09 precedent)
         |SELECT doc_id, n_tokens, round(raw_score, 6) + 0.0 AS dsir_score,
         |       CAST(CASE WHEN raw_score > 0.0 THEN 1 ELSE 0 END AS INT) AS selected
         |FROM sc ORDER BY doc_id""".stripMargin,

    // mirrors the Spark plan move for move: ref-slice model, add-one
    // smoothing with OOV at c = 0, DECIMAL(18,8) NLL addends, 6-dp
    // round, centinat bins, prefix-sum thresholds at ceil(n/3) ranks
    "cur07_perplexity_filter" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest(${TextAnalysis.tokensSql}) AS tok FROM documents
         |),
         |cnt AS (
         |  SELECT tok, count(*) AS c FROM tok
         |  WHERE source IN (${RefSources.map(r => s"'$r'").mkString(", ")})
         |  GROUP BY tok
         |),
         |st AS (SELECT CAST(sum(c) AS DOUBLE) AS N, CAST(count(*) AS DOUBLE) AS V FROM cnt),
         |sc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         round(CAST(sum(CAST(0.0 - ln((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / (N + V))
         |                            AS DECIMAL(18,8))) AS DOUBLE)
         |               / CAST(count(*) AS DOUBLE), 6) AS avg_nll
         |  FROM tok LEFT JOIN cnt USING (tok), st
         |  GROUP BY doc_id
         |),
         |b AS (SELECT *, CAST(floor(avg_nll * 100.0) AS BIGINT) AS bin FROM sc),
         |hist AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
         |cum AS (SELECT bin, sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS n_le FROM hist),
         |tot AS (SELECT sum(c) AS n FROM hist),
         |th AS (
         |  SELECT min(CASE WHEN n_le >= CAST(ceil(CAST(n AS DOUBLE) / 3.0) AS BIGINT)
         |                  THEN bin END) AS t1,
         |         min(CASE WHEN n_le >= CAST(ceil(2.0 * CAST(n AS DOUBLE) / 3.0) AS BIGINT)
         |                  THEN bin END) AS t2
         |  FROM cum, tot
         |)
         |SELECT d.doc_id AS doc_id, CAST(coalesce(b.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       b.avg_nll,
         |       CASE WHEN b.doc_id IS NULL THEN 'tail'
         |            WHEN bin <= t1 THEN 'head'
         |            WHEN bin <= t2 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id, th ORDER BY doc_id""".stripMargin,

    // mirrors ds11 move for move: √n-cell argmax assignment, in-cell
    // candidate pairs both directions, (cosine DESC, cand ASC) rank
    // per band, positives joined left to hard negatives
    "ds11_contrastive_pairs" -> {
      val dot = Similarity.dotSql("ea.embedding", "eb.embedding")
      s"""WITH canon AS (
         |  SELECT min(vec_id) AS vec_id, embedding FROM embeddings GROUP BY embedding
         |),
         |e AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${Similarity.dotSql("embedding", "embedding")}) AS norm
         |  FROM canon
         |),
         |nc AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS ncells,
         |              count(*) AS n, min(vec_id) AS mid FROM e),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
         |  FROM e, nc
         |  WHERE ${Portable.phashSql("'ct|' || CAST(vec_id AS VARCHAR)")} % n < ncells
         |     OR vec_id = mid
         |),
         |scored AS (
         |  SELECT e.vec_id, c.cent_id,
         |         ${Similarity.dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) AS cos_c,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${Similarity.dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
         |                    c.cent_id ASC) AS crn
         |  FROM e, cents c
         |),
         |assigned AS (SELECT vec_id, cent_id AS cluster, cos_c FROM scored WHERE crn = 1),
         |capped AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |           row_number() OVER (PARTITION BY cluster
         |             ORDER BY cos_c DESC, vec_id ASC) AS mrn
         |    FROM assigned) t
         |  WHERE mrn <= ${Ds11CandCap}
         |),
         |pr AS (
         |  SELECT a.vec_id AS anchor, b.vec_id AS cand,
         |         $dot / (ea.norm * eb.norm) AS cos
         |  FROM assigned a
         |  JOIN capped b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |),
         |pos AS (
         |  SELECT anchor, cand AS pos_id, round(cos, 6) AS pos_cosine
         |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor
         |                    ORDER BY cos DESC, cand ASC) AS rn
         |        FROM pr WHERE cos >= ${Similarity.DupThreshold}) t
         |  WHERE rn = 1
         |),
         |neg AS (
         |  SELECT anchor, cand AS neg_id, round(cos, 6) AS neg_cosine
         |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor
         |                    ORDER BY cos DESC, cand ASC) AS rn
         |        FROM pr WHERE cos < ${Similarity.DupThreshold}) t
         |  WHERE rn = 1
         |)
         |SELECT pos.anchor AS anchor_id, pos_id, pos_cosine, neg_id, neg_cosine
         |FROM pos LEFT JOIN neg USING (anchor)
         |ORDER BY anchor_id""".stripMargin
    },

    // mirrors cur08 stage for stage: tokenize → chunk grid (1-based
    // slices in DuckDB) → chunk-hash document frequency → flag at
    // BoilerMinDocs → ordered reassembly, sub-chunk tail appended
    "cur08_boilerplate_strip" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |base AS (
         |  SELECT doc_id, tokens,
         |         CAST(floor(len(tokens) / $BoilerChunk.0) AS INT) AS nch
         |  FROM tok
         |),
         |ch AS (
         |  SELECT doc_id, s.idx AS idx, s.chunk AS chunk,
         |         ${Portable.phashSql("s.chunk")} AS chash,
         |         ${Portable.phash2Sql("s.chunk")} AS chash2
         |  FROM (
         |    SELECT doc_id,
         |           unnest(CASE WHEN nch >= 1
         |             THEN list_transform(generate_series(0, nch - 1),
         |               i -> struct_pack(idx := i,
         |                 chunk := array_to_string(
         |                   tokens[(i * $BoilerChunk + 1):((i + 1) * $BoilerChunk)], ' ')))
         |             ELSE [] END) AS s
         |    FROM base) z
         |),
         |freq AS (SELECT chash, chash2, count(DISTINCT doc_id) AS nd
         |         FROM ch GROUP BY chash, chash2),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |         CAST(sum(CASE WHEN nd >= $BoilerMinDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |         string_agg(chunk, ' ' ORDER BY idx)
         |           FILTER (WHERE nd < $BoilerMinDocs) AS body
         |  FROM ch JOIN freq USING (chash, chash2)
         |  GROUP BY doc_id
         |)
         |SELECT b.doc_id,
         |       coalesce(n_chunks, 0) AS n_chunks,
         |       coalesce(n_boiler, 0) AS n_boiler,
         |       concat_ws(' ', nullif(coalesce(body, ''), ''),
         |                 nullif(array_to_string(
         |                   tokens[(nch * $BoilerChunk + 1):len(tokens)], ' '), ''))
         |         AS clean_text
         |FROM base b LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  )
}
