package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** Deduplication operators for LLM training-data pipelines, over the
  * `documents` table — extensions beyond the reference per the north
  * star (BASELINE.json): exact, MinHash+LSH, SimHash, and n-gram
  * Jaccard. Embedding-cosine near-dup lives in Similarity.
  *
  * Scale design: every operator is a pure shuffle-bounded dataflow —
  * tokenize/shingle per row (narrow), hash-partition on signature or
  * shingle (one exchange), pair-join only within buckets (LSH bands /
  * shared shingles) so the candidate set stays near-linear instead of
  * O(n²). At 100 TB the only quadratic step, within-bucket pairing,
  * is bounded by band width tuning.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Number of minhash functions and LSH band layout (4 bands × 2). */
  val MinhashK = 8
  val Bands = 4

  /** dd13: the `source` value playing the freshly-ingested batch
    * (every other source is the standing corpus). */
  val IncBatchSrc = "src0"

  /** g01 power-iteration count (fixed — rank ordering stabilizes in
    * a handful of rounds on near-dup components, whose diameter is
    * small by construction). */
  val PrIters = 5

  /** Stop-shingle document-frequency cap for dd05 (shingles more
    * common than this carry no near-dup signal and cost df² pairs). */
  val MaxShingleDf = 1000

  /** dd12 sorted-neighborhood: window width (each doc is compared to
    * the next SnmWindow docs in blocking-key order) and the
    * fixed-width prefix of the sorted-token string used as the key. */
  val SnmWindow = 8
  val SnmKeyLen = 64

  /** dd10 decontamination: 1-in-EvalMod docs form the held-out eval
    * set (hash-deterministic, salted apart from ds01's split domain).
    * A train doc is flagged when ≥ DecontamMinRatio of its distinct
    * shingles appear in the eval index (with an absolute ≥ 2 floor —
    * one shared 60-bit shingle hash is collision-grade noise). The
    * ratio threshold sits well above the corpus's measured shared-
    * vocabulary background (~0.05 mean overlap from common phrases)
    * and well below real contamination (near-copies measure ≥ 0.15). */
  val EvalMod = 20
  val DecontamMinOverlap = 2
  val DecontamMinRatio = 0.1

  // Tokens: lowercase, whitespace-split, empties removed (trailing
  // spaces exist in the data). Kept textually parallel with the SQL.
  private val tokensExpr = TextAnalysis.tokensExpr
  private val tokensSql = TextAnalysis.tokensSql

  // 3-word shingles — the shared definition (TextAnalysis owns the
  // text-expression vocabulary; tx08 uses the same shingles)
  private val shinglesExpr = TextAnalysis.shinglesExpr
  private val shinglesSql = TextAnalysis.shinglesSql

  /** MinHash mixing coefficients: the expensive md5 runs ONCE per
    * shingle; the k hash families are derived by affine mixing mod
    * 1e9+7 — exact integer math in both engines, and bounded so the
    * multiply never overflows a BIGINT (base < 1e9+7, coeff < 1e5). */
  val MixMod = 1000000007L
  lazy val mixCoeffs: Array[(Long, Long)] = {
    val rnd = new java.util.Random(7L)
    Array.fill(MinhashK)((rnd.nextInt(99990) + 11L, rnd.nextInt(999999999).toLong))
  }

  // the map stores the CACHED sigs-array stage itself (not the cheap
  // per-column projection over it) so clearMemo's unpersist frees the
  // actual cached relation — unpersisting an uncached projection is a
  // silent no-op and would leave the rebuilt plan reading stale cache
  private val sigCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Per-doc minhash signature frame: doc_id, sig_0..sig_{k-1}
    * (memoized per session+dir — feeds dd02 and dd03). The expensive
    * stage is cached once; the projection over it is rebuilt per call
    * (it is free). With `canonical = true` the pipeline signs only
    * the canonical doc per distinct text (min doc_id) — dd09's
    * guard: exact-duplicate multiplicity inflates every LSH bucket
    * quadratically, and those pairs carry no near-dup information. */
  def minhashSignatures(spark: SparkSession, dir: String,
      canonical: Boolean = false): DataFrame = {
    val key = (spark, if (canonical) s"$dir#canonical" else dir)
    // same double-build race guard as memoFrame (see memoLock below)
    val sigArray = sigCache.get(key).getOrElse(memoLock.synchronized {
      sigCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      sigCache.getOrElseUpdate(key, buildSigArray(spark, dir, canonical))
    })
    sigArray.select(
      col("doc_id") +:
        (0 until MinhashK).map(j => element_at(col("sigs"), j + 1).as(s"sig_$j")): _*)
  }

  /** General memo of shared derived frames (verified pairs, edge
    * lists, the dd07 cluster map, co-purchase edges — anything two or
    * more catalog queries re-derive identically). One registry for
    * the whole ops tree so `clearMemo` frees everything: before this,
    * cur05/ds07 each re-ran dd07's full connected-components loop and
    * g03/g04 each re-cached the identical co-purchase plan — correct
    * (Spark's cache manager dedups by analyzed plan) but wasteful and
    * noisy ("Asked to cache already cached data" per re-invocation). */
  private val frameMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Diagnostic: builds executed (not memo hits) — lets the
    * concurrency spec assert each key was built exactly once under
    * racing callers. */
  private[graft] val memoBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  // TrieMap.getOrElseUpdate may evaluate `build` more than once under
  // racing threads (compute-then-putIfAbsent) — benign for plan-only
  // builds but a double .cache()/double CC-loop for the expensive
  // ones, and the loser's cached relation would leak unpersisted. A
  // single reentrant lock serializes builds (nested memoFrame calls —
  // verifiedEdges → verifiedPairs — re-enter fine); memo HITS after
  // construction still race-read the TrieMap lock-free because
  // getOrElseUpdate only mutates on miss. Proven by ConcurrencySpec.
  private val memoLock = new Object

  private[graft] def memoFrame(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame = {
    val k = (spark, dir, key)
    frameMemo.get(k) match {
      case Some(df) => df
      case None => memoLock.synchronized {
        frameMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
        frameMemo.getOrElseUpdate(k, { memoBuilds.incrementAndGet(); build })
      }
    }
  }

  /** The verified LSH near-dup pair set, cached once per session+dir —
    * consumed by dd07, g01, g02 (each previously cached its own copy
    * of the identical plan). */
  private[graft] def verifiedPairs(spark: SparkSession, dir: String): DataFrame =
    memoFrame(spark, dir, "verified_pairs")(
      lshVerifiedPairs(minhashSignatures(spark, dir))
        .select("doc_a", "doc_b").cache())

  /** Min-label propagation to fixpoint — the shared connected-
    * components core (dd07's cluster map, the pipeline's survivor
    * clustering). `edges` must be BIDIRECTIONAL (src, dst); `nodes`
    * (one `node` column) seeds the label set — pass the full node
    * universe, which may exceed the edge endpoints (isolated nodes
    * label themselves). Each iteration is one distributed join +
    * aggregate; the driver sees only a scalar convergence count, and
    * localCheckpoint() cuts the growing lineage (iterative-plan
    * hygiene). Converges in O(component diameter) rounds — near-dup
    * graphs are dense blobs with tiny diameters; a corpus with long
    * chain topologies would switch to the large-star/small-star
    * alternation, which is the same join primitive. Returns
    * (node, label) with label = the component's min node id. */
  private[graft] def minLabelFixpoint(edges: DataFrame, nodes: DataFrame): DataFrame = {
    var labels = nodes.withColumn("label", col("node")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      // one join per round: keep the old label alongside the
      // propagated min so the convergence count needs no re-join
      val prop = edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
      val step = labels.join(prop, labels("node") === prop("dst"), "left")
        .select(labels("node"), labels("label").as("old_label"),
          least(labels("label"), coalesce(col("nlabel"), labels("label"))).as("label"))
        .localCheckpoint()
      changed = step.filter(col("label") < col("old_label")).count()
      labels = step.select("node", "label")
    }
    labels
  }

  /** Both-direction edge list over [[verifiedPairs]] — g01 and g02
    * build byte-identical plans for this, so sharing one cached frame
    * also removes the hazard of one query's unpersist silently
    * dropping the other's cache entry (plan-identity dedup cuts both
    * ways). */
  private[graft] def verifiedEdges(spark: SparkSession, dir: String): DataFrame =
    memoFrame(spark, dir, "verified_edges") {
      val p = verifiedPairs(spark, dir)
      p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .cache()
    }

  /** Drop this session's memoized signature frames (bench/stress hook
    * — see Relational.clearMemo). */
  def clearMemo(spark: SparkSession): Unit = {
    sigCache.keys.filter(_._1 eq spark).foreach { k =>
      sigCache.remove(k).foreach(_.unpersist())
    }
    frameMemo.keys.filter(_._1 eq spark).foreach { k =>
      frameMemo.remove(k).foreach(_.unpersist())
    }
  }

  private def buildSigArray(spark: SparkSession, dir: String,
      canonical: Boolean = false): DataFrame = {
    val docs0 = Tables.documents(spark, dir)
    val docs =
      if (canonical) docs0.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      else docs0
    // minhash_mix fuses the k affine minima into ONE codegen pass over
    // the hashed shingles. The cache barrier before the per-column
    // element_at split stops CollapseProject from inlining the whole
    // md5 chain into each of the k projections (observed 4× slower).
    docs
      .withColumn("tokens", expr(tokensExpr))
      .withColumn("shingles", expr(shinglesExpr))
      .select(col("doc_id"),
        expr(s"minhash_mix(transform(shingles, s -> ${Portable.phashExpr("s")} % $MixMod))").as("sigs"))
      .cache()
  }

  /** BATCH-SCOPED signatures (round 17, optimization guide §8: decide
    * with batch-sized work, never corpus-sized): sign ONLY the given
    * docs — (doc_id, text, …) in, (doc_id, sig_0..k-1) out, the same
    * one-codegen-pass inline form the streaming signer uses
    * ([[nearDupDecisions]]). The maintenance paths (BandIndex append /
    * probeIds / the incremental probe's batch side) use this instead
    * of joining the corpus-wide memoized array down to the batch: an
    * append's signature work is ∝ the batch it lands, and at 100 TB
    * the corpus-sized cached array the old join depended on cannot
    * exist. Per-row values are bit-identical to [[minhashSignatures]]
    * (same tokens/shingles/minhash_mix chain), so every decision —
    * and every oracle hash — is unchanged. No cache barrier is
    * needed: the sig array is referenced k times, which stops
    * CollapseProject from inlining the md5 chain per column. */
  private[graft] def signDocs(docs: DataFrame): DataFrame = {
    docs
      .withColumn("tokens", expr(tokensExpr))
      .withColumn("shingles", expr(shinglesExpr))
      .withColumn("sigarr",
        expr(s"minhash_mix(transform(shingles, s -> ${Portable.phashExpr("s")} % $MixMod))"))
      .select(col("doc_id") +:
        (0 until MinhashK).map(j => element_at(col("sigarr"), j + 1).as(s"sig_$j")): _*)
  }

  /** Shared oracle fragments for the LSH family (dd03/dd07/dd09):
    * band-key projection over `sigs` and the signature match-count
    * sum between aliases `sa`/`sb`. */
  private[graft] lazy val bandSelects: String = (0 until Bands).map(b =>
    s"SELECT doc_id, $b AS band, concat_ws(':', sig_${2 * b}, sig_${2 * b + 1}) AS key FROM sigs")
    .mkString("\n  UNION ALL\n  ")
  private[graft] lazy val matchSum: String = (0 until MinhashK)
    .map(j => s"CASE WHEN sa.sig_$j = sb.sig_$j THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** Oracle CTE chain ending in `p(doc_a, doc_b)` — the verified LSH
    * pair set [[lshVerifiedPairs]] computes over all docs. Shared by
    * the graph family (g01 here, g02 in [[Graph]]), so the two sides
    * of every graph oracle agree on the edge set by construction. */
  private[ops] lazy val lshPairsCte: String =
    s"""$minhashCte,
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.key = b.key AND a.band = b.band AND a.doc_id < b.doc_id
       |),
       |p AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN sigs sa ON sa.doc_id = doc_a
       |  JOIN sigs sb ON sb.doc_id = doc_b
       |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
       |)""".stripMargin

  /** Oracle CTE mirroring [[minhashSignatures]]; `src` is the doc
    * relation to sign (dd09 signs a `canonical` CTE instead of the
    * raw table). */
  def minhashCte: String = minhashCteFrom("documents")

  def minhashCteFrom(src: String): String = {
    val sigCols = mixCoeffs.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(hh, h -> (h * $a + $b) % $MixMod)) AS sig_$j"
    }.mkString(",\n    ")
    s"""tok AS (
       |  SELECT doc_id, $tokensSql AS tokens FROM $src
       |),
       |sh AS (
       |  SELECT doc_id, $shinglesSql AS shingles FROM tok
       |),
       |shh AS (
       |  SELECT doc_id,
       |         list_transform(shingles, s -> ${Portable.phashSql("s")} % $MixMod) AS hh
       |  FROM sh
       |),
       |sigs AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM shh
       |)""".stripMargin
  }

  /** Band candidate pairs over a signature frame, kept when the
    * full-signature match count estimates Jaccard ≥ 0.5 — the shared
    * LSH pair generator (dd03 runs it over all docs; dd09 over
    * canonical docs only). Pairs form ONLY within band buckets, so
    * the candidate set stays near-linear in corpus size. */
  private[ops] def lshVerifiedPairs(sigs: DataFrame): DataFrame = {
    val bandKeys = (0 until Bands).map(b =>
      concat_ws(":", col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}")))
    val bands = sigs.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.key") === col("b.key") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = sigs.toDF("doc_a" +: (0 until MinhashK).map(j => s"a_sig_$j"): _*)
    val sb = sigs.toDF("doc_b" +: (0 until MinhashK).map(j => s"b_sig_$j"): _*)
    val matches = (0 until MinhashK)
      .map(j => when(col(s"a_sig_$j") === col(s"b_sig_$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("est_jaccard", matches.cast("double") / MinhashK.toDouble)
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Corpus-side inputs for [[nearDupDecisions]]: the band index
    * (band, key, corpus_doc) and the signature frame (corpus_doc,
    * b_sig_0..k-1) over every non-batch doc. In production this is a
    * persisted, bucket-partitioned table maintained by appending each
    * accepted batch's bands — corpus text is never re-signed; here
    * both derive from the memoized signature frame. */
  def corpusIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val srcs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val corpSigs = minhashSignatures(spark, dir)
      .join(srcs.filter(col("source") =!= IncBatchSrc), "doc_id")
      .drop("source")
    val bandKeys = (0 until Bands).map(b =>
      concat_ws(":", col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}")))
    val bands = corpSigs
      .select(col("doc_id").as("corpus_doc"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
      .select("band", "key", "corpus_doc")
    val renamed = corpSigs.toDF(
      "corpus_doc" +: (0 until MinhashK).map(j => s"b_sig_$j"): _*)
    (bands, renamed)
  }

  /** Streaming-safe near-dup decision core — the dataflow shared by
    * the batch catalog entry `st05_stream_neardup` (Streams.scala) and
    * the Structured Streaming wrapper
    * [[graft.streaming.Streams!.nearDupDedupStream]]. `docs`
    * (doc_id, text, ts) may be an unbounded streaming frame, so every
    * construct is streaming-legal:
    *   - signatures are computed INLINE per arriving doc (one codegen
    *     pass, no cache barrier — the cache trick minhashSignatures
    *     uses is a batch-only optimization);
    *   - candidates come from a stream-static LEFT join against the
    *     persisted corpus band index — per-doc work is bounded by its
    *     band buckets' occupancy, the corpus is never re-paired;
    *   - the per-doc best match is an argmax AGGREGATE
    *     (max(struct(est, -corpus_doc))) keyed by (arrival window,
    *     doc) — row_number windows don't exist over unbounded input,
    *     and the aggregate also absorbs duplicate band hits without a
    *     distinct() exchange.
    * Output: one decision row per (10-min arrival window, batch doc);
    * dup_of/est_jaccard null ⇒ novel, admit to the corpus. */
  def nearDupDecisions(docs: DataFrame, corpusBands: DataFrame,
      corpusSigs: DataFrame): DataFrame = {
    val sigged = docs
      .withColumn("tokens", expr(tokensExpr))
      .withColumn("shingles", expr(shinglesExpr))
      .withColumn("sigarr",
        expr(s"minhash_mix(transform(shingles, s -> ${Portable.phashExpr("s")} % $MixMod))"))
    val flat = sigged.select(
      Seq(col("doc_id").as("batch_doc"), col("ts")) ++
        (0 until MinhashK).map(j => element_at(col("sigarr"), j + 1).as(s"a_sig_$j")): _*)
    val bandKeys = (0 until Bands).map(b =>
      concat_ws(":", col(s"a_sig_${2 * b}"), col(s"a_sig_${2 * b + 1}")))
    val bands = flat.select(
      Seq(col("batch_doc"), col("ts")) ++
        (0 until MinhashK).map(j => col(s"a_sig_$j")) :+
        posexplode(array(bandKeys: _*)).as(Seq("band", "key")): _*)
    // Two corpus-band shapes are accepted: the derived frame keyed
    // (band, key), and the PERSISTED bucketed table keyed by the
    // folded "band:key" bkey (ops/BandIndex) — probing the latter
    // joins on the single bkey column so the bucket layout's
    // co-partitioning can fire (the stream/batch side shuffles only
    // itself into the corpus layout; st06 is this composition under
    // a real readStream in StreamingSpec).
    val bandJoined =
      if (corpusBands.columns.contains("bkey"))
        bands.withColumn("bkey", concat_ws(":", col("band"), col("key")))
          .join(corpusBands, Seq("bkey"), "left")
      else bands.join(corpusBands, Seq("band", "key"), "left")
    val joined = bandJoined.join(corpusSigs, Seq("corpus_doc"), "left")
    val matches = (0 until MinhashK)
      .map(j => when(col(s"a_sig_$j") === col(s"b_sig_$j"), 1).otherwise(0))
      .reduce(_ + _)
    val est = matches.cast("double") / MinhashK.toDouble
    // sentinel-coded (est, -id) pair: candidates below threshold and
    // band misses collapse to (-1, -MaxValue), so max() picks the
    // highest-estimate / lowest-id witness iff one exists
    val scored = joined.select(col("batch_doc"), col("ts"),
      when(col("corpus_doc").isNotNull && est >= 0.5, est)
        .otherwise(lit(-1.0)).as("e"),
      when(col("corpus_doc").isNotNull && est >= 0.5, -col("corpus_doc"))
        .otherwise(lit(Long.MinValue)).as("negid"))
    scored
      .groupBy(window(col("ts"), "10 minutes"), col("batch_doc"))
      .agg(max(struct(col("e"), col("negid"))).as("best"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("batch_doc"),
        when(col("best.e") >= 0.5, -col("best.negid")).as("dup_of"),
        when(col("best.e") >= 0.5, round(col("best.e"), 6)).as("est_jaccard"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: canonical doc per distinct text (hash-groupBy —
    // at scale this is one exchange on a 128-bit digest, never on the
    // full text bytes)
    "dd01_exact_dedup" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("canonical_doc_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("text_hash")),

    // MinHash signatures (k=8 over 3-word shingles)
    "dd02_minhash_sig" -> ((s, d) =>
      minhashSignatures(s, d).orderBy("doc_id")),

    // MinHash-LSH candidate pairs: band on (sig_2b, sig_2b+1), join
    // within band buckets, estimate Jaccard from full signatures
    "dd03_lsh_pairs" -> ((s, d) =>
      lshVerifiedPairs(minhashSignatures(s, d))
        .orderBy("doc_a", "doc_b")),

    // SimHash (32-bit) per document, fused into ONE codegen pass
    // (functions/VectorExprs.SimhashMix): token hashes → bit-majority
    // vote → signature, all inside a narrow per-row loop. The earlier
    // relational form (explode tokens × crossJoin 32 bits → two
    // aggregations) shuffled 32× the token volume; this plan shuffles
    // nothing but the final sort. The null filter keeps the row set
    // identical to the relational/oracle form, which emits no row for
    // a token-less doc.
    "dd04_simhash" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .select(col("doc_id"),
          expr(s"simhash_mix(transform(tokens, t -> ${Portable.phashExpr("t")}))").as("simhash"))
        .filter(col("simhash").isNotNull)
        .orderBy("doc_id")
    }),

    // n-gram (3-shingle) Jaccard similarity via inverted-index join:
    // pairs form ONLY on shared shingles (near-linear candidate set).
    // Two guards keep the posting-list pair generation from going
    // quadratic at scale (a 10× dup-heavy corpus measured 102× slower
    // without them — see ScaleStress):
    //   1. near-dup runs over CANONICAL texts only (min doc_id per
    //      distinct text) — exact duplicates are dd01's job, and they
    //      multiply every posting list they touch;
    //   2. stop-shingle cap: shingles appearing in > MaxShingleDf docs
    //      are dropped (df² pair work, negligible signal).
    // Shingles are 60-bit-hashed before the join — 8-byte keys — and
    // the posting list is computed once and cached.
    "dd05_ngram_jaccard" -> ((s, d) => {
      val canonical = Tables.documents(s, d)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      // explode_outer + isnotnull, not plain explode: inner explode
      // makes the optimizer infer a `size(...) > 0` pre-Generate
      // filter that re-evaluates the whole tokenize→shingle→hash HOF
      // chain a second time per row (measured ~2× on this, the
      // query's dominant narrow stage)
      // sh0 is cached (not just the post-cap frame): both `hot` and
      // `sh` consume it, and without the cache each would re-run the
      // tokenize→shingle→hash→distinct chain over the corpus (the
      // plan showed the chain at two compute sites)
      val sh0 = memoFrame(s, d, "dd05_sh0")(canonical
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("shingles", expr(shinglesExpr))
        .select(col("doc_id"),
          explode_outer(expr(s"array_distinct(transform(shingles, s -> ${graft.functions.Portable.phashExpr("s")}))")).as("sh"))
        .filter(col("sh").isNotNull)
        .cache())
      val hot = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxShingleDf).select("sh")
      val sh = memoFrame(s, d, "dd05_sh")(
        sh0.join(broadcast(hot), Seq("sh"), "left_anti").cache())
      val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val common = sh.as("a")
        .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"))
      common // counts grow with corpus size — let AQE pick the join
        .join(counts.toDF("doc_a", "n_a"), "doc_a")
        .join(counts.toDF("doc_b", "n_b"), "doc_b")
        .withColumn("jaccard",
          col("common").cast("double") /
            (col("n_a") + col("n_b") - col("common")).cast("double"))
        .filter(col("jaccard") >= 0.3)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // Candidate pairs → duplicate CLUSTERS (connected components) with
    // a canonical representative — the step that actually dedups a
    // corpus: keep cluster_rep, drop the rest. Pregel-style min-label
    // propagation: each iteration is one distributed join + aggregate,
    // the driver sees only a scalar convergence count, and
    // localCheckpoint() cuts the growing lineage (iterative-plan
    // hygiene). Converges in O(component diameter) rounds — near-dup
    // graphs are dense blobs with tiny diameters; a corpus with long
    // chain topologies would switch to the large-star/small-star
    // alternation, which is the same join primitive
    // The whole builder is memoized per session+dir: cur05 and ds07
    // embed this operator, and the convergence loop runs actions at
    // build time — without the memo each consumer re-paid the full
    // CC iteration (measured ~3.7 s each at sf0.1).
    "dd07_dup_clusters" -> ((s, d) => memoFrame(s, d, "dd07_clusters") {
      val pairs = verifiedPairs(s, d)
      // Canonicalize-first (the dd05/dd06 guard, applied to the graph):
      // docs with IDENTICAL full signatures always pair (they share
      // every band), so they provably share a component — collapse
      // each signature group to its min doc_id, iterate on the
      // collapsed graph (dup multiplicity gone), and expand labels
      // back through the doc→canonical map at the end. Output is
      // bit-identical to iterating on the raw pair graph.
      val sigs = minhashSignatures(s, d)
      val sigKey = (0 until MinhashK).map(j => col(s"sig_$j"))
      val docCanon = sigs
        .withColumn("canon", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(sigKey: _*)))
        .select(col("doc_id"), col("canon")).cache()
      val inPairs = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
        .join(docCanon, "doc_id").cache()
      val cPairs = pairs
        .join(docCanon.toDF("doc_a", "canon_a"), "doc_a")
        .join(docCanon.toDF("doc_b", "canon_b"), "doc_b")
        .filter(col("canon_a") =!= col("canon_b"))
        .select("canon_a", "canon_b").distinct()
      val edges = cPairs.union(cPairs.select(col("canon_b"), col("canon_a")))
        .toDF("src", "dst").cache()
      // nodes = ALL canon nodes in pairs, not just edge endpoints: a
      // signature group whose pairs are all internal has no cross-
      // canon edge but must still label itself
      val labels = minLabelFixpoint(edges,
        inPairs.select(col("canon").as("node")).distinct())
      // materialize the (small) result, then release every frame this
      // build pinned (pairs stays — it is the shared memo frame) — a
      // long-lived driver must not accumulate cached relations
      val result = inPairs.join(labels, inPairs("canon") === labels("node"))
        .select(col("doc_id"), col("label").as("cluster_rep"))
        .orderBy("doc_id")
        .localCheckpoint()
      Seq(docCanon, inPairs, edges).foreach(_.unpersist())
      result
    }),

    // Edit-distance verification — the precision stage a production
    // dedup pipeline runs AFTER candidate generation: LSH candidates
    // are joined back to their texts and confirmed with true
    // Levenshtein similarity 1 - dist/max(len). Two guards make it
    // scale:
    //   1. canonicalize-first (the dd05 guard): signatures are built
    //      over the canonical doc per distinct text only. Exact
    //      duplicates are dd01's job, they inflate every LSH bucket
    //      quadratically in copy count (a 10× dup-stacked corpus
    //      measured 73× slower without this), and their pairs carry
    //      zero near-dup information;
    //   2. pairs form only within LSH bands (near-linear candidate
    //      set), so the O(len_a·len_b) Levenshtein — the reason this
    //      can never run all-pairs — is paid once per candidate.
    // The text joins hash-partition on doc_id; texts never enter a
    // shuffle key. At 100 TB the further refinement is Spark's 3-arg
    // bounded levenshtein(l, r, threshold), which abandons a pair
    // early once the bound is exceeded; not used here because the
    // 2-arg form is what the oracle can mirror.
    "dd09_editdist_verify" -> ((s, d) => {
      val cand = lshVerifiedPairs(minhashSignatures(s, d, canonical = true))
        .select("doc_a", "doc_b")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      cand
        .join(docs.toDF("doc_a", "text_a"), "doc_a")
        .join(docs.toDF("doc_b", "text_b"), "doc_b")
        // explode(array(...)) barrier (the df01 pattern): the filter
        // on edit_sim would otherwise inline the levenshtein alias and
        // the O(len_a·len_b) kernel would run twice per pair (filter +
        // projection — 2 occurrences in the physical plan). Predicates
        // on a generated attribute stay above the Generate.
        .select(col("doc_a"), col("doc_b"), col("text_a"), col("text_b"),
          explode(array(levenshtein(col("text_a"), col("text_b")).cast("long")))
            .as("edit_dist"))
        .withColumn("edit_sim",
          round(lit(1.0) - col("edit_dist").cast("double") /
            nullif(greatest(length(col("text_a")), length(col("text_b"))), lit(0))
              .cast("double"), 6))
        .filter(col("edit_sim") >= 0.8)
        .select("doc_a", "doc_b", "edit_dist", "edit_sim")
        .orderBy("doc_a", "doc_b")
    }),

    // Benchmark decontamination — the gate a pretraining pipeline runs
    // before any eval is trusted: flag every TRAIN doc that shares
    // n-gram shingles with the held-out EVAL set (GPT-3-style n-gram
    // overlap; 3-word shingles here, mirroring the dedup family's
    // vocabulary). Shape is the whole scale story:
    //   - the eval index is distinct hashed shingles over a 1-in-20
    //     hash-held-out slice — eval benchmarks are bounded (MBs) no
    //     matter how large the train corpus grows, so the index is
    //     BROADCAST and the train side never shuffles its postings:
    //     the scan stays narrow, the broadcast-hash-join probe is
    //     map-side, and the only exchange carries one pre-reduced
    //     (doc_id, n_hit) row per CONTAMINATED doc — O(hits), not
    //     O(corpus);
    //   - unlike dd05 there is no df² pair risk: the eval side is a
    //     distinct set, so each train posting matches at most once
    //     (a production run would still drop boilerplate shingles
    //     from the eval index — the MaxShingleDf knob — to keep the
    //     flag's precision, not for cost).
    // Every copy of a contaminated text must be flagged, so this runs
    // over RAW docs, not dd05's canonical slice.
    "dd10_decontaminate" -> ((s, d) => {
      val docs = memoFrame(s, d, "dd10_docs")(Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("shingles", expr(shinglesExpr))
        .withColumn("is_eval",
          expr(s"${Portable.phashExpr("concat('ev:', CAST(doc_id AS STRING))")} % $EvalMod = 0"))
        .select(col("doc_id"), col("is_eval"),
          expr(s"array_distinct(transform(shingles, s -> ${Portable.phashExpr("s")}))").as("shs"))
        .cache()) // two consumers: eval index + train postings
      val evalSh = docs.filter(col("is_eval"))
        .select(explode(col("shs")).as("sh")).distinct()
      val train = docs.filter(!col("is_eval"))
        .select(col("doc_id"), size(col("shs")).as("n_sh"),
          explode_outer(col("shs")).as("sh"))
        .filter(col("sh").isNotNull)
      train.join(broadcast(evalSh), Seq("sh"))
        .groupBy("doc_id", "n_sh")
        .agg(count(lit(1)).as("n_hit"))
        .filter(col("n_hit") >= DecontamMinOverlap &&
          col("n_hit").cast("double") / col("n_sh").cast("double") >= DecontamMinRatio)
        .select(col("doc_id"), col("n_hit"),
          col("n_sh").cast("long").as("n_sh"),
          round(col("n_hit").cast("double") / col("n_sh").cast("double"), 6)
            .as("contamination"))
        .orderBy("doc_id")
    }),

    // Substring-level duplication (the unit below whole-doc near-dup:
    // repeated SPANS, per Lee et al. 2022 "Deduplicating Training
    // Data Makes Language Models Better" — their suffix-array ExactSubstr
    // re-expressed as a dataflow): a doc's 5-token k-grams that occur
    // in ≥ 2 distinct documents are duplicated spans; report each
    // doc's distinct-gram count, duplicated-gram count, and fraction.
    // The distributed form hashes each k-gram to 60 bits so the
    // exchange moves fixed-width longs, never text; the gram-df table
    // groups on that key (map-side combinable) and joins back on the
    // same key — at 100 TB both shuffles hash-partition evenly
    // (k-gram frequencies are zipf but the ≥2-doc test needs only
    // distinct doc counts, no pair blowup, unlike dd05's within-
    // bucket joins). Docs shorter than 5 tokens have no spans and no
    // row (none exist in this corpus; min length is 10).
    "dd11_substring_dup" -> ((s, d) => {
      val grams = memoFrame(s, d, "dd11_grams")(Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .select(col("doc_id"),
          explode(expr(
            """CASE WHEN size(tokens) >= 5
              |  THEN array_distinct(transform(sequence(0, size(tokens) - 5),
              |    i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2], tokens[i+3], tokens[i+4])))
              |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("gram"))
        .select(col("doc_id"), Portable.phash(col("gram")).as("gh"))
        // cached for its two consumers (gram-df build + the join
        // back), exactly dd05's posting-stream rationale: the
        // tokenize→gram→md5 chain is the dominant narrow stage and
        // would otherwise run twice. Like dd05's sh0/sh (and unlike
        // dd07, whose loop already forces execution and can therefore
        // materialize-then-unpersist), the entry stays lazy, so the
        // cache persists for the session behind the memo (clearMemo /
        // the cold protocols drop it); at 100 TB this is where a
        // serialized storage level or checkpoint replaces
        // MEMORY_AND_DISK.
        .cache())
      val gramDf = grams.groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      grams.join(gramDf, "gh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
        .withColumn("dup_frac",
          round(col("n_dup_grams").cast("double") / col("n_grams").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Multi-scale duplicated-span profile (dd21; round 13): dd11 at
    // dyadic span lengths {8, 16, 32} — per doc, how many positions
    // start a gram that occurs ≥ 2 times corpus-wide at each scale,
    // and the LARGEST scale with any repeat. This is Lee et al.'s
    // ExactSubstr span-length question answered at dyadic resolution
    // WITHOUT a suffix array: a distributed SA costs log(n) global
    // sorts (it is sort-based by nature), while each dyadic level
    // here is one map-side-combinable gram-hash aggregate over
    // fixed-width longs — no sort, no window, no text in the
    // exchange. Resolution is the honest tradeoff: a doc whose true
    // max span is 20 reports max_scale 16. Levels share one
    // memoized tokenize pass.
    "dd21_dup_span_scale" -> ((s, d) => {
      val scales = Seq(8, 16, 32)
      val tok = memoFrame(s, d, "dd21_tok")(Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .select(col("doc_id"), col("tokens"))
        .cache())
      def dups(l: Int): DataFrame = {
        // explode_outer + isnotnull: the round-4 inferred-filter
        // lesson (computed arrays explode outer)
        val grams = tok.select(col("doc_id"),
            explode_outer(expr(TextAnalysis.gramsExpr(l))).as("gram"))
          .filter(col("gram").isNotNull)
          .select(col("doc_id"), expr(Portable.phashExpr("gram")).as("gh"))
        val occ = grams.groupBy("gh").agg(count(lit(1)).as("occ"))
        grams.join(occ, "gh").filter(col("occ") >= 2)
          .groupBy("doc_id").agg(count(lit(1)).as(s"d$l"))
      }
      val spine = tok.select(col("doc_id"),
        expr("CAST(size(tokens) AS BIGINT)").as("n_tokens"))
      scales.foldLeft(spine)((df, l) => df.join(dups(l), Seq("doc_id"), "left"))
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("d8"), lit(0L)).as("d8"),
          coalesce(col("d16"), lit(0L)).as("d16"),
          coalesce(col("d32"), lit(0L)).as("d32"),
          expr("""CASE WHEN coalesce(d32, 0) > 0 THEN 32
                 |     WHEN coalesce(d16, 0) > 0 THEN 16
                 |     WHEN coalesce(d8, 0) > 0 THEN 8
                 |     ELSE 0 END""".stripMargin).as("max_scale"))
        .orderBy("doc_id")
    }),

    // PageRank over the near-dup graph (dd07's sibling: CC answers
    // "which docs form one duplicate family", PageRank answers "which
    // doc is the family's center" — the natural canonical-document
    // pick when quality signals tie). Fixed PrIters power iterations,
    // damping 0.85; per-node rank starts at 1/N. Each iteration is
    // ONE join (ranks ⋈ edges on src) + one map-side-combinable
    // aggregate on dst — the Pregel shape, exactly dd07's dataflow
    // with sum instead of min — chained as one lazy fixed-depth plan
    // (a CONSTANT 5 rounds needs no per-round checkpoint; deep runs
    // use [[pageRank]]'s checkpointEvery cadence — see its scaladoc
    // for the exactness and lineage rationale).
    "g01_pagerank" -> ((s, d) =>
      memoFrame(s, d, "g01_pagerank")(pageRank(s, d, PrIters))),

    // Sorted-neighborhood dedup (SNM) — the third candidate-generation
    // strategy next to LSH banding (dd03) and posting-list joins
    // (dd05): sort the corpus by a blocking key, compare each doc only
    // to its SnmWindow successors in sort order, verify candidates
    // with exact shingle Jaccard. Key = fixed-width prefix of the
    // SORTED token string (the classic ER choice: token-bag-similar
    // docs collide regardless of word order, and the truncation makes
    // the sort key constant-width). Candidate count is exactly n·W —
    // linear by construction, no df²/bucket-occupancy failure mode at
    // all; the trade is recall (near-dups whose sorted-token prefixes
    // diverge are missed), which is why production systems run SNM as
    // one of several passes with different keys.
    //
    // Scale shape: the global rank is ds04/ds05's two-phase
    // distributed prefix sum (per-bucket counts prefix-summed across
    // a tiny frame, then within-bucket row_number — no window sees
    // more than one bucket), candidates come from an EQUI-join on
    // rank+offset (explode of W offsets, hash join — never a range
    // self-join), and the shingle arrays are joined in only for the
    // n·W candidate pairs (dd09's pattern: texts/arrays never ride
    // the candidate shuffle). The 2-char bucket prefix assumes
    // roughly uniform key mass per prefix; a skewed 100 TB corpus
    // picks bucket boundaries from a key sample instead (range
    // partitioner), same dataflow.
    "dd12_snm_pairs" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val base = memoFrame(s, d, "dd12_base")(Tables.documents(s, d)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .withColumn("tokens", expr(tokensExpr))
        .withColumn("shingles", expr(shinglesExpr))
        .select(col("doc_id"),
          expr(s"substring(concat_ws(' ', array_sort(tokens)), 1, $SnmKeyLen)").as("key"),
          expr(s"array_distinct(transform(shingles, s -> ${Portable.phashExpr("s")}))").as("sha"))
        .withColumn("bucket", expr("substring(key, 1, 2)"))
        .cache()) // two consumers: bucket offsets + the ranked join
      val offs = base.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .withColumn("boff",
          coalesce(sum(col("bn")).over(
            W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select("bucket", "boff")
      val wIn = W.partitionBy("bucket").orderBy("key", "doc_id")
      val ranked = base.join(broadcast(offs), "bucket")
        .withColumn("rk", col("boff") + row_number().over(wIn).cast("long"))
        .select("doc_id", "rk")
      val cand = ranked.toDF("da", "rka")
        .withColumn("nbr", explode(expr(s"sequence(rka + 1, rka + $SnmWindow)")))
        .join(ranked.toDF("db", "nbr"), "nbr")
        .select("da", "db")
      val hs = base.select("doc_id", "sha")
      cand
        .join(hs.toDF("da", "ha"), "da")
        .join(hs.toDF("db", "hb"), "db")
        .withColumn("common", expr("size(array_intersect(ha, hb))").cast("long"))
        // common > 0 guard: two sub-3-token docs have EMPTY shingle
        // sets, and 0/0 = NaN sorts above every double in Spark, so
        // the >= 0.3 filter alone would emit a bogus NaN-scored pair
        .filter(col("common") > 0)
        .withColumn("jaccard", col("common").cast("double") /
          (expr("size(ha) + size(hb)").cast("long") - col("common")).cast("double"))
        .filter(col("jaccard") >= 0.3)
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // The dedup DECISION stage: within each near-dup cluster (dd07's
    // components) keep the highest-quality member, not the min-id one
    // — quality = distinct-token ratio (an exact rational, same axis
    // the df01 gate and ds06 sampler use), ties broken by doc_id. A
    // per-cluster row_number window picks the survivor; clusters are
    // near-dup families, so partitions are small by construction.
    // This is what a production pipeline actually executes after
    // dd03/dd07: "which copy do we train on".
    "cur05_keep_best" -> ((s, d) => {
      val clusters = queries("dd07_dup_clusters")(s, d)
        .select(col("doc_id"), col("cluster_rep"))
      val q = Tables.documents(s, d)
        .withColumn("tokens", expr(tokensExpr))
        .filter(expr("size(tokens) > 0"))
        .select(col("doc_id"),
          expr("CAST(size(array_distinct(tokens)) AS DOUBLE) / CAST(size(tokens) AS DOUBLE)")
            .as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_rep").orderBy(col("q").desc, col("doc_id").asc)
      clusters.join(q, "doc_id")
        .withColumn("rn", row_number().over(w))
        .groupBy("cluster_rep")
        .agg(max(when(col("rn") === 1, col("doc_id"))).as("best_doc"),
          count(lit(1)).as("n_members"),
          round(max(when(col("rn") === 1, col("q"))), 6).as("best_q"))
        .orderBy("cluster_rep")
    }),

    // INCREMENTAL dedup — the flow a 100 TB pipeline actually runs on
    // ingest day N+1: dedup the new batch (source = IncBatchSrc)
    // against the standing corpus WITHOUT re-pairing the corpus with
    // itself. Batch band keys probe the corpus band table — in
    // production a persisted, bucket-partitioned index maintained by
    // appending each accepted batch's bands (corpus text is never
    // re-scanned; here both sides derive from the same memoized
    // signature frame). The asymmetric join does |batch|-proportional
    // work: candidates form only inside shared band buckets, the
    // signature verify touches candidates only, and a per-batch-doc
    // row_number picks the best corpus match (est desc, id asc).
    // Output is the ingest decision table: one row per batch doc,
    // dup_of/est_jaccard null ⇒ novel, admit to the corpus.
    "dd13_incremental_dedup" -> ((s, d) => {
      val (corpusBands, corpusSigs) = corpusIndex(s, d)
      incrementalDecisions(s, d,
        corpusBands.select(
          concat_ws(":", col("band"), col("key")).as("bkey"), col("corpus_doc")),
        corpusSigs)
    }),

    // dd13's dataflow probed against the PERSISTED bucketed index
    // (ops/BandIndex): the corpus band table and signature table are
    // written once per (session, dir) as bucketBy parquet — the band
    // id folded into the bucket key so Spark's co-partition rule
    // fires — and every probe reads them pre-partitioned: only the
    // batch ships through an exchange (the no-exchange plan property
    // is Explain-asserted in BandIndexSpec; decisions are
    // row-identical to dd13, which this oracle row now proves under
    // the driver's DuckDB gate as well — the round-8 VERDICT gap).
    "dd15_bucketed_probe" -> ((s, d) =>
      BandIndex.probe(s, d, BandIndex.ensurePersisted(s, d))),

    // The full day-N+1 MAINTENANCE cycle the dd13/dd15 scaladocs
    // promise, under the oracle gate: probe the persisted index,
    // APPEND the admitted-novel batch docs' bands/signatures to the
    // bucketed tables (bucketBy is append-stable — same hash, same
    // bucket count — so the no-corpus-exchange probe plan survives,
    // re-asserted in BandIndexSpec), then re-probe the same batch
    // against the UPDATED index. Every formerly-novel doc now
    // resolves (self-match est 1.0, or an appended twin of smaller
    // id); formerly-dup docs keep or improve their match. The oracle
    // replays the cycle: corpus bands ∪ bands of batch docs the
    // first-pass decision left unmatched. Own index tag — dd15's
    // pristine index must never see these mutations.
    // Round-10 honesty fix: a FRESH index per invocation (persist →
    // probe → append novel → re-probe), so every bench sweep times
    // the real maintenance cycle instead of a run-once-guarded one
    // whose append was skipped on re-timing. The previous
    // invocation's index is dropped and its temp dir deleted.
    "dd16_index_append" -> ((s, d) =>
      BandIndex.freshCycle(s, d, "dd16")),

    // Day-N COMPACTION under the oracle gate: same cycle, but the
    // novel batch is appended in 4 disjoint day-slices (4 file sets
    // per bucket — the growth regime) and the index is then compacted
    // back to one file per bucket before the re-probe. The decisions
    // are DEFINED to equal dd16's (append slices union to the same
    // rows; compaction is a file rewrite under an unchanged bucket
    // spec), so a divergence means compaction changed the dataflow's
    // semantics — exactly what the gate must catch. Probe-time
    // flatness over the append history is recorded in SCALE_NOTES
    // ("index compaction").
    "dd17_index_compact" -> ((s, d) =>
      BandIndex.freshCycle(s, d, "dd17", appendSlices = 4, doCompact = true)),

    // RETENTION under the oracle gate — the day-N lifecycle's third
    // verb (append = dd16, compact = dd17, retire = here): probe the
    // fresh index (phase 0), retire RetiredSrcs' docs via the
    // bucket-preserving filtered rewrite, re-probe (phase 1). The
    // oracle replays phase 1 with the corpus CTEs filtered by the
    // same source predicate — the engine must behave as if the
    // retired docs were never indexed (their dup targets flip to
    // novel or fall back to surviving matches).
    "dd18_index_retention" -> ((s, d) =>
      BandIndex.retentionCycle(s, d, "dd18")),

    // BOUNDED-COST retention (round 12): dd18's semantics with the
    // delete itself O(retired) — phase 0 probes the fresh index,
    // RetiredSrcs' docs are TOMBSTONED (a tiny append; the
    // corpus-sized index files are untouched), phase 1 probes through
    // the broadcast anti-join mask, a compaction PURGES the
    // tombstoned rows (riding the per-bucket rewrite it was doing
    // anyway), phase 2 re-probes the purged files. Phases 1 and 2 are
    // defined identical to dd18's eager-retire phase 1, so the oracle
    // is dd18's SQL with its phase-1 decision emitted twice.
    "dd19_tombstone_retention" -> ((s, d) =>
      BandIndex.tombstoneRetentionCycle(s, d, "dd19")),

    // AUTO-COMPACTION policy (round 12): dd17's cycle with the
    // compaction decision automated — append slices through a
    // file-count threshold that fires the per-bucket rewrite inline,
    // bounding the probe's merge fan-in to a constant regardless of
    // append history (both the firing and the bound are asserted
    // in-cycle). Decisions invariant to when the policy fires, so
    // the oracle is dd16's.
    "dd20_auto_compact" -> ((s, d) =>
      BandIndex.autoCompactCycle(s, d, "dd20")),

    // SIZE-TIERED fold (round 17): dd17's growth regime maintained by
    // the BOUNDED verb — the novel slices land under distinct stamps
    // (three sub-tier segments), BandIndex.tieredMerge folds them into
    // one merged segment through IndexCore's fold commit (the second
    // family through that mechanism), the base build's files stay
    // byte-untouched (asserted in-cycle), and the re-probe reads
    // through the fold visibility filter. The fold is a layout
    // event — decisions are DEFINED identical to dd16's, so the
    // oracle is the same SQL.
    "dd22_band_tiered_merge" -> ((s, d) =>
      BandIndex.tieredCycle(s, d, "dd22"))
  )

  /** Power-iteration PageRank over the near-dup graph (g01's body,
    * with the iteration count and checkpoint cadence as parameters).
    * Each iteration is ONE join (ranks ⋈ edges on src) + one
    * map-side-combinable aggregate on dst — the Pregel shape, exactly
    * dd07's dataflow with sum instead of min. In-sums are
    * decimal-exact (DECIMAL(28,14)): contribution addends are
    * identical doubles in both engines by induction from the exact
    * 1/N start, so chained float iterations stay bit-identical where
    * a double sum would drift with grouping order. Damping constants
    * are literal 0.15/0.85 on BOTH sides — never (1 - 0.85), which
    * rounds differently than the 0.15 literal.
    *
    * `checkpointEvery`: a CONSTANT small iteration count (g01's 5) is
    * a constant plan depth and runs as one lazy chained plan — no
    * action at construction, and the plan gate (PlanScan) sees the
    * real join tree. Past ~10 iterations the chained lineage itself
    * becomes the cost (each localCheckpoint-free round re-plans a
    * deeper tree, and optimizer time grows superlinearly), so deep
    * runs cut it with a `localCheckpoint` every `checkpointEvery`
    * rounds — dd07/g02's hygiene, applied on a cadence because
    * PageRank's rounds are much cheaper than its materializations.
    * Values are unchanged either way (checkpoint is a plan barrier,
    * not an arithmetic one); measured flat per-iteration cost at 10×
    * in SCALE_NOTES.md. */
  private[graft] def pageRank(s: SparkSession, d: String, iters: Int,
      checkpointEvery: Int = Int.MaxValue): DataFrame = {
    val edges = verifiedEdges(s, d)
    val nF = edges.select("src").distinct()
      .agg(count(lit(1)).cast("double").as("n_nodes"))
    // node frame carries degree AND the teleport term 0.15/N so the
    // loop body never re-joins the 1-row count frame
    val deg = memoFrame(s, d, "g01_deg")(
      edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .crossJoin(broadcast(nF))
        .select(col("node"), col("deg"), (lit(0.15) / col("n_nodes")).as("base"),
          col("n_nodes"))
        .cache())
    var rk = deg.select(col("node"), (lit(1.0) / col("n_nodes")).as("r"))
    // Superseded-checkpoint hygiene — see [[Ckpt.roll]] (plan-derived
    // RDD identification; a 100-iteration run would otherwise
    // accumulate iters/cadence dead rank frames).
    var prevCkpt: scala.collection.Set[Int] = Set.empty
    for (k <- 1 to iters) {
      val contrib = rk.join(deg, "node")
        .select(col("node").as("src"),
          (col("r") / col("deg").cast("double")).as("c"))
      val sums = edges.join(contrib, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double").as("in_sum"))
      rk = deg.join(sums, Seq("node"), "left")
        .select(col("node"),
          (col("base") + lit(0.85) * coalesce(col("in_sum"), lit(0.0))).as("r"))
      if (k % checkpointEvery == 0 && k < iters) {
        val rolled = Ckpt.roll(s, rk, prevCkpt)
        rk = rolled._1
        prevCkpt = rolled._2
      }
    }
    rk.select(col("node").as("doc_id"), round(col("r"), 8).as("pagerank"))
      .orderBy("doc_id")
  }

  /** The incremental-dedup probe dataflow, parameterized over WHERE
    * the corpus index lives: dd13 passes the session-derived frames
    * from [[corpusIndex]]; [[BandIndex]] passes the persisted
    * bucketed tables, under which the corpus side of both the band
    * probe and the signature verify reads pre-partitioned — no
    * corpus-sized exchange, batch-proportional work only (the 100 TB
    * ingest path; proven plan-level in BandIndexSpec).
    *
    * `corpusBands`: (bkey, corpus_doc) where bkey = "band:key" — ONE
    * join column, so a table bucketed on bkey co-partitions with the
    * probe under requireAllClusterKeysForCoPartition (a (band, key)
    * pair of keys over a key-only bucket layout would not, and the
    * planner falls back to shuffling both sides). `corpusSigs`:
    * (corpus_doc, b_sig_0..k-1). Output: one decision row per batch
    * doc — dup_of/est_jaccard null ⇒ novel, admit to the corpus. */
  private[graft] def incrementalDecisions(s: SparkSession, d: String,
      corpusBands: DataFrame, corpusSigs: DataFrame): DataFrame =
    incrementalDecisionsSigned(s, d, corpusBands, corpusSigs)._1

  /** [[incrementalDecisions]] that ALSO hands back the pinned batch
    * signature frame (doc_id, sig_0..k-1) the decisions were computed
    * from (round 18, guide §1.2 "don't compute things you throw
    * away"): the maintenance cycles' append step used to re-sign the
    * admitted subset from a fresh documents scan — a second
    * batch-sized sign pass whose output the probe had already
    * materialized. Callers join the returned frame down to the
    * admitted ids and write; signatures are deterministic per text,
    * so the written rows are bit-identical to a re-sign. */
  private[graft] def incrementalDecisionsSigned(s: SparkSession, d: String,
      corpusBands: DataFrame, corpusSigs: DataFrame): (DataFrame, DataFrame) = {
    // batch side signed batch-scoped (round 17): the source predicate
    // prunes the documents scan BEFORE the signature projection, so
    // the probe's signing work is ∝ the arriving batch — the old form
    // joined the corpus-wide memoized array down to the batch. PINNED
    // because incrementalDecisionsFor consumes the frame three times
    // (band explode, signature match, decision spine): the corpus
    // memo used to be that barrier; this is its batch-sized analog.
    val batchSigs = signDocs(
      Tables.documents(s, d).filter(col("source") === IncBatchSrc)
        .select("doc_id", "text")).localCheckpoint()
    (incrementalDecisionsFor(batchSigs, corpusBands, corpusSigs), batchSigs)
  }

  /** [[incrementalDecisions]] generalized over the BATCH side: the
    * probe dataflow for any (doc_id, sig_0..k-1) batch-signature
    * frame — st07's day-2 re-ingest presents yesterday's feed under
    * shifted doc ids, signing the batch's original texts batch-scoped
    * ([[signDocs]]). */
  private[graft] def incrementalDecisionsFor(batchSigs: DataFrame,
      corpusBands: DataFrame, corpusSigs: DataFrame): DataFrame = {
    val bandKeys = (0 until Bands).map(b =>
      concat_ws(":", col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}")))
    val bb = batchSigs
      .select(col("doc_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
      .select(col("doc_id"),
        concat_ws(":", col("band"), col("key")).as("bkey"))
    val cand = bb.as("a")
      .join(corpusBands.as("b"), col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("batch_doc"), col("b.corpus_doc"))
      .distinct()
    val sa = batchSigs.toDF(
      "batch_doc" +: (0 until MinhashK).map(j => s"a_sig_$j"): _*)
    val matches = (0 until MinhashK)
      .map(j => when(col(s"a_sig_$j") === col(s"b_sig_$j"), 1).otherwise(0))
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("batch_doc")
      .orderBy(col("est_jaccard").desc, col("corpus_doc").asc)
    val best = cand.join(sa, "batch_doc").join(corpusSigs, "corpus_doc")
      .withColumn("est_jaccard", matches.cast("double") / MinhashK.toDouble)
      .filter(col("est_jaccard") >= 0.5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("batch_doc"), col("corpus_doc").as("dup_of"), col("est_jaccard"))
    batchSigs
      .select(col("doc_id").as("batch_doc"))
      .join(best, Seq("batch_doc"), "left")
      .orderBy("batch_doc")
  }

  val oracle: Map[String, String] = baseOracle +
    // dd15 = dd13 probed via the persisted bucketed index; the
    // DECISIONS are defined to be identical, so the oracle is the
    // same SQL — a divergence means the persisted layout changed the
    // dataflow's semantics, exactly what the gate must catch.
    ("dd15_bucketed_probe" -> baseOracle("dd13_incremental_dedup")) +
    // dd16 = dd13's cycle plus the maintenance append: the oracle
    // re-runs the probe with corpus bands ∪ the bands of batch docs
    // the FIRST pass left unmatched (adm) — exactly what the engine's
    // append wrote into the bucketed tables.
    // dd17 = dd16's cycle with the append split into day-slices and a
    // compaction before the re-probe. Slices union to the same band/
    // signature rows and compaction is a content-preserving file
    // rewrite, so the decision table is DEFINED identical to dd16's —
    // the oracle is the same SQL.
    ("dd17_index_compact" -> dd16OracleSql) +
    ("dd16_index_append" -> dd16OracleSql) +
    ("dd18_index_retention" -> dd18OracleSql) +
    // dd19 = dd18 with the retire split into tombstone-mask (phase 1)
    // and physical purge (phase 2): both phases must equal the eager
    // retire's decisions, so the oracle emits dec1 twice.
    ("dd19_tombstone_retention" -> dd19OracleSql) +
    // dd20 = dd16's decisions with compaction automated mid-appends;
    // content-preserving either way, same SQL.
    ("dd20_auto_compact" -> dd16OracleSql) +
    // dd22 = dd16's decisions with the sliced appends folded by the
    // size-tiered merge before the re-probe; the fold is a layout
    // event (same rows, merged stamp), same SQL.
    ("dd22_band_tiered_merge" -> dd16OracleSql)

  /** Two-phase replay of the retention cycle: phase 0 probes the full
    * corpus; phase 1 probes the corpus MINUS [[BandIndex.RetiredSrcs]]
    * — the SQL-level definition of "behaves as if the retired docs
    * were never indexed". */
  private lazy val dd18OracleSql: String =
    s"""$retentionOracleCtes
       |SELECT * FROM dec0
       |UNION ALL
       |SELECT * FROM dec1
       |ORDER BY phase, batch_doc""".stripMargin

  /** dd19's three-phase form: the tombstone mask (phase 1) and the
    * post-purge probe (phase 2) are both defined equal to the eager
    * retire's decisions, so dec1 is emitted under both phase ids. */
  private lazy val dd19OracleSql: String =
    s"""$retentionOracleCtes
       |SELECT * FROM dec0
       |UNION ALL
       |SELECT * FROM dec1
       |UNION ALL
       |SELECT 2 AS phase, batch_doc, dup_of, est_jaccard FROM dec1
       |ORDER BY phase, batch_doc""".stripMargin

  /** Shared CTE block for the retention oracles: dec0 = the full
    * incremental decision table, dec1 = the same probe with the
    * corpus CTEs filtered by NOT IN [[BandIndex.RetiredSrcs]]. */
  private lazy val retentionOracleCtes: String = {
    val retired = BandIndex.RetiredSrcs.map(s => s"'$s'").mkString(", ")
    s"""WITH $minhashCte,
       |src AS (SELECT doc_id, source FROM documents),
       |bands AS (
       |  $bandSelects
       |),
       |bb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
       |       WHERE s.source = '$IncBatchSrc'),
       |cb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
       |       WHERE s.source <> '$IncBatchSrc'),
       |cbr AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
       |        WHERE s.source <> '$IncBatchSrc'
       |          AND s.source NOT IN ($retired)),
       |bdocs AS (SELECT doc_id FROM documents WHERE source = '$IncBatchSrc'),
       |cand0 AS (
       |  SELECT DISTINCT bb.doc_id AS batch_doc, cb.doc_id AS corpus_doc
       |  FROM bb JOIN cb ON bb.key = cb.key AND bb.band = cb.band
       |),
       |v0 AS (
       |  SELECT batch_doc, corpus_doc,
       |         CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
       |  FROM cand0
       |  JOIN sigs sa ON sa.doc_id = batch_doc
       |  JOIN sigs sb ON sb.doc_id = corpus_doc
       |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
       |),
       |best0 AS (
       |  SELECT batch_doc, corpus_doc AS dup_of, est_jaccard,
       |         row_number() OVER (PARTITION BY batch_doc
       |                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
       |  FROM v0
       |),
       |dec0 AS (
       |  SELECT 0 AS phase, d.doc_id AS batch_doc, b.dup_of, b.est_jaccard
       |  FROM bdocs d LEFT JOIN best0 b ON b.batch_doc = d.doc_id AND b.rn = 1
       |),
       |cand1 AS (
       |  SELECT DISTINCT bb.doc_id AS batch_doc, cbr.doc_id AS corpus_doc
       |  FROM bb JOIN cbr ON bb.key = cbr.key AND bb.band = cbr.band
       |),
       |v1 AS (
       |  SELECT batch_doc, corpus_doc,
       |         CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
       |  FROM cand1
       |  JOIN sigs sa ON sa.doc_id = batch_doc
       |  JOIN sigs sb ON sb.doc_id = corpus_doc
       |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
       |),
       |best1 AS (
       |  SELECT batch_doc, corpus_doc AS dup_of, est_jaccard,
       |         row_number() OVER (PARTITION BY batch_doc
       |                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
       |  FROM v1
       |),
       |dec1 AS (
       |  SELECT 1 AS phase, d.doc_id AS batch_doc, b.dup_of, b.est_jaccard
       |  FROM bdocs d LEFT JOIN best1 b ON b.batch_doc = d.doc_id AND b.rn = 1
       |)""".stripMargin
  }

  private lazy val dd16OracleSql: String =
      s"""WITH $minhashCte,
         |src AS (SELECT doc_id, source FROM documents),
         |bands AS (
         |  $bandSelects
         |),
         |bb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
         |       WHERE s.source = '$IncBatchSrc'),
         |cb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
         |       WHERE s.source <> '$IncBatchSrc'),
         |cand AS (
         |  SELECT DISTINCT bb.doc_id AS batch_doc, cb.doc_id AS corpus_doc
         |  FROM bb JOIN cb ON bb.key = cb.key AND bb.band = cb.band
         |),
         |v AS (
         |  SELECT batch_doc, corpus_doc,
         |         CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = batch_doc
         |  JOIN sigs sb ON sb.doc_id = corpus_doc
         |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
         |),
         |best AS (
         |  SELECT batch_doc,
         |         row_number() OVER (PARTITION BY batch_doc
         |                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
         |  FROM v
         |),
         |adm AS (
         |  SELECT doc_id FROM documents WHERE source = '$IncBatchSrc'
         |    AND doc_id NOT IN (SELECT batch_doc FROM best WHERE rn = 1)
         |),
         |cb2 AS (
         |  SELECT * FROM cb
         |  UNION ALL
         |  SELECT b.* FROM bands b JOIN adm ON adm.doc_id = b.doc_id
         |),
         |cand2 AS (
         |  SELECT DISTINCT bb.doc_id AS batch_doc, cb2.doc_id AS corpus_doc
         |  FROM bb JOIN cb2 ON bb.key = cb2.key AND bb.band = cb2.band
         |),
         |v2 AS (
         |  SELECT batch_doc, corpus_doc,
         |         CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
         |  FROM cand2
         |  JOIN sigs sa ON sa.doc_id = batch_doc
         |  JOIN sigs sb ON sb.doc_id = corpus_doc
         |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
         |),
         |best2 AS (
         |  SELECT batch_doc, corpus_doc AS dup_of, est_jaccard,
         |         row_number() OVER (PARTITION BY batch_doc
         |                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
         |  FROM v2
         |)
         |SELECT d.doc_id AS batch_doc, b2.dup_of, b2.est_jaccard
         |FROM (SELECT doc_id FROM documents WHERE source = '$IncBatchSrc') d
         |LEFT JOIN best2 b2 ON b2.batch_doc = d.doc_id AND b2.rn = 1
         |ORDER BY batch_doc""".stripMargin

  private lazy val baseOracle: Map[String, String] = Map(
    "dd01_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,

    "dd02_minhash_sig" ->
      s"""WITH $minhashCte
         |SELECT * FROM sigs ORDER BY doc_id""".stripMargin,

    "dd03_lsh_pairs" ->
      s"""WITH $minhashCte,
         |bands AS (
         |  $bandSelects
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.key = b.key AND a.band = b.band AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b,
         |       CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON sa.doc_id = doc_a
         |JOIN sigs sb ON sb.doc_id = doc_b
         |WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd07_dup_clusters" -> {
      // min-label reachability as a recursive CTE: UNION dedups, so
      // the fixpoint is the set of (node, reachable label) pairs;
      // min(label) per node = the component's min doc_id
      s"""WITH RECURSIVE $lshPairsCte,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM p
         |),
         |cc(doc_id, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.doc_id = e.src
         |)
         |SELECT doc_id, min(label) AS cluster_rep
         |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "dd04_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |h AS (
         |  SELECT doc_id, ${Portable.phashSql("t")} AS h
         |  FROM (SELECT doc_id, unnest(tokens) AS t FROM tok) u
         |),
         |bits AS (
         |  SELECT doc_id, b,
         |         CAST(sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS sgn
         |  FROM h, (SELECT unnest(generate_series(0, 31)) AS b) bb
         |  GROUP BY doc_id, b
         |)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dd05_ngram_jaccard" ->
      s"""WITH canonical AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
         |),
         |tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM canonical
         |),
         |shl AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM tok
         |),
         |sh0 AS (
         |  SELECT doc_id,
         |         unnest(list_distinct(list_transform(shingles, s -> ${Portable.phashSql("s")}))) AS sh
         |  FROM shl
         |),
         |hot AS (
         |  SELECT sh FROM (SELECT sh, count(*) AS df FROM sh0 GROUP BY sh) t
         |  WHERE df > $MaxShingleDf
         |),
         |sh AS (
         |  SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)
         |),
         |counts AS (
         |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
         |),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |       round(CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE), 6) AS jaccard
         |FROM (SELECT common.*, ca.n_sh AS n_a, cb.n_sh AS n_b
         |      FROM common
         |      JOIN counts ca ON ca.doc_id = doc_a
         |      JOIN counts cb ON cb.doc_id = doc_b) t
         |WHERE CAST(common AS DOUBLE) / CAST(n_a + n_b - common AS DOUBLE) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd09_editdist_verify" ->
      s"""WITH canonical AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
         |),
         |${minhashCteFrom("canonical")},
         |bands AS (
         |  $bandSelects
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.key = b.key AND a.band = b.band AND a.doc_id < b.doc_id
         |),
         |p AS (
         |  SELECT doc_a, doc_b FROM cand
         |  JOIN sigs sa ON sa.doc_id = doc_a
         |  JOIN sigs sb ON sb.doc_id = doc_b
         |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
         |),
         |d AS (
         |  -- levenshtein once per pair (no CSE guarantee across select items)
         |  SELECT doc_a, doc_b,
         |         CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |         CAST(nullif(greatest(length(da.text), length(db.text)), 0) AS DOUBLE) AS mx
         |  FROM p
         |  JOIN documents da ON da.doc_id = doc_a
         |  JOIN documents db ON db.doc_id = doc_b
         |),
         |v AS (
         |  SELECT doc_a, doc_b, edit_dist,
         |         round(1.0 - CAST(edit_dist AS DOUBLE) / mx, 6) AS edit_sim
         |  FROM d
         |)
         |SELECT doc_a, doc_b, edit_dist, edit_sim
         |FROM v WHERE edit_sim >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd10_decontaminate" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |shl AS (
         |  SELECT doc_id, $shinglesSql AS shingles FROM tok
         |),
         |post AS (
         |  SELECT doc_id,
         |         ${Portable.phashSql("'ev:' || CAST(doc_id AS VARCHAR)")} % $EvalMod = 0 AS is_eval,
         |         unnest(list_distinct(list_transform(shingles, s -> ${Portable.phashSql("s")}))) AS sh
         |  FROM shl
         |),
         |ev AS (SELECT DISTINCT sh FROM post WHERE is_eval),
         |tr AS (SELECT doc_id, sh FROM post WHERE NOT is_eval),
         |n AS (SELECT doc_id, count(*) AS n_sh FROM tr GROUP BY 1),
         |hits AS (
         |  SELECT tr.doc_id, count(*) AS n_hit
         |  FROM tr JOIN ev USING (sh) GROUP BY 1
         |)
         |SELECT h.doc_id, n_hit, n_sh,
         |       round(CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE), 6) AS contamination
         |FROM hits h JOIN n USING (doc_id)
         |WHERE n_hit >= $DecontamMinOverlap
         |  AND CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE) >= $DecontamMinRatio
         |ORDER BY doc_id""".stripMargin,

    "dd11_substring_dup" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |g0 AS (
         |  SELECT doc_id,
         |         CASE WHEN len(tokens) >= 5
         |           THEN list_distinct(list_transform(generate_series(1, len(tokens) - 4),
         |             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' || tokens[i+3] || ' ' || tokens[i+4]))
         |           ELSE [] END AS grams
         |  FROM tok
         |),
         |g AS (
         |  SELECT doc_id, ${Portable.phashSql("gram")} AS gh
         |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g0)
         |),
         |df AS (SELECT gh, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY gh)
         |SELECT g.doc_id,
         |       count(*) AS n_grams,
         |       CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
         |       round(CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS dup_frac
         |FROM g JOIN df USING (gh)
         |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,

    // mirrors dd21 level for level: per-position gram hashes, total
    // occurrence counts, dup positions per doc at each dyadic scale
    "dd21_dup_span_scale" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM documents
         |),
         |${Seq(8, 16, 32).map { l =>
             s"""g$l AS (
                |  SELECT doc_id, ${Portable.phashSql("gram")} AS gh
                |  FROM (SELECT doc_id, unnest(${TextAnalysis.gramsSql(l)}) AS gram FROM tok) z$l
                |),
                |o$l AS (SELECT gh, count(*) AS occ FROM g$l GROUP BY gh),
                |dup$l AS (
                |  SELECT doc_id, CAST(count(*) AS BIGINT) AS d$l
                |  FROM g$l JOIN o$l USING (gh) WHERE occ >= 2 GROUP BY doc_id
                |)""".stripMargin
           }.mkString(",\n")}
         |SELECT t.doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
         |       coalesce(d8, 0) AS d8, coalesce(d16, 0) AS d16,
         |       coalesce(d32, 0) AS d32,
         |       CASE WHEN coalesce(d32, 0) > 0 THEN 32
         |            WHEN coalesce(d16, 0) > 0 THEN 16
         |            WHEN coalesce(d8, 0) > 0 THEN 8
         |            ELSE 0 END AS max_scale
         |FROM tok t
         |LEFT JOIN dup8 USING (doc_id)
         |LEFT JOIN dup16 USING (doc_id)
         |LEFT JOIN dup32 USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "g01_pagerank" -> {
      def iter(k: Int): String =
        s"""it$k AS (
           |  SELECT d.node,
           |         0.15 / n.n_nodes + 0.85 * coalesce(s.in_sum, 0.0) AS r
           |  FROM deg d CROSS JOIN n
           |  LEFT JOIN (
           |    SELECT e.dst AS node,
           |           CAST(sum(CAST(p.r / CAST(dg.deg AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE) AS in_sum
           |    FROM edges e JOIN it${k - 1} p ON p.node = e.src
           |    JOIN deg dg ON dg.node = e.src
           |    GROUP BY e.dst) s ON s.node = d.node
           |)""".stripMargin
      s"""WITH $minhashCte,
         |bands AS (
         |  $bandSelects
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.key = b.key AND a.band = b.band AND a.doc_id < b.doc_id
         |),
         |p0 AS (
         |  SELECT doc_a, doc_b FROM cand
         |  JOIN sigs sa ON sa.doc_id = doc_a
         |  JOIN sigs sb ON sb.doc_id = doc_b
         |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
         |),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p0
         |  UNION ALL SELECT doc_b, doc_a FROM p0
         |),
         |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM deg),
         |it0 AS (SELECT node, 1.0 / n_nodes AS r FROM deg, n),
         |${(1 to PrIters).map(iter).mkString(",\n")}
         |SELECT node AS doc_id, round(r, 8) AS pagerank
         |FROM it$PrIters ORDER BY doc_id""".stripMargin
    },

    "cur05_keep_best" ->
      s"""WITH RECURSIVE $lshPairsCte,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM p
         |),
         |cc(doc_id, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.doc_id = e.src
         |),
         |labels AS (
         |  SELECT doc_id, min(label) AS cluster_rep FROM cc GROUP BY doc_id
         |),
         |tok2 AS (SELECT doc_id, $tokensSql AS tokens FROM documents),
         |q AS (
         |  SELECT doc_id,
         |         CAST(len(list_distinct(tokens)) AS DOUBLE)
         |           / CAST(len(tokens) AS DOUBLE) AS q
         |  FROM tok2 WHERE len(tokens) > 0
         |),
         |ranked AS (
         |  SELECT l.cluster_rep, l.doc_id, q.q,
         |         row_number() OVER (PARTITION BY l.cluster_rep
         |                            ORDER BY q.q DESC, l.doc_id ASC) AS rn
         |  FROM labels l JOIN q USING (doc_id)
         |)
         |SELECT cluster_rep,
         |       max(CASE WHEN rn = 1 THEN doc_id END) AS best_doc,
         |       count(*) AS n_members,
         |       round(max(CASE WHEN rn = 1 THEN q END), 6) AS best_q
         |FROM ranked GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin,

    "dd12_snm_pairs" ->
      s"""WITH c AS (
         |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
         |),
         |tok AS (
         |  SELECT doc_id, $tokensSql AS tokens FROM c
         |),
         |shl AS (
         |  SELECT doc_id, tokens, $shinglesSql AS shingles FROM tok
         |),
         |base AS (
         |  SELECT doc_id,
         |         substr(array_to_string(list_sort(tokens), ' '), 1, $SnmKeyLen) AS key,
         |         list_distinct(list_transform(shingles, s -> ${Portable.phashSql("s")})) AS sha
         |  FROM shl
         |),
         |r AS (
         |  SELECT doc_id, sha, row_number() OVER (ORDER BY key, doc_id) AS rk FROM base
         |),
         |cand AS (
         |  SELECT a.doc_id AS da, a.sha AS ha, b.doc_id AS db, b.sha AS hb
         |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + $SnmWindow
         |),
         |j AS (
         |  SELECT da, db,
         |         len(list_filter(ha, x -> list_contains(hb, x))) AS common,
         |         len(ha) AS na, len(hb) AS nb
         |  FROM cand
         |)
         |SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
         |       round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6) AS jaccard
         |FROM j
         |WHERE common > 0
         |  AND CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd13_incremental_dedup" ->
      s"""WITH $minhashCte,
         |src AS (SELECT doc_id, source FROM documents),
         |bands AS (
         |  $bandSelects
         |),
         |bb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
         |       WHERE s.source = '$IncBatchSrc'),
         |cb AS (SELECT b.* FROM bands b JOIN src s ON s.doc_id = b.doc_id
         |       WHERE s.source <> '$IncBatchSrc'),
         |cand AS (
         |  SELECT DISTINCT bb.doc_id AS batch_doc, cb.doc_id AS corpus_doc
         |  FROM bb JOIN cb ON bb.key = cb.key AND bb.band = cb.band
         |),
         |v AS (
         |  SELECT batch_doc, corpus_doc,
         |         CAST($matchSum AS DOUBLE) / $MinhashK.0 AS est_jaccard
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = batch_doc
         |  JOIN sigs sb ON sb.doc_id = corpus_doc
         |  WHERE CAST($matchSum AS DOUBLE) / $MinhashK.0 >= 0.5
         |),
         |best AS (
         |  SELECT batch_doc, corpus_doc AS dup_of, est_jaccard,
         |         row_number() OVER (PARTITION BY batch_doc
         |                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
         |  FROM v
         |)
         |SELECT d.doc_id AS batch_doc, b.dup_of, b.est_jaccard
         |FROM (SELECT doc_id FROM documents WHERE source = '$IncBatchSrc') d
         |LEFT JOIN best b ON b.batch_doc = d.doc_id AND b.rn = 1
         |ORDER BY batch_doc""".stripMargin
  )
}
