package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, hash, lit, pmod}

/** Persisted form of the incremental-dedup corpus index
  * (SURVEY.md §2 extension; the 100 TB ingest layout).
  *
  * dd13/st05 derive the band index and signature frame from the
  * session-memoized minhash stage each run — correct, but at corpus
  * scale the index must live on disk and the per-batch probe must do
  * batch-proportional work against it. This object writes both frames
  * ONCE as bucketed parquet tables:
  *
  *   - `<prefix>_bands` (bkey, corpus_doc), bucketed by `bkey` =
  *     "band:key" — the band-probe join key. A probe batch shuffles
  *     only ITSELF into the corpus bucket layout; the corpus-sized
  *     side is read pre-partitioned, no exchange.
  *   - `<prefix>_sigs` (corpus_doc, b_sig_0..k-1), bucketed by
  *     `corpus_doc` — the signature-verify join key; same property.
  *
  * The band id is FOLDED INTO the bucket key rather than kept as a
  * second join column: Spark only reuses a bucket layout when the
  * partitioning covers the join keys exactly (the
  * requireAllClusterKeysForCoPartition default — measured here, a
  * (band, key) join over a key-only layout falls back to shuffling
  * both sides, with the scan stamped "Bucketed: false (disabled by
  * query planner)"). Maintenance is append-only: each accepted
  * batch's bands/sigs are inserted into the same bucketed tables
  * (bucketBy is stable under append), so corpus text is never
  * re-signed. Day-N maintenance then needs COMPACTION: every append
  * adds a file set per bucket, and the probe's per-bucket merge
  * widens with the file count — `compact` rewrites each bucket's
  * files into one, preserving the bucket spec, so probe cost stays
  * flat over the append history (SCALE_NOTES "index compaction").
  *
  * The lifecycle plumbing (writes, compaction, tombstones, the commit
  * log, tiered folds, registries) is [[IndexCore]]'s; this object
  * encodes batches into band/signature rows and probes them.
  *
  * BandIndexSpec proves the plan property: with broadcast disabled,
  * the probe's physical plan contains NO shuffle exchange above either
  * persisted corpus scan, and the decisions are row-identical to
  * dd13's derived-frame output — before an append, after it, and
  * after compaction.
  */
object BandIndex {

  /** DEFAULT bucket count — a BUILD parameter ([[persist]]'s
    * `buckets`); post-build verbs read the table's actual count from
    * the catalog ([[IndexCore.bucketsOf]]). */
  val Buckets = IndexCore.DefaultBuckets

  private val Bands = IndexCore.TableSpec("bands", "bkey", Seq("bkey"))
  private val Sigs = IndexCore.TableSpec("sigs", "corpus_doc", Seq("corpus_doc"))
  private val Fam = IndexCore.Family("graft_corpus", "", Seq("bands", "sigs"))

  def bandsTable(prefix: String): String = Bands.name(prefix)
  def sigsTable(prefix: String): String = Sigs.name(prefix)

  /** The base-build batch stamp — see [[IndexCore.BaseBatch]]. */
  val BaseBatch: Long = IndexCore.BaseBatch

  /** Write the corpus band index + signature table as bucketed
    * external tables under `path`, registered as
    * `<prefix>_bands` / `<prefix>_sigs`. */
  def persist(spark: SparkSession, dir: String, path: String,
      prefix: String = "graft_corpus", buckets: Int = Buckets): Unit = {
    val (bands, sigs) = Dedup.corpusIndex(spark, dir)
    IndexCore.writeTable(bands
      .select(concat_ws(":", col("band"), col("key")).as("bkey"), col("corpus_doc"))
      .withColumn("ingest_batch", lit(BaseBatch)), Bands, prefix, Some((path, buckets)))
    IndexCore.writeTable(sigs.withColumn("ingest_batch", lit(BaseBatch)),
      Sigs, prefix, Some((path, buckets)))
    IndexCore.commitBuild(spark, tables(prefix))
  }

  private def tables(prefix: String): Seq[String] = Seq(bandsTable(prefix), sigsTable(prefix))

  /** The incremental-batch decision table probed against the
    * PERSISTED index — same dataflow and output as dd13, but the
    * corpus side of every join reads the bucketed tables. */
  def probe(spark: SparkSession, dir: String,
      prefix: String = "graft_corpus",
      excludeBatch: Option[Long] = None): DataFrame = {
    val (bands, sigs) = corpusFrames(spark, prefix, excludeBatch)
    Dedup.incrementalDecisions(spark, dir, bands, sigs)
  }

  /** [[probe]] that also returns the pinned batch signature frame the
    * decisions were computed from: the cycles' append step joins it
    * down to the admitted ids instead of re-signing them from a second
    * documents scan — one sign pass per cycle, identical written rows
    * (signatures are deterministic per text). */
  private def probeSigned(spark: SparkSession, dir: String,
      prefix: String): (DataFrame, DataFrame) = {
    val (bands, sigs) = corpusFrames(spark, prefix, None)
    Dedup.incrementalDecisionsSigned(spark, dir, bands, sigs)
  }

  /** The batch docs a decision frame admits (dup_of null), as doc_id. */
  private def novelIds(dec: DataFrame): DataFrame =
    dec.filter(col("dup_of").isNull).select(col("batch_doc").as("doc_id"))

  /** Restrict a probe's pinned batch signature frame to the admitted
    * ids, shaped for the table writers (doc_id first, then the sig
    * columns — [[writeSigRows]] renames positionally). */
  private def sigsForAdmitted(batchSigs: DataFrame,
      admitted: DataFrame): DataFrame =
    batchSigs.join(
      admitted.select(col(admitted.columns.head).as("doc_id")), "doc_id")

  // ------------------------------------------------------------------
  // Tombstone retention — bounded-cost deletes. `retire` rewrites the
  // ENTIRE index to remove a bounded id set: correct, zero-exchange,
  // but corpus-linear I/O per right-to-be-forgotten batch. The
  // tombstone path makes the DELETE itself O(retired): expired ids land
  // in the index's commit log, every probe masks them with a broadcast
  // anti-join (the streamed side keeps its bucketed partitioning), and
  // the NEXT compaction physically purges the masked rows and clears
  // the set in the same commit. Decisions after `retireTombstone`
  // are DEFINED identical to an eager `retire` — dd19's three-phase
  // oracle pins mask, purge, and their equality.
  // ------------------------------------------------------------------

  /** O(retired)-cost retention: tombstone the expired corpus docs.
    * Probes exclude them immediately; the physical rows persist until
    * the next [[compact]] absorbs them. */
  def retireTombstone(spark: SparkSession, prefix: String,
      expired: DataFrame): Unit =
    IndexCore.recordTombstones(spark, bandsTable(prefix), expired)

  /** The persisted corpus frames as every probe reads them, batch or
    * stream ([[graft.streaming.Streams!.nearDupDedupStream]] takes
    * `excludeBatch = None`): fold visibility applied (folded rows
    * still on disk must not serve beside their merged copy),
    * optionally excluding one batch's rows
    * ([[maintainBatch]]'s replay fence), and tombstoned docs masked by
    * the broadcast anti-join. Every filter is a pushed comparison on
    * one long column above a bucketed scan, so the no-corpus-exchange
    * probe property is untouched.
    *
    * The fence is NULL-SAFE: `!= N` alone is three-valued, so a corpus
    * row with a NULL stamp (a table written by pre-stamp code, or an
    * external writer that omitted the column) would silently vanish
    * from the probe corpus. Unstamped rows are by definition not the
    * in-flight batch, so they are KEPT: `batch != N OR batch IS NULL`. */
  def corpusFrames(spark: SparkSession, prefix: String,
      excludeBatch: Option[Long]): (DataFrame, DataFrame) = {
    val st = IndexCore.state(spark, bandsTable(prefix))
    val tomb = IndexCore.retiredFrame(spark, st.retired)
    def f(t: String): DataFrame = {
      val vis = spark.table(t).filter(IndexCore.visibleUnder(st.log(prefix)))
      val base = excludeBatch.foldLeft(vis)((d, n) =>
        d.filter(col("ingest_batch") =!= n || col("ingest_batch").isNull))
      tomb.fold(base)(ts =>
        base.join(ts, base("corpus_doc") === ts("retired_id"), "left_anti"))
    }
    (f(bandsTable(prefix)), f(sigsTable(prefix)))
  }

  /** The dd15 catalog entry's index: built once per (session, dir,
    * tag) in a fresh temp dir and reused, so repeated bench sweeps
    * re-time the PROBE, not the build — the index is a durable
    * artifact, not per-query state. */
  def ensurePersisted(spark: SparkSession, dir: String,
      tag: String = "dd15"): String =
    IndexCore.ensurePersisted(spark, dir, Fam, tag, tag)((path, p) =>
      persist(spark, dir, path, p))

  /** Day-N+1 MAINTENANCE: append an admitted batch's band and
    * signature rows to the persisted index — the step the dd13/dd15
    * scaladocs promise ("append-only; corpus text is never
    * re-signed"). `admitted` is a (doc_id) frame of batch docs the
    * decision table called novel (dup_of null). `bucketBy` is STABLE
    * under append: the new file set hashes into the same bucket ids as
    * the original write, so the probe's no-corpus-exchange plan
    * property survives (BandIndexSpec re-asserts it post-append).
    *
    * The signature frame is MATERIALIZED once (cache + count) before
    * the two table writes: `admitted` is usually a probe-derived plan,
    * and without the pin the second write would re-run the full probe
    * against a bands table the first write just mutated. */
  def append(spark: SparkSession, dir: String, admitted: DataFrame,
      prefix: String, batchId: Long = BaseBatch): Unit = {
    // batch-scoped signing: the id join prunes the documents scan
    // BEFORE the signature projection, so an append's work is ∝ the
    // batch
    val adm = admitted.select(col(admitted.columns.head).as("doc_id"))
    val sigs = Dedup.signDocs(
      graft.Tables.documents(spark, dir).join(adm, "doc_id")
        .select("doc_id", "text")).cache()
    try {
      sigs.count() // pin BEFORE the first write mutates the bands table
      appendSigned(sigs, prefix, batchId)
    } finally sigs.unpersist()
  }

  /** [[append]] over a PRE-SIGNED, caller-pinned frame: the
    * multi-slice cycles sign the admitted union ONCE and lay each
    * slice down as its own file set. */
  private def appendSigned(sigs: DataFrame, prefix: String,
      batchId: Long = BaseBatch): Unit = {
    writeBandRows(sigs, prefix, batchId)
    writeSigRows(sigs, prefix, batchId)
    IndexCore.commitAppend(sigs.sparkSession, tables(prefix), batchId)
  }

  /** One atomic, batch-stamped band-table append: a Spark parquet
    * write job commits all-or-nothing, so with the stamp this is the
    * unit of idempotence [[maintainBatch]] fences on. */
  private def writeBandRows(sigs: DataFrame, prefix: String,
      batchId: Long): Unit = {
    val bandKeys = (0 until Dedup.Bands).map(b =>
      concat_ws(":", col(s"sig_${2 * b}"), col(s"sig_${2 * b + 1}")))
    IndexCore.writeTable(sigs
      .select(col("doc_id").as("corpus_doc"),
        org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.array(bandKeys: _*)).as(Seq("band", "key")))
      .select(concat_ws(":", col("band"), col("key")).as("bkey"), col("corpus_doc"))
      .withColumn("ingest_batch", lit(batchId)), Bands, prefix, None)
  }

  /** One atomic, batch-stamped signature-table append. */
  private def writeSigRows(sigs: DataFrame, prefix: String,
      batchId: Long): Unit =
    IndexCore.writeTable(
      sigs.toDF("corpus_doc" +: (0 until Dedup.MinhashK).map(j => s"b_sig_$j"): _*)
        .withColumn("ingest_batch", lit(batchId)), Sigs, prefix, None)

  /** Probe the index, append the batch docs judged NOVEL (dup_of
    * null). Appends unconditionally — callers that must not stack
    * appends own that guard (the dd16 catalog entry gets a FRESH index
    * per invocation instead, so its bench timing covers the real
    * cycle). */
  def appendNovel(spark: SparkSession, dir: String, prefix: String): Unit =
    append(spark, dir, novelIds(probe(spark, dir, prefix)), prefix)

  /** [[appendNovel]] at most once per (session, dir, prefix) — for
    * spec fixtures that probe an appended index repeatedly. */
  def appendNovelOnce(spark: SparkSession, dir: String, prefix: String): Unit = {
    IndexCore.once(spark, dir, s"appended:$prefix") {
      appendNovel(spark, dir, prefix)
      prefix
    }
    ()
  }

  /** Compact both index tables (one file per bucket). Probe plans,
    * decisions, and the no-corpus-exchange property are unchanged —
    * BandIndexSpec asserts all three survive — but the per-bucket
    * merge the probe's sort-merge join performs reads ONE run instead
    * of one per historical append. Pending tombstones
    * ([[retireTombstone]]) are physically PURGED by the same rewrite
    * and the tombstone set is cleared in the commit that publishes
    * both tables — decisions are unchanged because the probes were
    * already masking exactly these rows. */
  def compact(spark: SparkSession, prefix: String): Unit = {
    val retired = IndexCore.state(spark, bandsTable(prefix)).retired
    val tomb = IndexCore.retiredFrame(spark, retired)
    IndexCore.rewrite(spark, bandsTable(prefix), "compact", Seq(Bands, Sigs).map(
      IndexCore.compacted(spark, _, prefix, tomb, "corpus_doc")))(st =>
      st.copy(retired = st.retired -- retired.keys))
  }

  /** RETENTION — remove a set of corpus docs from the persisted index
    * in place (right-to-be-forgotten, license takedown, rolling-window
    * expiry). Implementation IS the compaction rewrite with a
    * broadcast anti-join predicate: each bucket's rows are filtered
    * and laid back down locally, one file per bucket, zero exchange.
    * Probes after retire behave as if the retired docs were never
    * indexed: a batch doc whose only match was retired becomes novel;
    * one with a surviving second-best match falls back to it. */
  def retire(spark: SparkSession, prefix: String,
      expired: DataFrame): Unit =
    IndexCore.rewrite(spark, bandsTable(prefix), "retire", Seq(Bands, Sigs).map(
      IndexCore.compacted(spark, _, prefix, Some(expired), "corpus_doc")))(identity)

  /** Sources retired by the dd18 catalog entry — chosen so the
    * retention is OBSERVABLE at both oracle scales: between them they
    * hold EVERY corpus twin of some engineered batch dups (120/360 at
    * sf0.001; 120 at sf0.01), so retiring them flips those decisions
    * from dup to novel in phase 1. */
  val RetiredSrcs: Seq[String] = Seq("src8", "src12")

  private def cycle(spark: SparkSession, dir: String, tag: String)(
      body: IndexCore.Cycle => DataFrame): DataFrame =
    IndexCore.cycle(spark, dir, tag, Fam)((path, p) => persist(spark, dir, path, p))(body)

  private def retiredDocs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .filter(col("source").isin(RetiredSrcs: _*))
      .select("doc_id")

  private def phaseRows(dec: DataFrame, col0: String, n: Int): DataFrame =
    dec.select(lit(n).as(col0), col("batch_doc"), col("dup_of"), col("est_jaccard"))

  /** The dd18 cycle on a FRESH index: probe (phase 0, full corpus) →
    * retire [[RetiredSrcs]]'s docs → re-probe (phase 1). Output is
    * both phases' decision tables; the oracle replays phase 1 with
    * the corpus band/signature CTEs filtered by the same source
    * predicate — the engine must behave as if the retired docs were
    * never indexed. */
  def retentionCycle(spark: SparkSession, dir: String,
      tag: String): DataFrame = cycle(spark, dir, tag) { c =>
    val dec0 = c.probe("probe")(phaseRows(probe(spark, dir, c.prefix), "phase", 0))
    c.phase("retire") { retire(spark, c.prefix, retiredDocs(spark, dir)) }
    val dec1 = c.probe("reprobe")(phaseRows(probe(spark, dir, c.prefix), "phase", 1))
    dec0.unionByName(dec1).orderBy("phase", "batch_doc")
  }

  /** The dd19 cycle on a FRESH index — dd18's retention made
    * BOUNDED-COST: probe (phase 0, full corpus) → TOMBSTONE
    * [[RetiredSrcs]]'s docs (an O(retired) append, no index rewrite)
    * → re-probe (phase 1, broadcast-masked) → compact (the purge —
    * tombstoned rows leave the files, the tombstone set clears) →
    * re-probe (phase 2). Phases 1 and 2 are DEFINED identical to each
    * other and to dd18's eager-retire phase 1, so the oracle is
    * dd18's two-phase SQL with phase 1 emitted twice — the gate
    * proves the mask, the purge, and their equality in one pass. */
  def tombstoneRetentionCycle(spark: SparkSession, dir: String,
      tag: String): DataFrame = cycle(spark, dir, tag) { c =>
    def phaseProbe(n: Int): DataFrame = phaseRows(probe(spark, dir, c.prefix), "phase", n)
    val dec0 = c.probe("probe")(phaseProbe(0))
    c.phase("retire") { retireTombstone(spark, c.prefix, retiredDocs(spark, dir)) }
    val dec1 = c.probe("reprobe")(phaseProbe(1))
    c.phase("purge") { compact(spark, c.prefix) }
    val dec2 = c.probe("probe2")(phaseProbe(2))
    dec0.unionByName(dec1).unionByName(dec2).orderBy("phase", "batch_doc")
  }

  /** Disjoint day-slice `i` of `n` (hash-sliced — the fixture's novel
    * ids are residue-concentrated, so raw-mod slices can be empty). */
  private def slice(sigs: DataFrame, n: Int, i: Int): DataFrame =
    sigs.filter(pmod(hash(col("doc_id")), lit(n)) === lit(i))

  /** The first probe's novel docs' signatures, pinned: derived from a
    * checkpointed novel set and the probe's own signatures, so tables
    * the cycle rewrites underneath never touch its lineage (a cached
    * probe plan's recompute after an in-cycle compaction throws
    * FILE_NOT_EXIST). The caller unpersists. */
  private def novelSigs(spark: SparkSession, dir: String, prefix: String): DataFrame = {
    val (dec, batchSigs) = probeSigned(spark, dir, prefix)
    val sigs = sigsForAdmitted(batchSigs, novelIds(dec).localCheckpoint()).cache()
    sigs.count() // materialize before the first write mutates the tables
    sigs
  }

  /** One full day-N+1 maintenance cycle on a FRESH index: persist →
    * probe → append(novel) [in `appendSlices` separate appends] →
    * [compact if requested] → re-probe. Returns the re-probe decision
    * frame. The index is rebuilt on EVERY invocation, so the timed
    * number covers the real maintenance work on every sweep; the
    * phases ("append" = novel probe + appends) sum to it. */
  def freshCycle(spark: SparkSession, dir: String, tag: String,
      appendSlices: Int = 1, doCompact: Boolean = false): DataFrame =
    cycle(spark, dir, tag) { c =>
      c.phase("append") {
        val (dec, batchSigs) = probeSigned(spark, dir, c.prefix)
        val novel = novelIds(dec).cache()
        try {
          novel.count()
          // slice appends are SEQUENTIAL by necessity: concurrent
          // saveAsTable appends to one table share the committer's
          // `_temporary/0` staging dir, and one job's cleanup deletes
          // the other's in-flight task files
          val sigs = sigsForAdmitted(batchSigs, novel).cache()
          try {
            sigs.count() // materialize BEFORE the first write mutates the table
            if (appendSlices <= 1) appendSigned(sigs, c.prefix)
            else (0 until appendSlices).foreach(i =>
              appendSigned(slice(sigs, appendSlices, i), c.prefix))
          } finally sigs.unpersist()
        } finally novel.unpersist()
      }
      if (doCompact) c.phase("compact") { compact(spark, c.prefix) }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  private def overFilePolicy(spark: SparkSession, prefix: String,
      maxFilesPerBucket: Int): Boolean =
    IndexCore.tableFiles(spark, bandsTable(prefix)).size >
      maxFilesPerBucket * IndexCore.bucketsOf(spark, bandsTable(prefix))

  /** Append with the AUTO-COMPACTION policy: after the append, if the
    * bands table's file count exceeds `maxFilesPerBucket × buckets`,
    * run [[compact]] inline. Returns whether compaction fired. The
    * policy bounds what the probe's per-bucket merge reads to a
    * CONSTANT number of runs regardless of append history. Decisions
    * are invariant to when the policy fires (compaction is
    * content-preserving; dd20 pins this under dd16's oracle). */
  def appendAuto(spark: SparkSession, dir: String, admitted: DataFrame,
      prefix: String, batchId: Long = BaseBatch,
      maxFilesPerBucket: Int = 4): Boolean = {
    append(spark, dir, admitted, prefix, batchId)
    val fired = overFilePolicy(spark, prefix, maxFilesPerBucket)
    if (fired) compact(spark, prefix)
    fired
  }

  /** dd20: the dd16/dd17 maintenance cycle with compaction AUTOMATED
    * — one decision probe, the novel set signed once and appended in
    * `slices` disjoint day-slices under [[appendAuto]]'s file-count
    * policy with a low threshold so it fires mid-history (asserted
    * in-cycle, along with the file-count bound it exists to enforce),
    * then the re-probe. Slices union to the same rows as one append
    * and compaction is content-preserving, so decisions are DEFINED
    * identical to dd16's — the oracle is the same SQL. */
  def autoCompactCycle(spark: SparkSession, dir: String, tag: String,
      slices: Int = 6, maxFilesPerBucket: Int = 2): DataFrame =
    cycle(spark, dir, tag) { c =>
      c.phase("append") {
        val sigs = novelSigs(spark, dir, c.prefix)
        var fires = 0
        try {
          (0 until slices).foreach { i =>
            appendSigned(slice(sigs, slices, i), c.prefix)
            if (overFilePolicy(spark, c.prefix, maxFilesPerBucket)) {
              compact(spark, c.prefix)
              fires += 1
            }
            val bound = (maxFilesPerBucket + 1) * Buckets
            val files = IndexCore.tableFiles(spark, bandsTable(c.prefix)).size
            require(files <= bound,
              s"auto-compaction failed to bound the file count: $files > $bound")
          }
        } finally sigs.unpersist()
        require(fires > 0,
          "fixture too small: the auto-compaction policy never fired")
      }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  /** SIZE-TIERED segment merge for the band index: fold ONLY the
    * batch-stamped segments at or below `maxTierRows` (sized by the
    * sigs table — one row per doc) into one merged segment across
    * BOTH tables, leaving the base tier's files byte-untouched
    * ([[IndexCore.tieredMerge]]). Appends stamp bands and sigs with
    * the same batch id, so one fold commit retires both tables'
    * input rows; [[corpusFrames]]'s visibility filter is the single
    * read choke point. The fold is purely a LAYOUT event — band
    * decisions read raw rows, so probe answers are defined unchanged,
    * which is what dd22's oracle (dd16's SQL) checks. Refused while a
    * stamped batch is missing from the log
    * ([[IndexCore.requireLedgered]]).
    * Returns true when a fold ran. */
  def tieredMerge(spark: SparkSession, prefix: String,
      maxTierRows: Long = Long.MaxValue): Boolean = {
    IndexCore.requireLedgered(spark, sigsTable(prefix), "tieredMerge")
    IndexCore.tieredMerge(spark, prefix, prefix, Seq(Bands, Sigs), maxTierRows)(
      (spec, merged, _) => IndexCore.writeTable(merged, spec, prefix, None))
  }

  /** dd22: the dd16 cycle with the growth regime maintained by the
    * BOUNDED fold instead of the corpus-sized rewrite — the novel
    * batch lands in 3 disjoint slices, each under its own stamp,
    * [[tieredMerge]] folds them into one merged segment (base files
    * byte-untouched, post-fold segment count asserted in-cycle), and
    * the re-probe serves through the fold visibility filter.
    * Decisions are DEFINED identical to dd16's — the oracle is the
    * same SQL. */
  def tieredCycle(spark: SparkSession, dir: String, tag: String,
      slices: Int = 3): DataFrame = cycle(spark, dir, tag) { c =>
    c.phase("append") {
      val sigs = novelSigs(spark, dir, c.prefix)
      try (0 until slices).foreach { i =>
        appendSigned(slice(sigs, slices, i), c.prefix, batchId = i.toLong)
      } finally sigs.unpersist()
    }
    c.phase("merge") {
      IndexCore.checkedFold(spark, tag, sigsTable(c.prefix), c.prefix)(
        tieredMerge(spark, c.prefix))
    }
    c.probe("probe")(probe(spark, dir, c.prefix))
  }

  /** Day-2 re-ingest ids are day-1 ids shifted by this offset — far
    * above any fixture doc_id, so the two days' decision rows never
    * collide and an id's day-1 identity is `id - DayOffset`. */
  val DayOffset = 1000000L

  /** Decisions for an EXPLICIT batch-id frame (first column = the
    * batch doc id; ids at or above [[DayOffset]] are re-ingest ids
    * whose signature resolves via the unshifted id — same text, same
    * signature, never re-signed). This is the foreachBatch
    * maintenance sink's probe: each micro-batch hands its own ids in
    * and gets one decision row per id back, probed against the
    * CURRENT persisted index. */
  def probeIds(spark: SparkSession, dir: String, prefix: String,
      ids: DataFrame, excludeBatch: Option[Long] = None): DataFrame =
    probeIdsSigned(spark, dir, prefix, ids, excludeBatch)._1

  /** [[probeIds]] that also returns the batch signature frame
    * (batch-id-keyed) — [[maintainBatch]]'s writers join it down to
    * the admitted ids instead of re-signing them. */
  private def probeIdsSigned(spark: SparkSession, dir: String, prefix: String,
      ids: DataFrame, excludeBatch: Option[Long]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.when
    val idc = col(ids.columns.head)
    val shaped = ids.select(idc.as("batch_id"),
      when(idc >= DayOffset, idc - DayOffset).otherwise(idc).as("orig_id"))
    // batch-scoped signing: sign each DISTINCT original text once —
    // work ∝ the micro-batch — then re-key to the batch ids. Pinned:
    // the decision core consumes the signature frame three times.
    val sigs = Dedup.signDocs(
      graft.Tables.documents(spark, dir)
        .join(shaped.select(col("orig_id").as("doc_id")).distinct(), "doc_id")
        .select("doc_id", "text")).localCheckpoint()
    val batchSigs = sigs.join(shaped, sigs("doc_id") === shaped("orig_id"))
      .select(col("batch_id").as("doc_id") +:
        (0 until Dedup.MinhashK).map(j => col(s"sig_$j")): _*)
    val (corpusBands, corpusSigs) = corpusFrames(spark, prefix, excludeBatch)
    (Dedup.incrementalDecisionsFor(batchSigs, corpusBands, corpusSigs), batchSigs)
  }

  private def batchDocIds(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .filter(col("source") === Dedup.IncBatchSrc)
      .select("doc_id")

  private def shifted(ids: DataFrame): DataFrame =
    ids.select((col("doc_id") + lit(DayOffset)).as("doc_id"))

  /** The streaming ingest-maintenance LOOP's batch analog, two days
    * on a FRESH index: day 0 probes the batch and appends its novel
    * docs; day 1 re-ingests the SAME feed under [[DayOffset]]-shifted
    * ids and probes the index day 0 just grew. Sequencing is
    * OBSERVABLE in the output: every day-0 novel doc's day-1 copy must
    * come back dup_of its day-0 twin at est 1.0 (identical text ⇒
    * identical signature), while day-0 corpus dups keep their day-0
    * target. This is exactly what a foreachBatch maintenance sink does
    * per micro-batch (StreamingSpec drives the same two days through a
    * real readStream); decisions are order-DEPENDENT by design, so the
    * st07 oracle replays the two phases verbatim, shifted ids
    * included. Day 0's decision frame is pinned BEFORE the append
    * mutates the index it reads. */
  def sequencedCycle(spark: SparkSession, dir: String,
      tag: String): DataFrame = cycle(spark, dir, tag) { c =>
    val (rawDec0, day0Sigs) = probeSigned(spark, dir, c.prefix)
    val dec0 = c.probe("probe")(phaseRows(rawDec0, "day", 0))
    c.phase("append") {
      // dec0 is pinned and day0Sigs derives from the probe's
      // checkpoint, so the writes read no table they mutate
      appendSigned(sigsForAdmitted(day0Sigs, novelIds(dec0)), c.prefix)
    }
    val dec1 = c.probe("reprobe")(
      phaseRows(probeIds(spark, dir, c.prefix, shifted(batchDocIds(spark, dir))), "day", 1))
    dec0.unionByName(dec1).orderBy("batch_doc")
  }

  /** One log-fenced maintenance micro-batch: probe the CURRENT index
    * with this batch's ids, append the novel docs, commit the batch id
    * to the index's log — or, if the log already holds it, do NOTHING
    * and return None ([[IndexCore.maintainOnce]]'s fence).
    *
    * This is the idempotent foreachBatch sink Structured Streaming's
    * exactly-once contract asks for. The failure mode a restart must
    * survive is REPLAY of a batch whose commit marker was lost —
    * possibly against an index the first run already partially
    * mutated. Two mechanisms make every crash point converge:
    *
    *   - **Per-table idempotence**: every appended row carries the
    *     batch stamp and each table write is one atomic job commit,
    *     so the replay appends only to the table(s) the crash left
    *     unwritten.
    *   - **Self-excluding probe**: the decision probe always excludes
    *     the in-flight batch's own rows (`ingest_batch != batchId`,
    *     pushed to the scans). Replay over a partial commit therefore
    *     probes EXACTLY the state the first attempt saw and emits
    *     bit-identical decisions.
    *
    * The log commit (made last, stored WITH the index) is what makes
    * the batch done. [[selfFenceCycle]] drives the worst window (crash
    * between the two table writes) as the st11 catalog entry;
    * StreamingSpec proves the crash-after-commit path through a real
    * checkpoint restart. */
  def maintainBatch(spark: SparkSession, dir: String, prefix: String,
      ids: DataFrame, batchId: Long): Option[DataFrame] =
    IndexCore.maintainOnce(spark, "maintainBatch", tables(prefix), batchId) { landed =>
      val (d0, batchSigs) = probeIdsSigned(spark, dir, prefix, ids, Some(batchId))
      val dec = d0.localCheckpoint()
      // the writes join the probe's pinned signatures down to the
      // admitted ids, so they read no table they mutate
      val sigs = sigsForAdmitted(batchSigs, novelIds(dec))
      if (!landed(bandsTable(prefix))) writeBandRows(sigs, prefix, batchId)
      if (!landed(sigsTable(prefix))) writeSigRows(sigs, prefix, batchId)
      dec
    }

  private def dayRows(dec0: DataFrame, dec1: DataFrame): DataFrame =
    phaseRows(dec0, "day", 0).unionByName(phaseRows(dec1, "day", 1)).orderBy("batch_doc")

  /** st07's two-day cycle driven through [[maintainBatch]], with
    * day 0 REPLAYED in between — the batch analog of a checkpoint
    * restart that lost day 0's commit marker. The replay must be a
    * log-skipped no-op (asserted here: a second mutation of the
    * index would make day 1's decisions diverge from st07's). Output
    * is DEFINED identical to st07's, so the oracle is the same
    * two-phase SQL. */
  def replayedCycle(spark: SparkSession, dir: String,
      tag: String): DataFrame = cycle(spark, dir, tag) { c =>
    val day0Ids = batchDocIds(spark, dir)
    val dec0 = c.phase("maintain0") {
      maintainBatch(spark, dir, c.prefix, day0Ids, 0L)
        .getOrElse(sys.error("st08: fresh index claims day 0 already maintained"))
    }
    if (maintainBatch(spark, dir, c.prefix, day0Ids, 0L).nonEmpty)
      sys.error("st08: replayed batch 0 was not log-skipped")
    val dec1 = c.phase("maintain1") {
      maintainBatch(spark, dir, c.prefix, shifted(day0Ids), 1L)
        .getOrElse(sys.error("st08: day 1 already maintained on a fresh index"))
    }
    dayRows(dec0, dec1)
  }

  /** st11: the exactly-once story's WORST crash window, driven as a
    * catalog entry. Day 0's first attempt probes and then "crashes"
    * between the two table writes: band rows for batch 0 are durably
    * committed, signature rows and the log commit are not. The replay
    * runs through [[maintainBatch]], which must (a) NOT skip, (b) emit
    * decisions BIT-IDENTICAL to the first attempt's — the
    * self-excluding probe fences out the orphaned band rows — and (c)
    * complete the batch without duplicating bands. All three are
    * asserted in-cycle; a fourth assert replays the now-complete batch
    * and requires the whole-batch skip. Day 1 then re-ingests the
    * shifted feed as batch 1. Both days' decisions are DEFINED
    * identical to st07/st08's cycle, so the entry shares their
    * two-phase oracle. */
  def selfFenceCycle(spark: SparkSession, dir: String,
      tag: String): DataFrame = cycle(spark, dir, tag) { c =>
    val day0Ids = batchDocIds(spark, dir)
    // First attempt: probe, write BANDS ONLY, crash before sigs + commit.
    val dec0a = c.phase("partial") {
      val (d0, batchSigs) = probeIdsSigned(spark, dir, c.prefix, day0Ids, Some(0L))
      val dec = d0.localCheckpoint()
      writeBandRows(sigsForAdmitted(batchSigs, novelIds(dec)), c.prefix, 0L)
      dec
    }
    val dec0 = c.phase("replay") {
      maintainBatch(spark, dir, c.prefix, day0Ids, 0L)
        .getOrElse(sys.error("st11: partially-committed batch 0 must replay, not skip"))
    }
    if (!dec0.exceptAll(dec0a).isEmpty || !dec0a.exceptAll(dec0).isEmpty)
      sys.error("st11: replay decisions diverge from the crashed attempt's")
    if (maintainBatch(spark, dir, c.prefix, day0Ids, 0L).nonEmpty)
      sys.error("st11: completed batch 0 was not fence-skipped")
    val dec1 = c.phase("maintain1") {
      maintainBatch(spark, dir, c.prefix, shifted(day0Ids), 1L)
        .getOrElse(sys.error("st11: day 1 already maintained on a fresh index"))
    }
    dayRows(dec0, dec1)
  }

  /** Drop the registered tables (files under `path` are external and
    * survive; callers own that directory's lifecycle). */
  def drop(spark: SparkSession, prefix: String = "graft_corpus"): Unit =
    Fam.drop(spark, prefix)
}
