package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, coalesce, col, collect_set, count, expr, hash, lit, min, monotonically_increasing_id, pmod, row_number, size, spark_partition_id, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import IndexCore.BaseBatch

/** Persisted form of the BM25 inverted index — [[VecIndex]]'s
  * lifecycle applied to the LEXICAL retrieval lane (round-15 VERDICT
  * item 1).
  *
  * tx15 derives the inverted index in-session each run: every
  * execution pays tokenize → postings aggregate → df/dl stats over
  * the raw corpus before any query work happens. Correct, but at
  * corpus scale that build IS the index — the expensive artifact a
  * production lexical retriever (Lucene/Elasticsearch) persists once
  * and serves from forever. This object writes it ONCE as bucketed
  * parquet tables:
  *
  *   - `<prefix>_postings` (term, doc_id, tf, dl, ingest_batch),
  *     bucketed AND sorted by `term` — the probe key. The row is
  *     COVERING: `dl` (the doc's token count, BM25's length-norm
  *     input) rides on every posting so the probe never joins a
  *     doc-side table — the lexical analog of the covering-cells
  *     layout ([[VecIndex.persistCovering]]), paying one extra long
  *     per posting at write time to delete a corpus-sized join from
  *     every read.
  *   - `<prefix>_docstats` (doc_id, dl, ingest_batch), bucketed by
  *     `doc_id` — Lucene's norms file: the per-doc length table,
  *     read ONLY by maintenance (retire's dl lookup, compact's stats
  *     rebuild), never by the probe.
  *   - `<prefix>_stats` (ingest_batch, n_docs, sum_dl) — one row per
  *     ingest batch; the probe sums this batch-count-sized table to
  *     recover the corpus stats, so an append maintains global state
  *     by writing ONE row, never re-aggregating the corpus.
  *
  * The probe ([[probe]]) is the serving read path: the fixed query
  * workload's term set is pushed as an `IN` filter on the bucketed
  * `term` column (bucket-pruned, footer-pruned scan — only matched
  * postings are ever read), df per term falls out of counting the
  * matched postings, and the corpus stats arrive as a 1-row
  * broadcast. Scoring, 6-dp rounding, DECIMAL-exact per-(query,doc)
  * summation and the partial-WindowGroupLimit top-k are tx15's, line
  * for line — the decisions are DEFINED identical, so tx16 shares
  * tx15's oracle: a divergence means persistence changed the
  * dataflow's semantics. Round15OpsSpec proves the plan property:
  * the probe plan contains NO scan of the raw documents parquet and
  * no tokenizer expression — the corpus build is GONE from the read
  * path.
  *
  * Lifecycle — the three verbs the BandIndex/VecIndex families
  * established, proven under the same oracle gate:
  *   - [[append]] (tx17): a NEW document batch tokenizes ONLY
  *     itself (tf/dl are doc-local — the batch's postings are
  *     exactly the full build's postings for those docs), appends
  *     postings + docstats + ONE stats row under a fresh
  *     `ingest_batch` stamp.
  *   - [[compact]] (tx18): [[IndexCore.compacted]]'s per-bucket
  *     local rewrite over both bucketed tables (one file per bucket,
  *     zero exchange), pending tombstones physically purged, stats
  *     re-based to a single row recomputed from the surviving
  *     docstats — all three published by one log commit that also
  *     clears the tombstones.
  *   - [[retire]] (tx19): right-to-be-forgotten for documents — the
  *     retired ids land in the index's commit log (O(retired) write; dl
  *     recorded at retire time from the norms table so the stats
  *     correction never rescans anything), probes mask them with a
  *     broadcast anti-join AND subtract their (count, Σdl) from the
  *     corpus stats, so a retired doc vanishes from ranks, df, idf
  *     and length normalization alike — exactly what the oracle's
  *     `doc_id NOT IN (...)` replay demands.
  *
  * 100 TB posture: the build pays one corpus tokenize (once, not per
  * query) with the impact ranking SKEW-SAFE ([[withImpactMeta]] —
  * no per-term window, so a zipfian stopword cannot serialize a
  * task); the probe exchanges matched postings only (query-vocab
  * bucket pruning upstream of everything), takes its workload as a
  * query FRAME, and the capped lanes read ∝ terms × cap bytes
  * regardless of df; maintenance is batch-proportional
  * ([[maintainBatch]] exactly-once for streaming appends), appends
  * serve EXACTLY through the read-time segment merge
  * ([[segmentProbe]]) with the rebuild demoted to a fused
  * layout/throughput pass ([[mergeReindex]]) that the dq08 drift
  * gate or a file-count policy schedules. The serving delta vs tx15
  * is the entire corpus-side build — see SCALE_NOTES.md's
  * third-decade row and the round-16 sections.
  */
object LexIndex {

  /** DEFAULT bucket count — a BUILD parameter since round 17
    * ([[persist]]'s `buckets`): the fixed 8 capped maintenance
    * parallelism at 8 tasks regardless of cluster size. Every
    * post-build verb reads the table's actual count back from the
    * catalog ([[IndexCore.bucketsOf]]), so appends and rewrites
    * follow whatever the build chose. */
  val Buckets = IndexCore.DefaultBuckets

  private val Postings = IndexCore.TableSpec("postings", "term", Seq("term", "imp_rank"))
  private val Docstats = IndexCore.TableSpec("docstats", "doc_id", Seq("doc_id"))
  private val Fam = IndexCore.Family("graft_lex", "lex",
    Seq("postings", "docstats", "stats", "dfcorr"))

  def postingsTable(prefix: String): String = Postings.name(prefix)
  def docstatsTable(prefix: String): String = Docstats.name(prefix)
  def statsTable(prefix: String): String = s"${prefix}_stats"

  import TextAnalysis.{tokensExpr, Bm25K1, Bm25B, Bm25TopK, Bm25Queries}

  /** Tokenized view of a document frame: (doc_id, tokens, dl).
    * `dl` carries tx15's exact semantics (CAST(size AS BIGINT) of the
    * tokenizer output — null for null text, matching the oracle's
    * `len(tokens)` null propagation). */
  private[ops] def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(tokensExpr).as("tokens"))
      .withColumn("dl", expr("CAST(size(tokens) AS BIGINT)"))

  /** Build and persist the inverted index over `docs` (defaults to
    * the full corpus; the lifecycle cycles build from a slice and
    * grow via [[append]]). The build-time tokenize re-executes per
    * writer (postings aggregate — a single (doc_id, term, dl)
    * shuffle, tf counted map-side — norms table, stats row): pinning
    * a tokenized CORPUS would trade bounded CPU for corpus-sized
    * executor scratch, so only append-sized batches pin (writeBatch,
    * round 17). The stats row aggregates the in-scope docstats
    * frame, not a stamp-filtered read-back of the written table (a
    * read-back keyed on ingest_batch double-counts colliding stamps
    * — see the writeBatch note). */
  def persist(spark: SparkSession, dir: String, path: String,
      prefix: String, docs: Option[DataFrame] = None,
      buckets: Int = Buckets): Unit = {
    val base = docs.getOrElse(Tables.documents(spark, dir))
    writeBatch(spark, tokenized(base), path, prefix,
      BaseBatch, firstWrite = true, buckets)
  }

  /** Impact order shared by the build, the rebuild and the oracle:
    * tf desc (BM25's term score is monotone up in tf), dl asc
    * (shorter docs normalize higher), doc_id tiebreak — a STRICT
    * total order within a term (one posting per (term, doc)). */
  private[ops] def impactOrder = Seq(col("term").asc,
    col("tf").desc, col("dl").asc, col("doc_id").asc)

  /** SKEW-SAFE global impact metadata (round-16, VERDICT item 1):
    * stamp every posting with its within-term impact rank and its
    * term's df WITHOUT `Window.partitionBy("term")` — term df is
    * zipfian, so the whole-table window puts a stopword's entire
    * postings list (billions of rows at 100 TB) through ONE task.
    * This is the two-phase distributed ranking a range partitioner
    * makes possible:
    *
    *   1. `repartitionByRange` over the FULL impact order — the
    *      sampler splits on the whole (term, tf, dl, doc_id) tuple,
    *      so a heavy term spreads across MANY partitions (each task
    *      gets ~|rows|/parts whatever the df skew; the Round16 spec
    *      measures this on a synthetic stopword corpus). A
    *      partition-local sort then makes row order the impact
    *      order, and `monotonically_increasing_id` (consecutive
    *      within a partition) is a deterministic local offset: the
    *      order is a strict total order, so shuffle-fetch
    *      nondeterminism cannot reorder equal rows — both
    *      consumers of this frame recompute identical ids.
    *   2. Per-(partition, term) segment counts + min id — ONE
    *      partial-aggregated groupBy (never skewed: a segment is
    *      bounded by the partition size). Each term's global rank
    *      offsets are a running sum over its ≤ `parts` segments —
    *      the only window left runs over the SEGMENT frame, whose
    *      per-term group is bounded by the partition count, never
    *      by df. df itself is the same segment sum, so it rides the
    *      one segment join instead of a second corpus-sized window.
    *
    * The join back on (pid, term) reshuffles the postings once more,
    * but no reducer gets more than one segment (≤ partition size) —
    * skew-safe by the same argument; locally AQE broadcasts the tiny
    * segment frame. Output columns and values are IDENTICAL to the
    * old `row_number().over(term)` form (Round16OpsSpec pins equality
    * on a fixture), so tx20/tx21's oracles are untouched.
    *
    * The ranked frame is PINNED (localCheckpoint) before it fans out
    * to its two consumers (round-17 ADVICE): both the segment
    * aggregate and the join re-evaluate `ranked`, and rank
    * correctness requires both evaluations to see IDENTICAL
    * range-partition boundaries. Exchange reuse usually dedupes the
    * range shuffle, but that is a plan-level accident — column
    * pruning, `spark.sql.exchange.reuse=false`, or a future planner
    * change can split the subtrees, after which each side samples its
    * own boundaries from nondeterministically-ordered upstream rows
    * and the (pid, min_mid, off) triples silently stop matching. The
    * checkpoint computes the partitioning ONCE and hands both
    * consumers the same blocks — correctness by construction, not by
    * reuse (Round16OpsSpec re-proves equality with exchange reuse
    * disabled). Cost: one extra materialization of the postings frame
    * on the build/rebuild path, which already pays a corpus-sized
    * write — and the lineage truncation drops the double tokenize the
    * un-pinned form re-ran per consumer. */
  /** Row bound under which a fold's merged segment is ranked with the
    * plain per-term window instead of the two-phase range-partitioned
    * form. The two-phase machinery exists because a term's df can
    * exceed one partition's memory — impossible when the WHOLE input
    * is ≤ this many rows (~40 MB of postings), so the bounded form
    * trades its extra passes (range-boundary sampling job, range
    * exchange, checkpoint pin, segment aggregate + join) for one hash
    * exchange. Only callers whose input size is PROVEN from metadata
    * (the tier fold: manifest row counts, exact) may take it; a
    * size-unknown frame always gets the skew-safe form. Not a local
    * tuning knob: any value with rows × rowWidth under a task's
    * memory is correct on any cluster. */
  private[ops] val WindowRankMaxRows: Long = 1L << 20

  /** [[withImpactMeta]] for a frame PROVEN bounded (caller holds a
    * metadata row count ≤ [[WindowRankMaxRows]]): one per-term window
    * — a single hash exchange, no boundary sampling, no checkpoint.
    * Values are identical to the two-phase form (Round16OpsSpec pins
    * the equality on a fixture; Round18OpsSpec re-pins it on a fold's
    * actual inputs). */
  private[ops] def withImpactMetaWindow(postings: DataFrame): DataFrame = {
    val w = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("dl").asc, col("doc_id").asc)
    postings
      .withColumn("imp_rank", row_number().over(w))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("imp_rank"), col("df"))
  }

  private[ops] def withImpactMeta(postings: DataFrame): DataFrame = {
    val ranked = postings
      .repartitionByRange(impactOrder: _*)
      .sortWithinPartitions(impactOrder: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("mid", monotonically_increasing_id())
      .localCheckpoint()
    val segs = ranked.groupBy("pid", "term")
      .agg(count(lit(1)).as("cnt"), min(col("mid")).as("min_mid"))
    val wOff = Window.partitionBy("term").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = segs
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .withColumn("df", sum(col("cnt")).over(Window.partitionBy("term")))
      .select(col("pid"), col("term"), col("min_mid"), col("off"), col("df"))
    ranked.join(offs, Seq("pid", "term"))
      .withColumn("imp_rank",
        (col("mid") - col("min_mid") + col("off") + lit(1L)).cast("int"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("imp_rank"), col("df"))
  }

  /** Shared build/append writer: postings + docstats + one stats row
    * for a tokenized batch, stamped `batch`. Split into per-table
    * writers so [[maintainBatch]] can complete exactly the tables a
    * crashed attempt left unwritten (per-table idempotence — the
    * BandIndex/VecIndex discipline); write ORDER is postings →
    * docstats → stats, so the stats row (written last) certifies the
    * whole batch. */
  private def writeBatch(spark: SparkSession, tok: DataFrame, path: String,
      prefix: String, batch: Long, firstWrite: Boolean,
      buckets: Int = Buckets): Unit = {
    // Pin the tokenize ONCE for APPENDS (round 17, measured on tx27's
    // profile): un-pinned, the tokenize chain re-executed FOUR times
    // per batch — the impact rank's range-boundary sampling pass, the
    // postings shuffle itself, the docstats write and the stats
    // aggregate. Batches are bounded, so the materialization is
    // cheap; the BASE BUILD keeps the lazy recompute — checkpointing
    // a tokenized CORPUS trades bounded CPU for corpus-sized
    // executor scratch, the wrong trade at 100 TB (guide §5's
    // cache-only-when-recompute-costs-more rule). Values are
    // unchanged either way: tokenize is deterministic per row.
    val pinned = if (firstWrite) tok else tok.localCheckpoint()
    writePostings(pinned, path, prefix, batch, firstWrite, buckets)
    // BASE BUILD (round 18): docstats and the stats row need only
    // (doc_id, dl) — two longs per doc, ~10³× lighter than the
    // tokenized corpus whose pin round 17 rightly refused (§5). Pin
    // just that projection once: the corpus-scan + regex tokenize
    // that used to re-run for docstats AND AGAIN for the stats
    // aggregate (3 full tokenizes per build) now runs twice — once
    // inside the postings rank pipeline, once to materialize this
    // doc-count-sized frame. Appends already pin the full tokenize
    // (batch-bounded), so `pinned` is reused as-is there.
    val dls = if (firstWrite)
      pinned.select(col("doc_id"), col("dl")).localCheckpoint()
    else pinned
    writeDocstats(dls, path, prefix, batch, firstWrite, buckets)
    writeStats(dls, path, prefix, batch, firstWrite)
    if (firstWrite) IndexCore.commitBuild(spark, tables(prefix))
    else IndexCore.commitAppend(spark, tables(prefix), batch)
  }

  /** The tables a batch writes, in write order; the first anchors the
    * index's commit log. */
  private def tables(prefix: String): Seq[String] =
    Seq(postingsTable(prefix), docstatsTable(prefix), statsTable(prefix))

  // dl is functionally dependent on doc_id, so folding it into the
  // group key keeps the build a single shuffle (no corpus-sized
  // dl-join back): explode → groupBy(doc_id, term, dl) → count.
  // Impact metadata: each posting carries its within-term IMPACT RANK
  // and its term's df, both computed over THIS batch by the skew-safe
  // [[withImpactMeta]]. On the base build these are the global values;
  // appends stamp batch-local ones, which go stale until a rebuild —
  // the standard impact-ordered-index contract (Anh & Moffat). tx16's
  // probe ignores both columns; only the capped lanes read them.
  // The Postings spec sorts (term, imp_rank): within a bucket each
  // term's postings lie in an impact-ascending run, so the capped
  // probe's `imp_rank <= C` pushed filter prunes the row groups beyond
  // the cap for high-df terms — bytes ∝ terms × C, not df.
  private[ops] def writePostings(tok: DataFrame, path: String,
      prefix: String, batch: Long, firstWrite: Boolean,
      buildBuckets: Int = Buckets): Unit =
    IndexCore.writeTable(withImpactMeta(tok
      .select(col("doc_id"), col("dl"),
        org.apache.spark.sql.functions.explode_outer(col("tokens")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf")))
      .withColumn("ingest_batch", lit(batch)),
      Postings, prefix, if (firstWrite) Some((path, buildBuckets)) else None)

  private[ops] def writeDocstats(tok: DataFrame, path: String,
      prefix: String, batch: Long, firstWrite: Boolean,
      buildBuckets: Int = Buckets): Unit =
    IndexCore.writeTable(
      tok.select(col("doc_id"), col("dl")).withColumn("ingest_batch", lit(batch)),
      Docstats, prefix, if (firstWrite) Some((path, buildBuckets)) else None)

  // ONE row of global state per batch — aggregated from THIS
  // batch's docstats frame, not a stamp-filtered table read-back:
  // a read-back keyed on ingest_batch double-counts every earlier
  // row carrying the same stamp (ad-hoc appends share the BaseBatch
  // stamp), silently inflating n_docs/sum_dl and corrupting idf +
  // length normalization. Aggregating the in-scope frame makes each
  // append contribute exactly its own row whatever the stamp, at
  // the cost of one extra tokenize execution at build time.
  private def writeStats(tok: DataFrame, path: String,
      prefix: String, batch: Long, firstWrite: Boolean): Unit = {
    val st = tok.select(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(lit(batch).as("ingest_batch"), col("n_docs"), col("sum_dl"))
      .coalesce(1)
    val sw = st.write.mode(if (firstWrite) SaveMode.Overwrite else SaveMode.Append)
    (if (firstWrite) sw.option("path", s"$path/stats") else sw)
      .saveAsTable(statsTable(prefix))
    IndexCore.step(s"wrote ${statsTable(prefix)}")
  }

  /** Append a NEW document batch: tokenize the batch only (tf and dl
    * are doc-local, so batch postings ≡ the full build's postings for
    * those docs), append under a fresh stamp. Batch-proportional —
    * the existing index is never read, let alone rewritten. Ad-hoc
    * appends default to the [[IndexCore.BaseBatch]] stamp (round 16 —
    * VecIndex's convention): streaming batch ids are ≥ 0, so an
    * ad-hoc append can never false-skip a [[maintainBatch]] replay
    * check. */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
      prefix: String, batch: Long = BaseBatch): Unit = {
    writeBatch(spark, tokenized(newDocs), path = "", prefix = prefix,
      batch = batch, firstWrite = false)
  }

  /** Exactly-once append for the streaming maintenance loop (st20 —
    * [[VecIndex.maintainBatch]]'s lexical analog): the foreachBatch
    * sink's idempotent form. The three batch writes land in a fixed
    * order (postings → docstats → stats), every row carries the
    * batch stamp, and each write is one atomic job commit — so a
    * replay completes exactly the tables the crash left unwritten
    * ([[IndexCore.batchPresent]], storage-derived, holds across JVM
    * restarts). The index's commit log (written LAST) certifies the
    * completed batch — the stats stamp alone cannot:
    * [[compact]] re-bases the stats table to a single
    * BaseBatch row and [[reindexImpact]]/[[mergeReindex]] re-stamp
    * postings, so after any maintenance rewrite the per-table stamps
    * of ALREADY-FOLDED batches are gone and only the log can fence
    * their replay. (The per-table stamp checks remain valid for the
    * window they guard: a crash-interrupted batch is replayed BEFORE
    * any later maintenance — [[IndexCore.requireLedgered]] enforces
    * that ordering loudly.) A replayed micro-batch whose checkpoint
    * commit marker was lost is a whole-batch no-op returning false. No
    * self-fencing probe is needed (BandIndex's extra mechanism):
    * this sink makes no decisions from index state — a replay only
    * rewrites missing tables, so every crash point converges to the
    * same final state. Serving MID-crash-window (postings landed,
    * stats row not yet) would undercount the corpus stats; the
    * streaming protocol replays the batch before serving resumes,
    * which is exactly what StreamingSpec's checkpoint-restart test
    * drives. */
  def maintainBatch(spark: SparkSession, dir: String, prefix: String,
      newDocs: DataFrame, batchId: Long): Boolean =
    IndexCore.maintainOnce(spark, "maintainBatch", tables(prefix), batchId) { landed =>
      // pinned for the same reason as writeBatch: the three writers
      // (plus the impact rank's boundary sampler) would otherwise
      // re-tokenize the batch once each
      val tok = tokenized(newDocs).localCheckpoint()
      if (!landed(postingsTable(prefix)))
        writePostings(tok, path = "", prefix, batchId, firstWrite = false)
      if (!landed(docstatsTable(prefix)))
        writeDocstats(tok, path = "", prefix, batchId, firstWrite = false)
      if (!landed(statsTable(prefix)))
        writeStats(tok, path = "", prefix, batchId, firstWrite = false)
    }.isDefined

  /** The index's state as of its newest commit ([[IndexCore.state]]). */
  private def state(spark: SparkSession, prefix: String): IndexCore.State =
    IndexCore.state(spark, postingsTable(prefix))

  /** The postings table as EVERY reader and full rewrite must see it:
    * refreshed (cross-session writers), with the fold visibility of
    * `st` applied ([[IndexCore.visibleUnder]] — folded segments dead,
    * committed merge outputs live, uncommitted outputs invisible). One
    * choke point so a fold can never double-serve or half-serve a
    * segment, and a full rewrite can never resurrect folded rows. The
    * predicate is literal comparisons on the stamp column — pushed and
    * footer-pruned like every other fence. It applies even with no
    * fold: a fold that crashed before its commit leaves reserved-stamp
    * rows on disk that must stay invisible. */
  private def residentPostings(spark: SparkSession, prefix: String,
      st: IndexCore.State): DataFrame = {
    spark.catalog.refreshTable(postingsTable(prefix))
    spark.table(postingsTable(prefix)).filter(IndexCore.visibleUnder(st.log(prefix)))
  }

  /** Retire documents (right-to-be-forgotten): record (doc_id, dl)
    * tombstones — dl looked up in the norms table (the one read this
    * table exists for), already-retired ids excluded so a double
    * retire can't double-subtract from the stats. Probes mask +
    * correct immediately; [[compact]]/[[mergeReindex]] purge
    * physically.
    *
    * `corpus` (round 17, VERDICT item 3) is the outgoing documents'
    * text — available at delete time in any real retention feed (the
    * doc is being removed FROM somewhere). When present, the retired
    * docs are tokenized ONCE (O(retired·dl), never the corpus) and
    * their per-term containment lands in `<prefix>_dfcorr`
    * (retired_id, term — one row per pair, a null-term row for
    * empty docs so coverage is checkable): the O(retired) side table
    * that lets the CAPPED lanes keep serving exactly under pending
    * tombstones (stored df − containment = survivors' df) instead of
    * failing over to the df-proportional exact probe. Without
    * `corpus` the tombstone write is unchanged and the capped lanes
    * fail fast as before — masking candidates is possible from the
    * tombstone ids alone, but exact df is not. */
  def retire(spark: SparkSession, prefix: String, docIds: DataFrame,
      corpus: Option[DataFrame] = None): Unit = {
    val st = state(spark, prefix)
    val ids = broadcast(docIds
      .select(col(docIds.columns.head).cast("long").as("rid")))
    // cross-session-writer safety: the norms lookup must see every
    // appended file, not this session's cache
    spark.catalog.refreshTable(docstatsTable(prefix))
    val norms = spark.table(docstatsTable(prefix))
    val fresh = norms.join(ids, norms("doc_id") === col("rid"))
      .select(col("doc_id"), col("dl")).collect()
      .collect { case r if !st.retired.contains(r.getLong(0)) =>
        r.getLong(0) -> Option.unless(r.isNullAt(1))(r.getLong(1))
      }.toMap
    for (docs <- corpus; exp <- IndexCore.retiredFrame(spark, fresh)) {
      val retiredDocs = docs.join(exp.select(col("retired_id").as("doc_id")), "doc_id")
      val pairs = tokenized(retiredDocs)
        .select(col("doc_id").as("retired_id"),
          org.apache.spark.sql.functions.explode_outer(col("tokens")).as("term"))
        .distinct()
      IndexCore.appendSide(spark, dfcorrTable(prefix), postingsTable(prefix),
        "dfcorr", pairs.coalesce(1))
    }
    IndexCore.commit(spark, postingsTable(prefix), "retire", BaseBatch, Nil)(s =>
      s.copy(retired = s.retired ++ fresh))
  }

  def dfcorrTable(prefix: String): String = s"${prefix}_dfcorr"

  /** Per-term df corrections for the CURRENT tombstones: how many
    * pending-retired docs contain each term — the broadcast-sized
    * frame the capped lanes subtract from stored df. A retire retried
    * after a crash before its commit appends its containment rows
    * again, so each doc counts once per term however many copies
    * landed. Fails loudly when any pending tombstone (`retired`, the
    * ids of `tomb`) has no recorded containment (a text-less
    * [[retire]]): serving a silently-overcounted df is the
    * degradation the round-16 fail-fast existed to prevent. */
  private def dfCorrCounts(spark: SparkSession, prefix: String,
      tomb: DataFrame, retired: Set[Long]): DataFrame = {
    val t = dfcorrTable(prefix)
    require(spark.catalog.tableExists(t),
      s"capped serving under pending tombstones needs the retired docs' " +
        s"term containment ($t) — retire(spark, prefix, ids, Some(corpus)) " +
        "records it; a text-less retire demotes serving to the exact probe " +
        "until compact+reindex (or mergeReindex) runs")
    spark.catalog.refreshTable(t)
    val corr = spark.table(t)
      .join(broadcast(tomb.select("retired_id")), Seq("retired_id"), "left_semi")
    val uncovered = retired --
      corr.select("retired_id").distinct().collect().map(_.getLong(0))
    require(uncovered.isEmpty,
      s"pending tombstone ${uncovered.minOption} has no " +
        s"recorded term containment in $t — it was retired without text; " +
        "run compact + reindexImpact (or mergeReindex) before capped serving")
    broadcast(corr.filter(col("term").isNotNull)
      .groupBy("term").agg(size(collect_set(col("retired_id"))).as("corr")))
  }


  // ------------------------------------------------------------------
  // Needs-reindex fence (round-17 ADVICE): compact() physically purges
  // tombstoned postings and clears the tombstones and dfcorr, but does
  // NOT refresh stored imp_rank/df — after that state the capped lanes
  // have neither valid metadata nor the side tables to correct it, so
  // they must fail fast until a metadata-refreshing rewrite
  // (reindexImpact / mergeReindex) runs. The fence is the `reindex`
  // flag of the index's commit log, set by the same commit that
  // publishes the purge, so no crash point leaves the silent overcount
  // the fence exists to prevent.
  // ------------------------------------------------------------------

  private def requireCappedServable(st: IndexCore.State, prefix: String,
      caller: String): Unit =
    require(!st.reindex,
      s"$caller($prefix): a compaction purged tombstoned postings without " +
        "refreshing imp_rank/df (the _NEEDS_REINDEX fence) — stored ranks " +
        "have holes and df overcounts; run reindexImpact or mergeReindex, " +
        "or serve through the exact probe")

  /** Compact both bucketed tables (one file per bucket, per-bucket
    * local rewrite — [[IndexCore.compacted]]'s plan), physically
    * purging pending tombstones, and re-base the stats table to ONE
    * row recomputed from the surviving norms — all three published by
    * ONE commit that also clears the tombstones and raises the
    * needs-reindex flag when it purged. Probe decisions are unchanged
    * — the masks were already hiding exactly the purged rows. The
    * fold log is KEPT: the rewrite preserves row stamps, so committed
    * merge-output rows (reserved stamps) survive it and still need the
    * log to be visible — only the re-stamping rewrites (reindexImpact
    * / mergeReindex) clear it. */
  def compact(spark: SparkSession, prefix: String): Unit = {
    val st = IndexCore.requireLedgered(spark, docstatsTable(prefix), "compact")
    val tomb = IndexCore.retiredFrame(spark, st.retired)
    // physically drop folded segments' dead files before the raw
    // rewrite below reads the table — it reads every row on disk, and
    // resurrected fold inputs would double-count
    IndexCore.gcDeadFiles(spark, postingsTable(prefix), st.log(prefix))
    IndexCore.rewrite(spark, postingsTable(prefix), "compact", Seq(
      IndexCore.compacted(spark, Postings, prefix, tomb, "doc_id"),
      IndexCore.compacted(spark, Docstats, prefix, tomb, "doc_id"),
      rebasedStats(spark, prefix, tomb)))(s => s.copy(retired = s.retired -- st.retired.keys,
      reindex = s.reindex || st.retired.nonEmpty))
    IndexCore.dropWithFiles(spark, dfcorrTable(prefix))
  }

  /** The stats table re-based to ONE BaseBatch row recomputed from the
    * norms that survive `tomb`, as a [[IndexCore.rewrite]] entry (an
    * EXTERNAL location: a bare saveAsTable(Overwrite) would silently
    * re-create the table as MANAGED under the persistent
    * spark-warehouse — files that outlive the JVM and collide with the
    * next session's prefix). */
  private def rebasedStats(spark: SparkSession, prefix: String,
      tomb: Option[DataFrame]): (String, (String, String) => Unit) = {
    val norms = spark.table(docstatsTable(prefix))
    val st = tomb.fold(norms)(ts =>
        norms.join(ts, norms("doc_id") === ts("retired_id"), "left_anti"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(lit(BaseBatch).as("ingest_batch"), col("n_docs"), col("sum_dl"))
      .coalesce(1)
    statsTable(prefix) -> ((tmpT, loc) =>
      st.write.option("path", loc).mode(SaveMode.Overwrite).saveAsTable(tmpT))
  }

  /** The postings rewritten with impact metadata recomputed over
    * `resident` and every row re-stamped [[BaseBatch]], bucket-aligned
    * (one file per bucket), as a [[IndexCore.rewrite]] entry. */
  private def restamped(spark: SparkSession, prefix: String,
      resident: DataFrame): (String, (String, String) => Unit) = {
    val t = postingsTable(prefix)
    val b = IndexCore.bucketsOf(spark, t)
    val fresh = withImpactMeta(resident).withColumn("ingest_batch", lit(BaseBatch))
    t -> ((tmpT, loc) => IndexCore.writeBucketed(fresh, Postings, tmpT, Some(loc), b))
  }

  /** After a re-stamping rewrite: the stamps the fold log names no
    * longer exist, and the metadata the needs-reindex fence guarded
    * is fresh again. */
  private def restampedState(prefix: String)(s: IndexCore.State): IndexCore.State =
    s.copy(folds = s.folds - prefix, reindex = false)

  /** Corpus stats as a 1-row frame (n_docs, sum_dl): the sum of the
    * batch-count-sized stats table, minus the tombstoned docs'
    * contribution (count and Σdl both recorded at retire time —
    * nothing here scales with the corpus). */
  private def statsFrame(spark: SparkSession, prefix: String,
      st: IndexCore.State): DataFrame = {
    spark.catalog.refreshTable(statsTable(prefix))
    // same fold visibility as the postings (a fold replaces its folded
    // batches' stats rows with one summed row under the merge stamp —
    // counting both sides would double the corpus; an uncommitted
    // fold's row must stay invisible)
    val base = spark.table(statsTable(prefix))
      .filter(IndexCore.visibleUnder(st.log(prefix)))
      .agg(sum(col("n_docs")).as("nd0"), sum(col("sum_dl")).as("sd0"))
    IndexCore.retiredFrame(spark, st.retired) match {
      case None => base.select(col("nd0").as("n_docs"), col("sd0").as("sum_dl"))
      case Some(ts) =>
        val corr = ts.agg(count(lit(1)).as("ndr"),
          coalesce(sum(col("dl")), lit(0L)).as("sdr"))
        base.crossJoin(broadcast(corr))
          .select((col("nd0") - col("ndr")).as("n_docs"),
            (col("sd0") - col("sdr")).as("sum_dl"))
    }
  }

  /** The fixed [[Bm25Queries]] workload as a (query_id, term) frame —
    * the catalog instance of the query-frame serving API. */
  private def fixedQueryFrame(spark: SparkSession): DataFrame = spark.sql(
    s"SELECT query_id, term FROM (VALUES ${TextAnalysis.bm25Values}) AS q(query_id, term)")

  /** Largest distinct-term set a probe inlines as a literal `IN`
    * filter on the bucketed `term` scan. A real serving batch rarely
    * exceeds this (a few hundred query terms); past it the filter
    * string itself becomes the bottleneck and a semi-join against
    * the distinct-term frame is the right plan. */
  val MaxInlineTerms = 256

  /** BM25 top-k SERVING against the persisted index — tx15's scoring
    * dataflow with the corpus build deleted from the read path. The
    * query term set is a literal `IN` filter on the bucketed `term`
    * column (bucket- and footer-pruned scan: only matched postings
    * are read), df counts the matched postings, stats broadcast from
    * the 1-row [[statsFrame]]. Output = tx15's, column for column.
    * This arity serves the fixed [[Bm25Queries]] workload (the
    * catalog entry); real serving takes the query batch as DATA via
    * the `queries: DataFrame` overload. */
  def probe(spark: SparkSession, dir: String, prefix: String): DataFrame =
    probeFrame(spark, fixedQueryFrame(spark), prefix,
      Some(Bm25Queries.flatMap(_._2).distinct))

  /** Query-frame serving API (round 16, VERDICT item 6): `queries`
    * is any (query_id, term) frame — a serving tier takes its
    * workload as data, not as a compile-time constant. Small batches
    * (≤ [[MaxInlineTerms]] distinct terms — the realistic online
    * case) keep the literal `IN` pushdown on the bucketed scan
    * (plan-asserted in Round16OpsSpec); larger ones fall back to a
    * semi-join against the distinct-term frame, which still
    * exchanges only matched postings. */
  def probe(spark: SparkSession, queries: DataFrame, prefix: String): DataFrame =
    probeFrame(spark, queries, prefix, None)

  private def probeFrame(spark: SparkSession, qt: DataFrame, prefix: String,
      fixedTerms: Option[Seq[String]]): DataFrame = {
    // the impact metadata (imp_rank, stored df) belongs to tx20's
    // capped lane; the EXACT probe recomputes df from the matched
    // postings (correct under appends and tombstones) — drop the
    // stored columns so they can't shadow the live aggregate
    val st = state(spark, prefix)
    val matchedAll = termPruned(
      residentPostings(spark, prefix, st).drop("imp_rank", "df"), qt, fixedTerms)
    val matched = IndexCore.retiredFrame(spark, st.retired).fold(matchedAll)(ts =>
      matchedAll.join(broadcast(ts.select("retired_id")),
        matchedAll("doc_id") === col("retired_id"), "left_anti"))
    val dfc = matched.groupBy("term").agg(count(lit(1)).as("df"))
    scoreRankTopK(matched
      .join(broadcast(dfc), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .crossJoin(broadcast(statsFrame(spark, prefix, st))))
  }

  /** Restrict a postings frame to the workload's term vocabulary.
    * Compile-time workloads pass their term list (zero extra jobs);
    * a query FRAME's distinct terms are collected when the batch is
    * small enough to inline (bounded driver read — it is the QUERY
    * workload, never corpus-sized), else pruned via semi-join. */
  private def termPruned(postings: DataFrame, qt: DataFrame,
      fixedTerms: Option[Seq[String]]): DataFrame = {
    val inline = fixedTerms.orElse {
      val t = qt.select("term").distinct().limit(MaxInlineTerms + 1)
        .collect().map(_.getString(0)).toSeq
      if (t.size <= MaxInlineTerms) Some(t) else None
    }
    inline match {
      case Some(terms) => postings.filter(col("term").isin(terms: _*))
      case None => postings.join(qt.select("term").distinct(),
        Seq("term"), "left_semi")
    }
  }

  /** tx15's scoring/ranking tail, shared VERBATIM by the exact
    * ([[probe]]) and capped ([[impactProbe]]) serving lanes so the
    * oracle-hash-checked arithmetic (6-dp rounded per-term scores,
    * DECIMAL-exact per-(query,doc) summation, the (bm25 desc,
    * doc_id) tie-break) can never diverge between them. `cands`
    * carries (query_id, doc_id, tf, dl, df, n_docs, sum_dl) — the
    * lanes differ only in how candidates and df are produced. */
  private def scoreRankTopK(cands: DataFrame): DataFrame = {
    val scored = cands.withColumn("score", expr(
      s"""round(
         |  ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |           / (CAST(df AS DOUBLE) + 0.5))
         |  * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
         |  / (CAST(tf AS DOUBLE)
         |     + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
         |                  * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))),
         |  6)""".stripMargin))
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(sum(col("score").cast(DecimalType(18, 8))).cast(DoubleType).as("bm25"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id").asc)
    perDoc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Bm25TopK)
      .select(col("query_id"), col("rk").cast("int").as("rk"),
        col("doc_id"), col("bm25"), col("n_terms"))
      .orderBy("query_id", "rk")
  }

  /** Per-term candidate cap for the impact-ordered probe (tx20). */
  val ImpactCap = 64

  /** BM25 top-k with an IMPACT-ORDERED candidate cap (tx20, round
    * 15) — the approximation family (Anh & Moffat's impact-ordered
    * indexes; MaxScore/WAND's goal by storage layout) that makes
    * lexical top-k SUBLINEAR in document frequency: only each query
    * term's top-[[ImpactCap]] postings by impact order (tf desc,
    * dl asc — BM25's term score is monotone up in tf, down in dl)
    * are read and scored, then ranked exactly. The cap is pushed to
    * the scan as `imp_rank <= C` alongside the term `IN` — with the
    * postings sorted (term, imp_rank), high-df terms' beyond-cap row
    * groups prune by footer min/max, so probe bytes are
    * ∝ terms × C instead of ∝ Σ df. df for scoring rides the
    * posting row (build-time global — see the writeBatch note);
    * corpus stats broadcast from [[statsFrame]]. Deterministic by
    * construction: the oracle replays the identical cap, so the
    * APPROXIMATION ITSELF is hash-checked, not compared against the
    * uncapped answer. Round15OpsSpec additionally measures the
    * capped/uncapped rank agreement at the fixture scale, and
    * Round16OpsSpec measures the post-append STALENESS window the
    * batch-local ranks open before [[reindexImpact]] runs.
    *
    * PENDING TOMBSTONES (round 17, VERDICT item 3) no longer demote
    * this lane: the scan over-fetches `imp_rank <= C + |tombstones|`
    * (still a pushed literal — at most |tombstones| fetched rows per
    * (term, segment) can be masked, so the surviving fetch contains
    * the true surviving top-C), masks with the broadcast anti-join,
    * re-caps within (term, segment), and subtracts the retired docs'
    * per-term containment (recorded at retire time — [[retire]]'s
    * `corpus` argument) from the stored df. Lucene's live-docs-bitmap
    * read path, with the df made exact. The remaining fail-fast is
    * the [[requireCappedServable]] fence: after a [[compact]] purge
    * the metadata is stale AND the correcting side tables are gone —
    * run [[reindexImpact]]/[[mergeReindex]]. A text-less [[retire]]
    * also fails loudly (candidates could be masked but df could not
    * be corrected). */
  def impactProbe(spark: SparkSession, dir: String, prefix: String): DataFrame =
    impactProbeFrame(spark, fixedQueryFrame(spark), prefix,
      Some(Bm25Queries.flatMap(_._2).distinct))

  /** [[impactProbe]] over a (query_id, term) query FRAME — the
    * capped lane's query-frame serving API (see [[probe]]'s frame
    * overload for the inline-vs-semi-join term pruning). */
  def impactProbe(spark: SparkSession, queries: DataFrame, prefix: String): DataFrame =
    impactProbeFrame(spark, queries, prefix, None)

  /** SEGMENT-MERGED capped probe (tx23, round 16) — the serving mode
    * that CLOSES the staleness window Round16OpsSpec measures instead
    * of waiting for [[reindexImpact]]: Lucene's read path (each
    * segment keeps its own impact order; queries merge segments at
    * read time against global stats), expressed over the batch-local
    * metadata appends already write. Three steps make its answer
    * EQUAL the reindexed index's ([[impactProbe]] after
    * [[reindexImpact]]), bit for bit:
    *
    *   - CANDIDATES: a posting's batch-local rank never exceeds its
    *     global rank (its batch's better-postings set is a subset of
    *     the global one), so the per-batch `imp_rank <= C` scan —
    *     the pushed filter the (term, imp_rank) sort layout already
    *     serves — returns a SUPERSET of the global top-C for every
    *     term. Probe bytes stay ∝ terms × C × segments, amortized
    *     by compaction's batch folding.
    *   - RE-CAP: the merged candidates re-rank by the SAME impact
    *     order and re-cap at C — since the union contains every
    *     global-top-C posting and the order is a strict total order,
    *     the re-capped set IS the global top-C, exactly. (Without
    *     this step the extra per-term tails shift partial BM25 sums
    *     unpredictably — measured at 0.55–0.65 agreement on the
    *     cap-adversarial fixture before the re-cap landed.) The
    *     re-rank window runs over the WORKLOAD-sized candidate frame
    *     (terms × C × segments rows), never the corpus — skew-free
    *     by size.
    *   - df: every (term, segment) with any postings has its rank-1
    *     row inside the cap, carrying that segment's stored df; the
    *     segment dfs SUM to the exact global df. The naive stale
    *     probe scores each posting with its own batch's df instead —
    *     the idf bias that dominates its measured staleness loss
    *     (0.20–0.45 agreement; a small fresh batch has tiny df, so
    *     its docs' idf explodes).
    *
    * Equality to the global-cap construction means tx23 shares
    * tx20/tx21's ORACLE: hash-matching it proves a stale
    * multi-segment index serves exactly what the rebuilt index
    * would — reindex becomes a layout/throughput optimization, not a
    * correctness event. Pending tombstones are served through the
    * same over-fetch + mask + re-cap + df-correction path as
    * [[impactProbe]] (round 17 — the fetch widens to C + |tombstones|
    * per segment, the re-cap is the global window this lane already
    * runs, and the summed segment dfs take the per-term containment
    * correction), with one precondition of its own: SEGMENTS MUST
    * CARRY DISTINCT `ingest_batch` STAMPS —
    * the df sum groups by (term, ingest_batch), so two segments
    * sharing a stamp would fold into one group and undercount df.
    * [[maintainBatch]] enforces unique non-negative ids; ad-hoc
    * [[append]]s feeding this probe must pass explicit distinct
    * stamps rather than the BaseBatch default. */
  def segmentProbe(spark: SparkSession, dir: String, prefix: String): DataFrame =
    segmentProbeFrame(spark, fixedQueryFrame(spark), prefix,
      Some(Bm25Queries.flatMap(_._2).distinct))

  /** [[segmentProbe]] over a (query_id, term) query FRAME. */
  def segmentProbe(spark: SparkSession, queries: DataFrame, prefix: String): DataFrame =
    segmentProbeFrame(spark, queries, prefix, None)

  private def segmentProbeFrame(spark: SparkSession, qt: DataFrame,
      prefix: String, fixedTerms: Option[Seq[String]]): DataFrame = {
    val st = state(spark, prefix)
    requireCappedServable(st, prefix, "segmentProbe")
    // Pending tombstones no longer demote this lane (round 17, VERDICT
    // item 3 — the Lucene live-docs read path): OVER-FETCH each
    // segment's cap by |tombstones| (at most nT fetched rows per term
    // can be masked, so the surviving fetch still contains every
    // global-surviving top-C posting), MASK with the broadcast
    // anti-join, and let the existing re-cap window restore the exact
    // surviving top-C. The scan keeps a pushed literal
    // `imp_rank <= C + nT` — same footer pruning, slightly wider.
    val tomb = IndexCore.retiredFrame(spark, st.retired)
    val nT = st.retired.size.toLong
    val capped0 = termPruned(residentPostings(spark, prefix, st), qt, fixedTerms)
      .filter(col("imp_rank") <= lit(ImpactCap + nT))
    // exact global df from the PRE-MASK fetch: each (term, batch)
    // contributes its stored df once (constant within the pair; its
    // rank-1 row is always fetched, masked or not), summed across
    // segments — then the retired docs' per-term containment
    // (recorded at retire time, O(retired)) is subtracted, so df is
    // the SURVIVORS' df exactly.
    val dfc0 = capped0.groupBy("term", "ingest_batch")
      .agg(org.apache.spark.sql.functions.max(col("df")).as("bdf"))
      .groupBy("term").agg(sum(col("bdf")).as("df0"))
    val dfc = tomb match {
      case None => dfc0.select(col("term"), col("df0").as("df"))
      case Some(ts) =>
        dfc0.join(dfCorrCounts(spark, prefix, ts, st.retired.keySet), Seq("term"), "left")
          .select(col("term"),
            (col("df0") - coalesce(col("corr"), lit(0L))).as("df"))
    }
    val capped = tomb.fold(capped0)(ts =>
      capped0.join(broadcast(ts.select("retired_id")),
        capped0("doc_id") === col("retired_id"), "left_anti"))
    // stamp-collision guard (round-16 review): two segments sharing an
    // ingest_batch stamp fold into one df group and undercount df
    // silently — the state a DEFAULT-stamp ad-hoc append on top of a
    // base build produces. Detectable from the PRE-MASK fetch alone
    // (workload-sized): a (term, stamp) pair with two rank-1 rows IS
    // a collision.
    val collided = capped0.filter(col("imp_rank") === 1)
      .groupBy("term", "ingest_batch").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(collided.isEmpty,
      s"segmentProbe($prefix): segments share ingest_batch stamp " +
        s"${collided.headOption.map(_.getLong(1))} (term " +
        s"${collided.headOption.map(_.getString(0))} has multiple rank-1 " +
        "rows) — df would undercount; append segments with distinct " +
        "stamps (maintainBatch does) or reindex/merge first")
    // re-cap the merged candidates at the GLOBAL top-C: the union of
    // per-segment top-C contains it (batch rank <= global rank), so
    // re-ranking the workload-sized frame restores tx20's exact
    // candidate set — this window's partitions are <= C x segments
    // rows, bounded by the probe, never by df. Order derives from the
    // SHARED impactOrder (minus the term component) so the build's
    // stored ranks and the re-cap can never diverge.
    val wG = Window.partitionBy("term").orderBy(impactOrder.drop(1): _*)
    val recapped = capped.drop("df")
      .withColumn("grk", row_number().over(wG))
      .filter(col("grk") <= ImpactCap)
      .drop("grk")
    scoreRankTopK(recapped
      .join(broadcast(dfc), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .crossJoin(broadcast(statsFrame(spark, prefix, st))))
  }

  private def impactProbeFrame(spark: SparkSession, qt: DataFrame,
      prefix: String, fixedTerms: Option[Seq[String]]): DataFrame = {
    val st = state(spark, prefix)
    requireCappedServable(st, prefix, "impactProbe")
    IndexCore.retiredFrame(spark, st.retired) match {
      case None =>
        // tombstone-free fast path: the stored rank IS the cap, no
        // extra window on the serving plan
        val capped = termPruned(residentPostings(spark, prefix, st), qt, fixedTerms)
          .filter(col("imp_rank") <= ImpactCap)
        scoreRankTopK(capped
          .join(broadcast(qt), Seq("term"))
          .crossJoin(broadcast(statsFrame(spark, prefix, st))))
      case Some(ts) =>
        // Pending tombstones (round 17, VERDICT item 3): over-fetch
        // the stored cap by |tombstones| (at most nT fetched rows per
        // (term, segment) can be masked, so the surviving fetch still
        // contains that segment's true top-C survivors), mask, re-cap
        // WITHIN each (term, segment) — this lane's contract is the
        // stored (per-segment) impact order, so the re-cap restores
        // exactly the top-C the stored ranks would carry had the
        // retirees never been indexed. Stored df (batch-local) gets
        // the same per-term containment correction the segment lane
        // uses; on the single-segment index the catalog entry serves,
        // stored df is global, so the corrected df is the survivors'.
        val nT = st.retired.size.toLong
        val capped0 = termPruned(residentPostings(spark, prefix, st), qt, fixedTerms)
          .filter(col("imp_rank") <= lit(ImpactCap + nT))
        val masked = capped0.join(broadcast(ts.select("retired_id")),
          capped0("doc_id") === col("retired_id"), "left_anti")
        val wB = Window.partitionBy("term", "ingest_batch")
          .orderBy(impactOrder.drop(1): _*)
        val recapped = masked
          .withColumn("brk", row_number().over(wB))
          .filter(col("brk") <= ImpactCap)
          .drop("brk")
        val corrected = recapped
          .join(dfCorrCounts(spark, prefix, ts, st.retired.keySet), Seq("term"), "left")
          .withColumn("df", col("df") - coalesce(col("corr"), lit(0L)))
          .drop("corr")
        scoreRankTopK(corrected
          .join(broadcast(qt), Seq("term"))
          .crossJoin(broadcast(statsFrame(spark, prefix, st))))
    }
  }

  /** REBUILD the impact metadata globally (tx21) — the maintenance
    * verb dq08's reindex flag triggers: appends stamp BATCH-LOCAL
    * imp_rank/df (a batch knows nothing of the resident postings),
    * so after enough arrivals the capped probe's per-term top-C
    * drifts from the true global impact order and the stored df
    * undercounts. This rewrites the postings with imp_rank and df
    * recomputed over the WHOLE resident table — the skew-safe
    * two-phase ranking ([[withImpactMeta]]: range-partitioned local
    * ranks + segment offsets, so a zipf-heavy term can never
    * serialize the rebuild on one task) — re-written bucketed
    * (term, imp_rank) at a fresh external location ([[IndexCore.rewrite]];
    * a bare managed overwrite would leak warehouse files across JVMs —
    * the tx18 lesson). The production analog is the merge/optimize pass
    * every impact-ordered index runs (Anh & Moffat; Lucene's
    * forceMerge). */
  def reindexImpact(spark: SparkSession, prefix: String): Unit = {
    val st = IndexCore.requireLedgered(spark, docstatsTable(prefix), "reindexImpact")
    IndexCore.rewrite(spark, postingsTable(prefix), "reindex", Seq(restamped(spark, prefix,
      residentPostings(spark, prefix, st).select("term", "doc_id", "tf", "dl"))))(
      restampedState(prefix))
  }

  /** tx21: the dq08→reindex maintenance cycle made observable —
    * fresh index on 3/4 of the corpus, append the arriving quarter
    * (impact metadata now batch-local/stale), [[reindexImpact]],
    * then the capped probe: the result must equal the GLOBAL-cap
    * oracle (tx20's SQL over the full corpus) — a divergence means
    * the rebuild failed to restore global impact order or df. */
  def reindexCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDoc)) { (c, docs) =>
      c.phase("append") { append(spark, dir, docs.filter(isNewDoc), c.prefix) }
      c.phase("reindex") { reindexImpact(spark, c.prefix) }
      c.probe("probe")(impactProbe(spark, dir, c.prefix))
    }

  /** st20 (round 16, VERDICT item 5): the lexical lane's streaming
    * maintenance cycle — [[VecIndex.maintainedCycle]]'s analog, so a
    * restart after new arrivals can never serve a stale lexical
    * index. Fresh index on 3/4 of the corpus; the arriving quarter
    * lands through the log-fenced [[maintainBatch]]; the
    * batch is REPLAYED (commit marker lost) and must be a
    * whole-batch no-op (asserted in-cycle); a compaction folds the
    * appended files back to one per bucket (the periodic compact a
    * foreachBatch maintenance sink schedules); then the serving
    * probe runs. The final index equals the full corpus, so the
    * entry shares tx15's oracle; StreamingSpec drives the same
    * maintenance through a real readStream foreachBatch with a
    * checkpoint restart and pins batch-equivalence. */
  def maintainedCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDoc)) { (c, docs) =>
      c.phase("append") {
        if (!maintainBatch(spark, dir, c.prefix, docs.filter(isNewDoc), 0L))
          sys.error("st20: fresh index claims batch 0 already maintained")
        if (maintainBatch(spark, dir, c.prefix, docs.filter(isNewDoc), 0L))
          sys.error("st20: replayed batch 0 was not log-skipped")
      }
      // the PERIODIC verb is plain compact: this cycle serves the EXACT
      // probe, which ignores impact metadata, so the fused mergeReindex
      // would add a corpus-sized metadata refresh per streaming cycle
      // for metadata nothing here reads, coupling ingest cadence to
      // corpus size. Deployments serving capped lanes schedule the
      // fused pass on the drift gate (tx22) or the merge policy
      // (tx24). Decisions are identical either way, so tx15's oracle
      // is untouched.
      c.phase("compact") { compact(spark, c.prefix) }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  /** tx22 (round 16, VERDICT item 4): the impact-index maintenance
    * loop wired END TO END — the composition dq08 and tx21 each
    * asserted piecewise. Build on the dense-id 3/4 (dq08's
    * oracle-expressible batch convention — `doc_id % 4`, NOT the
    * other cycles' hash quarter, so the gate's arithmetic is
    * replayable in SQL), append the arriving quarter (impact
    * metadata now batch-local/stale), run the dq08 detector over
    * exactly that batch designation, REBUILD ONLY IF IT FIRES, then
    * serve the capped probe. The oracle encodes the same
    * conditional: drift fired → the global-cap candidate set (tx20's
    * semantics restored by the rebuild); quiet → the STALE set (each
    * batch's own top-C and batch-local df — precisely what
    * batch-local ranks serve, the staleness dq08's threshold
    * bounds). On the synthetic fixtures the quarter is
    * distributionally flat (KL ≈ 0.002 ≪ 0.05), so the catalog
    * entry exercises the skip path and hash-checks the stale serve;
    * Round16OpsSpec drives the FIRING path on a vocabulary-shifted
    * corpus and asserts the rebuild both runs and restores the
    * global-cap answer. */
  def driftGatedCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDense)) { (c, docs) =>
      c.phase("append") { append(spark, dir, docs.filter(isNewDense), c.prefix) }
      val fire = c.phase("drift") { TextAnalysis.vocabDriftReindex(docs, isNewDense) }
      // the loop's rebuild verb is the FUSED pass — one corpus write
      // instead of compact-then-reindex's two, same logical result (no
      // pending tombstones here, so mergeReindex ≡ reindexImpact +
      // file fold)
      if (fire) c.phase("reindex") { mergeReindex(spark, c.prefix) }
      c.probe("probe")(impactProbe(spark, dir, c.prefix))
    }

  /** FUSED merge + impact refresh (tx24, round 16) — the maintenance
    * pass Lucene's segment merge actually is: compaction's physical
    * rewrite (fold per-append files to one per bucket, purge pending
    * tombstones) and [[reindexImpact]]'s metadata refresh (global
    * imp_rank/df over the resident rows) in ONE postings rewrite,
    * instead of compact-then-reindex paying the corpus-sized write
    * twice. The docstats fold and the stats re-base ride along as
    * [[compact]] does them, and one commit publishes all three tables
    * and clears the tombstones. After this pass the naive [[impactProbe]] is exact
    * again (single segment, global metadata), files are one per
    * bucket, and footer (term, imp_rank) bounds are fresh — the
    * state every serving path likes best. Skew posture is
    * [[withImpactMeta]]'s; the write is the same bucketed
    * (term, imp_rank) layout at a fresh external location. */
  def mergeReindex(spark: SparkSession, prefix: String): Unit = {
    val st = IndexCore.requireLedgered(spark, docstatsTable(prefix), "mergeReindex")
    val tomb = IndexCore.retiredFrame(spark, st.retired)
    val residentAll = residentPostings(spark, prefix, st)
      .select("term", "doc_id", "tf", "dl")
    IndexCore.rewrite(spark, postingsTable(prefix), "merge", Seq(
      restamped(spark, prefix, tomb.fold(residentAll)(ts =>
        residentAll.join(ts, residentAll("doc_id") === col("retired_id"), "left_anti"))),
      IndexCore.compacted(spark, Docstats, prefix, tomb, "doc_id"),
      rebasedStats(spark, prefix, tomb)))(s =>
      restampedState(prefix)(s.copy(retired = s.retired -- st.retired.keys)))
    IndexCore.dropWithFiles(spark, dfcorrTable(prefix))
  }

  /** SIZE-TIERED segment merge (round 17, VERDICT item 2) — the
    * bounded-work maintenance verb between "do nothing" and the
    * corpus-sized [[mergeReindex]]: fold ONLY the segments below the
    * tier threshold into one merged segment, leaving the big tier's
    * files untouched on disk. Lucene's size-tiered merge policy over
    * the batch-stamped segments appends already write:
    *
    *   - the TIER PICK reads parquet FOOTERS only
    *     ([[IndexCore.segmentSizes]]) — per-segment row counts from
    *     file metadata, no data I/O;
    *   - the FOLD reads exactly the sub-tier segments' rows (a pushed
    *     `ingest_batch IN (S)` literal — every append file holds one
    *     stamp, so the scan footer-prunes to S's files: bytes read
    *     are bounded by |S| × tier, never the corpus), recomputes the
    *     merged segment's impact metadata ([[withImpactMeta]] — the
    *     merged segment is ONE proper segment with its own local
    *     ranks and df), and appends it under a reserved stamp;
    *   - the COMMIT is one log commit of the fold's stamps
    *     ([[IndexCore.commitFold]]): before it, the output rows are
    *     invisible by construction (reserved stamp not in the log)
    *     and the inputs still serve; after it, the inputs are dead
    *     and the output serves. Every crash point therefore leaves
    *     the index serving exactly its pre-fold or post-fold content,
    *     never a mix;
    *   - dead files (folded inputs, orphaned outputs of crashed
    *     attempts) are physically deleted AFTER the commit — pure GC,
    *     the rows were already invisible.
    *
    * Serving goes through [[segmentProbe]] (which round 16 proved
    * serves bit-for-bit what a rebuild would, from any segment set),
    * so this verb never changes an answer — Round17OpsSpec pins that
    * the big tier's files are byte-identical across a fold, the
    * crash-window invariants, and the probe-fan-in bound the policy
    * exists to enforce. At 100 TB this is the difference between
    * maintenance I/O ∝ arrivals and maintenance I/O ∝ corpus.
    *
    * Returns true when a fold ran (≥ 2 sub-tier segments existed). */
  def tieredMerge(spark: SparkSession, prefix: String,
      maxTierRows: Long = Long.MaxValue): Boolean = {
    IndexCore.requireLedgered(spark, docstatsTable(prefix), "tieredMerge")
    IndexCore.tieredMerge(spark, prefix, prefix, Seq(Postings), maxTierRows) {
      (spec, foldIn, fold) =>
        // rank-form choice from MEASURED metadata: the fold's input rows
        // are known EXACTLY from footer counts — a bounded merged
        // segment takes the single-exchange window rank; anything
        // larger keeps the skew-safe two-phase form
        val mergedIn = foldIn.select("term", "doc_id", "tf", "dl")
        val merged = if (fold.rows <= WindowRankMaxRows) withImpactMetaWindow(mergedIn)
          else withImpactMeta(mergedIn)
        IndexCore.writeTable(merged.withColumn("ingest_batch", lit(fold.out)),
          spec, prefix, None)
        // the merged segment's stats row replaces its inputs' rows (the
        // same visibility rule hides the folded ones after commit)
        spark.table(statsTable(prefix))
          .filter(col("ingest_batch").isin(fold.stamps: _*))
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
          .select(lit(fold.out).as("ingest_batch"), col("n_docs"), col("sum_dl"))
          .coalesce(1)
          .write.mode(SaveMode.Append).saveAsTable(statsTable(prefix))
    }
  }

  /** [[maintainBatch]] with the AUTO-MAINTENANCE policy inline
    * (round 17, VERDICT item 8 — dd20's file-count policy, lexical
    * form): after a live append, if the visible segment count exceeds
    * `maxSegments`, fold the sub-tier segments ([[tieredMerge]]) so
    * the probes' merge fan-in stays a CONSTANT regardless of append
    * history. The policy fires the BOUNDED verb, not a corpus rewrite
    * — at 100 TB an inline policy that scheduled mergeReindex would
    * couple ingest latency to corpus size. Returns (appended,
    * policyFired). */
  def maintainBatchAuto(spark: SparkSession, dir: String, prefix: String,
      newDocs: DataFrame, batchId: Long,
      maxSegments: Int = 4): (Boolean, Boolean) = {
    val appended = maintainBatch(spark, dir, prefix, newDocs, batchId)
    val fired = appended && {
      val t = postingsTable(prefix)
      spark.catalog.refreshTable(t)
      IndexCore.segmentSizes(spark, t, state(spark, prefix).log(prefix)).size > maxSegments &&
        tieredMerge(spark, prefix)
    }
    (appended, fired)
  }

  /** tx24: the fused pass made observable — two stale segments plus
    * a PENDING RETIRE (the state that trips both naive capped lanes:
    * batch-local metadata AND tombstone holes), one [[mergeReindex]],
    * then the plain capped probe. The oracle is the global-cap SQL
    * over the SURVIVING corpus — hash-matching proves the single
    * rewrite folded segments, purged the retiree, and refreshed
    * global impact order/df all at once. Retiree choice is
    * oracle-replayable: the doc_id ranked first by tx20's global cap
    * (deterministic), retired via the tombstone path. */
  def mergeCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDense)) { (c, docs) =>
      c.phase("append") { append(spark, dir, docs.filter(isNewDense), c.prefix, batch = 1L) }
      c.phase("retire") { retire(spark, c.prefix, victim(spark, dir, c.prefix)) }
      c.phase("merge") { mergeReindex(spark, c.prefix) }
      c.probe("probe")(impactProbe(spark, dir, c.prefix))
    }

  /** The top-ranked doc of the stale-but-exact segment merge —
    * deterministic and SQL-replayable (rk=1, query 0). */
  private def victim(spark: SparkSession, dir: String, prefix: String): DataFrame =
    segmentProbe(spark, dir, prefix)
      .filter(col("query_id") === 0 && col("rk") === 1)
      .select("doc_id")

  /** tx23 (round 16): [[segmentProbe]] made observable on the exact
    * fixture that exposes the naive stale probe — build on the
    * dense-id 3/4, append the quarter (index now two segments with
    * batch-local metadata), serve WITHOUT any reindex. The oracle is
    * tx20's GLOBAL-cap SQL: hash-matching it proves the read-time
    * segment merge serves exactly what tx21's rebuild would — from
    * segments whose stored metadata is stale. */
  def segmentCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDense)) { (c, docs) =>
      // explicit stamp: segmentProbe's df sum groups by ingest_batch,
      // so each segment must carry its own (see the scaladoc)
      c.phase("append") { append(spark, dir, docs.filter(isNewDense), c.prefix, batch = 1L) }
      c.probe("probe")(segmentProbe(spark, dir, c.prefix))
    }

  /** tx25 (round 17, VERDICT item 3): capped serving under PENDING
    * tombstones — [[mergeCycle]]'s exact fixture (two stale segments
    * plus one pending retire, the state that used to fail fast) served
    * WITHOUT any rewrite: the over-fetch + broadcast-mask + re-cap
    * path must answer exactly what the fused rewrite would serve, so
    * the entry SHARES tx24's oracle — hash-matching proves a deletion
    * storm no longer demotes the cheap lane. The retire carries the
    * outgoing docs' text, which is what records the df corrections
    * the masked lane subtracts. */
  def maskedRetireCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDense)) { (c, docs) =>
      c.phase("append") { append(spark, dir, docs.filter(isNewDense), c.prefix, batch = 1L) }
      c.phase("retire") { retire(spark, c.prefix, victim(spark, dir, c.prefix), Some(docs)) }
      c.probe("probe")(segmentProbe(spark, dir, c.prefix))
    }

  /** tx26 (round 17, VERDICT item 2): the size-tiered merge made
    * observable — base build plus three small appends (the file/
    * segment-growth regime), ONE [[tieredMerge]] that folds exactly
    * the three sub-tier segments while the base tier's files stay
    * byte-untouched (Round17OpsSpec pins that), then the segment
    * probe. The final answer must equal the global cap over the full
    * corpus (the fold is a layout event, not a semantic one), so the
    * entry shares tx20's oracle. */
  def tieredCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDense)) { (c, docs) =>
      // pmod(id,12) ∈ {0,4,8} partitions the dense quarter into 3
      // slices, each under its own stamp — three sub-tier segments
      c.phase("append") {
        Seq(0, 4, 8).foreach(r => append(spark, dir, denseSlice(docs, r), c.prefix, batch = r.toLong))
      }
      c.phase("merge") {
        IndexCore.checkedFold(spark, tag, postingsTable(c.prefix), c.prefix)(
          tieredMerge(spark, c.prefix))
      }
      c.probe("probe")(segmentProbe(spark, dir, c.prefix))
    }

  /** tx27 (round 17, VERDICT item 8): the lexical AUTO-MAINTENANCE
    * policy — dd20's in-cycle automation for this family. Three
    * micro-batches land through [[maintainBatchAuto]] with a low
    * segment bound so the policy fires MID-history (asserted, along
    * with the fan-in bound it exists to enforce — the second fold
    * also exercises the CASCADE: a previous fold's output folds
    * again). Serving is the segment probe; the final content is the
    * full corpus under the global cap, so the entry shares tx20's
    * oracle. */
  def autoMaintainCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDense)) { (c, docs) =>
      c.phase("append") {
        var fires = 0
        val bound = 2 // base + one merged/fresh segment
        Seq(0, 4, 8).foreach { r =>
          val (appended, fired) = maintainBatchAuto(spark, dir, c.prefix,
            denseSlice(docs, r), batchId = r.toLong, maxSegments = bound)
          if (!appended) sys.error(s"tx27: fresh batch $r claims already maintained")
          if (fired) fires += 1
          val segs = IndexCore.segmentSizes(spark, postingsTable(c.prefix),
            state(spark, c.prefix).log(c.prefix)).size
          if (segs > bound + 1)
            sys.error(s"tx27: policy failed to bound segments: $segs > ${bound + 1}")
        }
        if (fires == 0)
          sys.error("tx27: fixture too small — the auto-maintenance policy never fired")
      }
      c.probe("probe")(segmentProbe(spark, dir, c.prefix))
    }

  /** Drop the registered tables (files are external; the temp-dir
    * lifecycle owns them). */
  def drop(spark: SparkSession, prefix: String): Unit = Fam.drop(spark, prefix)

  /** The tx16/tx20 catalog entries' index: built once per (session,
    * dir, tag) and reused — the index is a durable artifact, the
    * bench's repeated sweeps re-time the PROBE (the production read
    * path). */
  def ensurePersisted(spark: SparkSession, dir: String,
      tag: String = "tx16"): String =
    IndexCore.ensurePersisted(spark, dir, Fam, tag, tag)((path, p) =>
      persist(spark, dir, path, p))

  // ------------------------------------------------------------------
  // Fresh lifecycle cycles (tx17–tx27, st20)
  // ------------------------------------------------------------------

  /** A fixture cycle on a FRESH index built from the documents
    * matching `resident` (all of them when None); `body` gets the
    * cycle and the full documents frame. */
  private def cycle(spark: SparkSession, dir: String, tag: String,
      resident: Option[org.apache.spark.sql.Column])(
      body: (IndexCore.Cycle, DataFrame) => DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
    IndexCore.cycle(spark, dir, tag, Fam)((path, p) =>
      persist(spark, dir, path, p, resident.map(docs.filter)))(c => body(c, docs))
  }

  /** Deterministic new-document predicate for the lifecycle fixtures:
    * ~1/4 of the corpus arrives as the "new" batch. The FINAL index
    * always equals the full corpus, so tx17/tx18 share tx15's
    * oracle. */
  private def isNewDoc: org.apache.spark.sql.Column =
    pmod(hash(col("doc_id")), lit(4)) === lit(0)

  /** The dense-id quarter (`doc_id % 4 = 0`) — dq08's
    * oracle-expressible batch designation. */
  private def isNewDense: org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(4)) === lit(0)

  /** Dense slice `r` ∈ {0, 4, 8} of the dense quarter. */
  private def denseSlice(docs: DataFrame, r: Int): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(12)) === lit(r))

  /** tx17: fresh index on 3/4 of the corpus → append the remaining
    * 1/4 → probe. tf/dl are doc-local, so the union of the two
    * builds' postings equals the full build's — a divergence from
    * tx15's oracle means append broke the layout or the stats. */
  def appendCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDoc)) { (c, docs) =>
      c.phase("append") { append(spark, dir, docs.filter(isNewDoc), c.prefix) }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  /** tx18: tx17's cycle with the append split into 3 disjoint
    * day-slices (the file-growth regime) and a compaction before the
    * probe — same oracle, plus Round15OpsSpec's file-count
    * assertion. */
  def compactCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, Some(!isNewDoc)) { (c, docs) =>
      c.phase("append") {
        // pmod(h,12) ∈ {0,4,8} partitions pmod(h,4)=0 into 3 slices
        Seq(0, 4, 8).foreach { r =>
          append(spark, dir,
            docs.filter(pmod(hash(col("doc_id")), lit(12)) === lit(r)),
            c.prefix, batch = r.toLong)
        }
      }
      c.phase("compact") { compact(spark, c.prefix) }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  /** tx19: retention made OBSERVABLE by construction — probe the full
    * index (phase 0), retire exactly the distinct documents phase 0
    * returned (bounded ≤ queries×k — the right-to-be-forgotten
    * shape), re-probe (phase 1): ranks, df, idf AND length
    * normalization must all re-settle over the surviving corpus. The
    * oracle replays phase 1 with `doc_id NOT IN (phase-0 docs)`. */
  def retentionCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    cycle(spark, dir, tag, None) { (c, _) =>
      val dec0 = c.probe("probe")(probe(spark, dir, c.prefix))
      c.phase("retire") { retire(spark, c.prefix, dec0.select(col("doc_id")).distinct()) }
      val dec1 = c.probe("reprobe")(probe(spark, dir, c.prefix))
      dec0.select(lit(0).as("phase"), col("query_id"), col("rk"),
          col("doc_id"), col("bm25"), col("n_terms"))
        .unionByName(dec1.select(lit(1).as("phase"), col("query_id"),
          col("rk"), col("doc_id"), col("bm25"), col("n_terms")))
        .orderBy("phase", "query_id", "rk")
    }

  // ------------------------------------------------------------------
  // Catalog entries + oracles
  // ------------------------------------------------------------------

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "tx16_bm25_index_probe" -> ((s, d) =>
      probe(s, d, ensurePersisted(s, d))),
    "tx17_bm25_index_append" -> ((s, d) => appendCycle(s, d, "tx17")),
    "tx18_bm25_index_compact" -> ((s, d) => compactCycle(s, d, "tx18")),
    "tx19_bm25_index_retire" -> ((s, d) => retentionCycle(s, d, "tx19")),
    "tx20_bm25_impact_topk" -> ((s, d) =>
      impactProbe(s, d, ensurePersisted(s, d))),
    "tx21_bm25_reindex" -> ((s, d) => reindexCycle(s, d, "tx21")),
    "tx22_bm25_maintain_loop" -> ((s, d) => driftGatedCycle(s, d, "tx22")),
    "tx23_bm25_segment_probe" -> ((s, d) => segmentCycle(s, d, "tx23")),
    "tx24_bm25_merge_reindex" -> ((s, d) => mergeCycle(s, d, "tx24")),
    "tx25_bm25_masked_probe" -> ((s, d) => maskedRetireCycle(s, d, "tx25")),
    "tx26_bm25_tiered_merge" -> ((s, d) => tieredCycle(s, d, "tx26")),
    "tx27_bm25_auto_maintain" -> ((s, d) => autoMaintainCycle(s, d, "tx27"))
  )

  /** The tx15 BM25 body over a `tok(doc_id, tokens)` CTE already in
    * scope, emitted as CTE definitions ending in `<out>` —
    * parameterized so tx19's oracle can run it twice over different
    * document sets without drift between the copies. */
  private def bm25Body(p: String, out: String): String =
    s"""${p}dl AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM ${p}tok),
       |${p}st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM ${p}dl),
       |${p}tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(tokens) AS term FROM ${p}tok) t
       |  JOIN (SELECT DISTINCT term FROM q) USING (term)
       |  GROUP BY 1, 2
       |),
       |${p}dfc AS (SELECT term, count(*) AS df FROM ${p}tf GROUP BY 1),
       |${p}scored AS (
       |  SELECT q.query_id, ${p}tf.doc_id,
       |         round(
       |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                    / (CAST(df AS DOUBLE) + 0.5))
       |           * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
       |           / (CAST(tf AS DOUBLE)
       |              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
       |                           * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))),
       |           6) AS score
       |  FROM ${p}tf JOIN ${p}dfc USING (term) JOIN q USING (term)
       |       JOIN ${p}dl USING (doc_id), ${p}st
       |),
       |${p}agg AS (
       |  SELECT query_id, doc_id,
       |         CAST(sum(CAST(score AS DECIMAL(18,8))) AS DOUBLE) AS bm25,
       |         count(*) AS n_terms
       |  FROM ${p}scored GROUP BY 1, 2
       |),
       |$out AS (
       |  SELECT query_id, CAST(rk AS INT) AS rk, doc_id, bm25, n_terms FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY bm25 DESC, doc_id ASC) AS rk
       |    FROM ${p}agg) t
       |  WHERE rk <= $Bm25TopK
       |)""".stripMargin

  /** tx19's oracle: phase 0 = tx15 over the full corpus; phase 1 =
    * the same body over the corpus minus phase 0's returned docs. */
  private def retireSql: String =
    s"""WITH q AS (SELECT * FROM (VALUES ${TextAnalysis.bm25Values}) AS q(query_id, term)),
       |tok AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS tokens FROM documents),
       |${bm25Body("", "ph0")},
       |retired AS (SELECT DISTINCT doc_id FROM ph0),
       |rtok AS (SELECT * FROM tok WHERE doc_id NOT IN (SELECT doc_id FROM retired)),
       |${bm25Body("r", "ph1")}
       |SELECT 0 AS phase, * FROM ph0
       |UNION ALL
       |SELECT 1 AS phase, * FROM ph1
       |ORDER BY phase, query_id, rk""".stripMargin

  /** tx20's oracle: tx15's chain with the SAME deterministic
    * per-term impact cap inserted before scoring — the approximation
    * itself is hash-checked, not measured against the uncapped
    * answer. Per-term ranking over query-term postings equals the
    * build-time ranking over all postings (terms do not interfere
    * with each other's ranks). */
  private def impactSql: String =
    s"""WITH q AS (SELECT * FROM (VALUES ${TextAnalysis.bm25Values}) AS q(query_id, term)),
       |tok AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS tokens FROM documents),
       |dl AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM tok),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(tokens) AS term FROM tok) t
       |  JOIN (SELECT DISTINCT term FROM q) USING (term)
       |  GROUP BY 1, 2
       |),
       |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |cand AS (
       |  SELECT doc_id, term, tf, dl FROM (
       |    SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
       |           row_number() OVER (PARTITION BY tf.term
       |             ORDER BY tf.tf DESC, dl.dl ASC, tf.doc_id ASC) AS imp_rank
       |    FROM tf JOIN dl USING (doc_id)) z
       |  WHERE imp_rank <= $ImpactCap
       |),
       |scored AS (
       |  SELECT q.query_id, cand.doc_id,
       |         round(
       |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                    / (CAST(df AS DOUBLE) + 0.5))
       |           * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
       |           / (CAST(tf AS DOUBLE)
       |              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
       |                           * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))),
       |           6) AS score
       |  FROM cand JOIN dfc USING (term) JOIN q USING (term), st
       |),
       |agg AS (
       |  SELECT query_id, doc_id,
       |         CAST(sum(CAST(score AS DECIMAL(18,8))) AS DOUBLE) AS bm25,
       |         count(*) AS n_terms
       |  FROM scored GROUP BY 1, 2
       |)
       |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, bm25, n_terms FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM agg) t
       |WHERE rk <= ${TextAnalysis.Bm25TopK} ORDER BY query_id, rk""".stripMargin

  /** tx22's oracle: the maintenance loop's CONDITIONAL replayed in
    * SQL — the dq08 drift detector's arithmetic (verbatim CTEs over
    * the same dense-id batch designation) gates WHICH candidate set
    * scores: the global-cap set (the rebuild ran — tx20's semantics)
    * or the STALE per-batch set (each batch's own top-[[ImpactCap]]
    * by batch-local impact order, with batch-local df riding each
    * row — exactly what [[impactProbe]] serves from batch-local
    * metadata before a reindex). Corpus stats stay global in both
    * branches (the stats table sums across batches). Hash-checking
    * this conditional checks the trigger, the rebuild AND the serve
    * as one composition. */
  private def driftSql: String =
    s"""WITH q AS (SELECT * FROM (VALUES ${TextAnalysis.bm25Values}) AS q(query_id, term)),
       |tok AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS tokens FROM documents),
       |dt AS (SELECT doc_id, unnest(tokens) AS term, (doc_id % 4 = 0) AS is_new FROM tok),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, count(*) AS n FROM dt WHERE NOT is_new
       |    GROUP BY term ORDER BY n DESC, term ASC LIMIT ${TextAnalysis.VocabTopK}) z
       |),
       |counts AS (
       |  SELECT CASE WHEN v.term IS NULL THEN '__oov__' ELSE dt.term END AS bucket,
       |         CAST(sum(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS old_n,
       |         CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS new_n
       |  FROM dt LEFT JOIN vocab v ON dt.term = v.term
       |  GROUP BY 1
       |),
       |k AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS kk,
       |         CAST(sum(old_n) AS DOUBLE) AS ot,
       |         CAST(sum(new_n) AS DOUBLE) AS nt
       |  FROM counts
       |),
       |kterms AS (
       |  SELECT round(((CAST(new_n AS DOUBLE) + 1.0) / (nt + kk))
       |               * ln(((CAST(new_n AS DOUBLE) + 1.0) / (nt + kk))
       |                    / ((CAST(old_n AS DOUBLE) + 1.0) / (ot + kk))), 6) AS kl_term
       |  FROM counts, k
       |),
       |drift AS (
       |  SELECT CAST(sum(CAST(kl_term AS DECIMAL(18,6))) AS DOUBLE)
       |           > ${TextAnalysis.VocabDriftThreshold} AS reindex
       |  FROM kterms
       |),
       |dl AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM tok),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(tokens) AS term FROM tok) t
       |  JOIN (SELECT DISTINCT term FROM q) USING (term)
       |  GROUP BY 1, 2
       |),
       |btf AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, dl.dl, (tf.doc_id % 4 = 0) AS is_new
       |  FROM tf JOIN dl USING (doc_id)
       |),
       |gdf AS (SELECT term, count(*) AS df FROM btf GROUP BY 1),
       |gcand AS (
       |  SELECT doc_id, term, tf, dl FROM (
       |    SELECT btf.*, row_number() OVER (PARTITION BY term
       |      ORDER BY tf DESC, dl ASC, doc_id ASC) AS imp_rank
       |    FROM btf) z
       |  WHERE imp_rank <= $ImpactCap
       |),
       |bdf AS (SELECT term, is_new, count(*) AS df FROM btf GROUP BY 1, 2),
       |bcand AS (
       |  SELECT doc_id, term, tf, dl, is_new FROM (
       |    SELECT btf.*, row_number() OVER (PARTITION BY term, is_new
       |      ORDER BY tf DESC, dl ASC, doc_id ASC) AS imp_rank
       |    FROM btf) z
       |  WHERE imp_rank <= $ImpactCap
       |),
       |cand AS (
       |  SELECT gcand.doc_id, gcand.term, gcand.tf, gcand.dl, gdf.df
       |  FROM gcand JOIN gdf USING (term)
       |  WHERE (SELECT reindex FROM drift)
       |  UNION ALL
       |  SELECT bcand.doc_id, bcand.term, bcand.tf, bcand.dl, bdf.df
       |  FROM bcand JOIN bdf USING (term, is_new)
       |  WHERE NOT (SELECT reindex FROM drift)
       |),
       |scored AS (
       |  SELECT q.query_id, cand.doc_id,
       |         round(
       |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                    / (CAST(df AS DOUBLE) + 0.5))
       |           * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
       |           / (CAST(tf AS DOUBLE)
       |              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
       |                           * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))),
       |           6) AS score
       |  FROM cand JOIN q USING (term), st
       |),
       |agg AS (
       |  SELECT query_id, doc_id,
       |         CAST(sum(CAST(score AS DECIMAL(18,8))) AS DOUBLE) AS bm25,
       |         count(*) AS n_terms
       |  FROM scored GROUP BY 1, 2
       |)
       |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, bm25, n_terms FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY bm25 DESC, doc_id ASC) AS rk
       |  FROM agg) t
       |WHERE rk <= ${TextAnalysis.Bm25TopK} ORDER BY query_id, rk""".stripMargin

  /** The global-cap scoring chain over a `<p>tok(doc_id, tokens)` CTE
    * already in scope, emitted as CTE definitions ending in `<out>` —
    * parameterized so tx24's oracle can run it twice (full corpus to
    * find the retiree, survivors for the served answer) without
    * drift between the copies. Semantics = [[impactSql]]'s chain. */
  private def impactBody(p: String, out: String): String =
    s"""${p}dl AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM ${p}tok),
       |${p}st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM ${p}dl),
       |${p}tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(tokens) AS term FROM ${p}tok) t
       |  JOIN (SELECT DISTINCT term FROM q) USING (term)
       |  GROUP BY 1, 2
       |),
       |${p}dfc AS (SELECT term, count(*) AS df FROM ${p}tf GROUP BY 1),
       |${p}cand AS (
       |  SELECT doc_id, term, tf, dl FROM (
       |    SELECT ${p}tf.doc_id, ${p}tf.term, ${p}tf.tf, ${p}dl.dl,
       |           row_number() OVER (PARTITION BY ${p}tf.term
       |             ORDER BY ${p}tf.tf DESC, ${p}dl.dl ASC, ${p}tf.doc_id ASC) AS imp_rank
       |    FROM ${p}tf JOIN ${p}dl USING (doc_id)) z
       |  WHERE imp_rank <= $ImpactCap
       |),
       |${p}scored AS (
       |  SELECT q.query_id, ${p}cand.doc_id,
       |         round(
       |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |                    / (CAST(df AS DOUBLE) + 0.5))
       |           * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
       |           / (CAST(tf AS DOUBLE)
       |              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
       |                           * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE))),
       |           6) AS score
       |  FROM ${p}cand JOIN ${p}dfc USING (term) JOIN q USING (term), ${p}st
       |),
       |${p}agg AS (
       |  SELECT query_id, doc_id,
       |         CAST(sum(CAST(score AS DECIMAL(18,8))) AS DOUBLE) AS bm25,
       |         count(*) AS n_terms
       |  FROM ${p}scored GROUP BY 1, 2
       |),
       |$out AS (
       |  SELECT query_id, CAST(rk AS INT) AS rk, doc_id, bm25, n_terms FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY bm25 DESC, doc_id ASC) AS rk
       |    FROM ${p}agg) t
       |  WHERE rk <= $Bm25TopK
       |)""".stripMargin

  /** tx24's oracle: phase 0 = the global-cap answer over the full
    * corpus (the deterministic retiree = its (query 0, rk 1) doc —
    * what [[mergeCycle]] retires); the served answer = the same
    * chain over the survivors. Hash-matching proves ONE fused
    * rewrite purged the retiree, folded the segments and refreshed
    * global impact order, df and corpus stats together. */
  private def mergeSql: String =
    s"""WITH q AS (SELECT * FROM (VALUES ${TextAnalysis.bm25Values}) AS q(query_id, term)),
       |tok AS (SELECT doc_id, ${TextAnalysis.tokensSql} AS tokens FROM documents),
       |${impactBody("", "ph0")},
       |victim AS (SELECT doc_id FROM ph0 WHERE query_id = 0 AND rk = 1),
       |rtok AS (SELECT * FROM tok WHERE doc_id NOT IN (SELECT doc_id FROM victim)),
       |${impactBody("r", "served")}
       |SELECT * FROM served ORDER BY query_id, rk""".stripMargin

  val oracle: Map[String, String] = {
    val tx15 = TextAnalysis.oracle("tx15_bm25_topk")
    Map(
      "tx16_bm25_index_probe" -> tx15,
      "tx17_bm25_index_append" -> tx15,
      "tx18_bm25_index_compact" -> tx15,
      "tx19_bm25_index_retire" -> retireSql,
      "tx20_bm25_impact_topk" -> impactSql,
      // tx21 = tx20's GLOBAL-cap semantics restored by the rebuild:
      // same oracle — a divergence means the reindex failed to
      // recompute the impact order or df over the whole table.
      "tx21_bm25_reindex" -> impactSql,
      "tx22_bm25_maintain_loop" -> driftSql,
      // tx23 = tx20's global-cap semantics recovered at READ time from
      // a stale two-segment index (re-capped merge + summed df):
      // same oracle — a divergence means the merge failed to restore
      // the global candidate set or exact df.
      "tx23_bm25_segment_probe" -> impactSql,
      "tx24_bm25_merge_reindex" -> mergeSql,
      // tx25 = tx24's surviving-corpus answer served from the UNMERGED
      // two-segment index under the pending tombstone (over-fetch +
      // mask + re-cap + df correction): same oracle — a divergence
      // means the masked lane drifted from what the rewrite serves.
      "tx25_bm25_masked_probe" -> mergeSql,
      // tx26/tx27 = tx20's global-cap semantics recovered at read time
      // from a tiered-merged segment set (the fold is a layout event):
      // same oracle as tx20/tx21/tx23.
      "tx26_bm25_tiered_merge" -> impactSql,
      "tx27_bm25_auto_maintain" -> impactSql
    )
  }
}
