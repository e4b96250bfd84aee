package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, collect_list, date_format, explode, expr, hash, lit, pmod, round, row_number, struct, window}

import graft.Tables
import IndexCore.BaseBatch

/** Persisted form of the IVF vector index — [[BandIndex]]'s design
  * applied to the ANN family (the 100 TB serving layout for
  * similarity search).
  *
  * sim04 derives the coarse-quantizer assignment in-session each run:
  * every probe pays a full corpus × centroids scoring pass before any
  * query work happens. Correct, but at corpus scale that assignment
  * IS the index build — an expensive artifact that must persist, the
  * exact analog of "corpus text is never re-signed". This object
  * writes the assignment ONCE as a bucketed parquet table:
  *
  *   - `<prefix>_cells` (cluster, vec_id, embedding), bucketed AND
  *     sorted by `cluster` — the probe join key. A query batch
  *     resolves its own probe cells against the (broadcast,
  *     K-sized) centroid set and joins the cell table; the
  *     corpus-sized side is read from disk with NO re-scoring pass
  *     and no corpus-side exchange (the probe side is
  *     query-batch-sized and broadcasts).
  *
  * The decision output is DEFINED identical to sim04's (same
  * centroids, same assignment argmax, same nprobe, same exact-cosine
  * re-rank), so the catalog entry shares sim04's oracle — a
  * divergence means the persisted layout changed the dataflow's
  * semantics. VecIndexSpec proves the plan property: the probe plan
  * scans the persisted cell table exactly once, and every scan it
  * makes of the raw embeddings parquet carries a pushed
  * `vec_id < K` filter (centroids / query batch — bounded frames),
  * i.e. the corpus assignment pass is GONE from the read path.
  *
  * Round 11 gives this index the full day-N lifecycle its BandIndex
  * sibling has — the same three verbs, proven under the oracle gate:
  *
  *   - [[append]] (sim15): assign a NEW embedding batch to cells
  *     (batch × broadcast centroids — the corpus is never
  *     re-assigned) and insert into the bucketed cell table; bucketBy
  *     is stable under append, so the probe's one-scan/pushed-bounds
  *     plan property survives (VecIndexSpec re-asserts it);
  *   - [[compact]] (sim16): [[IndexCore.compacted]]'s per-bucket
  *     local rewrite applied to the cell table (key-agnostic — same
  *     zero-exchange one-file-per-bucket rewrite);
  *   - [[retire]] (sim17): right-to-be-forgotten for embeddings —
  *     the compaction rewrite with a broadcast anti-join on `vec_id`;
  *     post-retire probes behave as if the vectors were never
  *     indexed;
  *   - [[maintainBatch]] (st10): exactly-once append fenced by the
  *     index's commit log — a replayed batch (commit marker lost) is
  *     a whole-batch no-op, and a replay after a crash before the
  *     commit skips the cell write that already landed.
  *
  * Cites: reference has no vector ops; extension per SURVEY.md §2
  * ("similarity search — IVF as the scale path").
  */
object VecIndex {

  /** DEFAULT bucket count — a BUILD parameter since round 17
    * ([[persist]]'s `buckets`); post-build verbs read the table's
    * actual count from the catalog ([[IndexCore.bucketsOf]]). */
  val Buckets = IndexCore.DefaultBuckets

  private val Cells = IndexCore.TableSpec("cells", "cluster", Seq("cluster"))
  private val PqCells = IndexCore.TableSpec("pqcells", "cluster", Seq("cluster"))
  private val Mat = IndexCore.TableSpec("mat", "vec_id", Seq("vec_id"))
  private val Fam = IndexCore.Family("graft_vec", "vec",
    Seq("cells", "mat", "pqcells", "codebook"))

  def cellsTable(prefix: String): String = Cells.name(prefix)

  /** Coarse centroids — sim04's convention: the first
    * [[Similarity.IvfCentroids]] vectors, a deterministic K-sized
    * (cent_id, ce) frame with its `vec_id < K` filter pushed to the
    * parquet scan. */
  private[ops] def centroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Similarity.IvfCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))

  /** IVF cell assignment for an arbitrary (vec_id, embedding, …) frame:
    * each vector's nearest centroid of `cents` ([[nearestCells]] rank
    * 1), emitted as (cluster, <the frame's columns>). Shared by the
    * builds, the append path and the catalog's in-session assignments
    * — a new batch pays batch-proportional assignment work, never the
    * corpus's. */
  private[ops] def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    nearestCells(emb, "vec_id", "embedding", cents)(_ === 1)
      .select(col("cent_id").as("cluster") +: emb.columns.toSeq.map(col): _*)

  /** Build and persist the IVF assignment: one corpus × broadcast
    * centroids scoring pass, argmax cell per vector, written bucketed
    * by cluster. This is the INDEX BUILD — paid once, not per probe.
    * `emb` restricts the indexed corpus (the lifecycle cycles build
    * from a slice and grow to the full corpus via [[append]]); its
    * extra columns ride into the cell row ([[persistCovering]]). */
  def persist(spark: SparkSession, dir: String, path: String,
      prefix: String, emb: Option[DataFrame] = None,
      buckets: Int = Buckets): Unit = {
    val e = emb.getOrElse(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))
    IndexCore.writeTable(
      assignCells(e, centroids(spark, dir)).withColumn("ingest_batch", lit(BaseBatch)),
      Cells, prefix, Some((path, buckets)))
    IndexCore.commitBuild(spark, Seq(cellsTable(prefix)))
  }

  // ------------------------------------------------------------------
  // Serving. Every IVF/PQ lane, batch and stream, is one dataflow:
  //   probe cells (each query's IvfNProbe nearest centroids)
  //   → candidates (masked cells ⋈ probes on cluster, the query itself
  //     excluded, the lane's label rule)
  //   → score (exact cosine, or ADC distance over the PQ codes)
  //   → per-query top-k (batch: a row_number window; stream: the
  //     K-bounded topk_struct aggregate per 10-minute arrival window).
  // Batch lanes broadcast the bounded probe side, so the corpus side is
  // one bucketed cell scan that never moves. Stream lanes use only
  // streaming-legal constructs: a stateless HOF cell ranking,
  // stream-static joins, and one windowed aggregate holding K rows per
  // query. Both read the index through the same masked frame, so a
  // stream answers what the batch answers. The batch half is also the
  // catalog's one ANN kernel: Similarity's in-session quantizers
  // (sim04/sim21, the dedup and drift entries), LSH buckets, PQ encode
  // and ADC, and the prefix funnel run through these functions.
  // ------------------------------------------------------------------

  /** The cell table as every lane reads it: fold visibility
    * ([[tieredMerge]]; folded rows still on disk must not serve beside
    * their merged copy, and the filter applies even with no fold,
    * because a fold that crashed before its commit leaves
    * reserved-stamp rows behind), then the tombstone mask. */
  private def cellFrame(spark: SparkSession, prefix: String): DataFrame = {
    val scope = cellsTable(prefix)
    val st = IndexCore.state(spark, scope)
    masked(spark, st, spark.table(scope).filter(IndexCore.visibleUnder(st.log(scope))))
  }

  /** The code-cell table as every PQ lane reads it, under the same
    * tombstone mask as [[cellFrame]]: one id space per prefix, so a
    * retired vec_id leaves both read paths until the next compaction
    * purges it. */
  private def pqCellFrame(spark: SparkSession, prefix: String): DataFrame =
    masked(spark, IndexCore.state(spark, pqCellsTable(prefix)), spark.table(pqCellsTable(prefix)))

  /** `base` without the tombstoned vec_ids ([[retireTombstone]]), by a
    * broadcast anti-join: the scan keeps its bucketed partitioning. */
  private def masked(spark: SparkSession, st: IndexCore.State,
      base: DataFrame): DataFrame =
    IndexCore.retiredFrame(spark, st.retired).fold(base)(ts =>
      base.join(ts, base("vec_id") === ts("retired_id"), "left_anti"))

  /** The catalog's fixed query batch as a (vec_id, embedding[, label])
    * frame, with the `vec_id <` bound pushed to the parquet scan. */
  private def fixedQueries(spark: SparkSession, dir: String,
      withLabel: Boolean): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < Similarity.KnnQueries)
    if (withLabel) base.select("vec_id", "embedding", "label")
    else base.select("vec_id", "embedding")
  }

  /** A lane's label rule: none; the neighbor's label from the
    * column-pruned (vec_id, label) dimension (sim22, st16); or the
    * label colocated in a covering cell row (sim23, st17). Mismatches
    * drop before scoring, so the filter also cuts the scoring work. */
  private[ops] sealed trait Labels
  private[ops] case object Unlabeled extends Labels
  private case object DimLabels extends Labels
  private case object CellLabels extends Labels

  /** The query's label as the candidates see it (labelled lanes). */
  private def qlabel(labels: Labels): Seq[Column] =
    if (labels == Unlabeled) Nil else Seq(col("label").as("qlabel"))

  /** A lane's ranking: score column `name`, nearer first (`desc` for a
    * similarity), `k` neighbors kept, emitted rounded to 6 dp as
    * `out`. */
  private[ops] final case class Score(name: String, out: String, desc: Boolean, k: Int)
  private[ops] val Cosine = Score("cos", "cosine", desc = true, Similarity.LshK)
  private val Adc = Score("adc", "adc_dist", desc = false, Similarity.KnnK)

  private[ops] def cosineScore: Column = expr("cosine_sim(qe, embedding)")
  private def adcScore: Column =
    (0 until Similarity.PqM).map(m => col(s"qd$m")).reduce(_ + _)

  /** Centroids ranked for each row of `q` by cosine between its `emb`
    * column and `cents`' (cent_id, ce) (ties to the lower cent_id),
    * batch form: `q` × broadcast centroids and a row_number window per
    * `id`, carrying `cos_c` and the rank `crn`; `keep` picks the
    * ranks. The engine's one nearest-centroid ranking: the index's
    * assignment and probe cells, and every catalog quantizer (seed,
    * trained, √n-sized or hash-sampled centroids). */
  private[ops] def nearestCells(q: DataFrame, id: String, emb: String,
      cents: DataFrame)(keep: Column => Column): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("cos_c", expr(s"cosine_sim($emb, ce)"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(id).orderBy(col("cos_c").desc, col("cent_id").asc)))
      .filter(keep(col("crn")))

  /** Batch probe cells: each query's [[Similarity.IvfNProbe]] nearest
    * centroids, projected to `cols` and broadcast. */
  private def probeCells(q: DataFrame, id: String, emb: String,
      cents: DataFrame, cols: Seq[Column]): DataFrame =
    broadcast(nearestCells(q, id, emb, cents)(_ <= Similarity.IvfNProbe)
      .select(cols: _*))

  /** Centroid ids nearest-first for a row's `embedding`, streaming
    * form: one stateless HOF projection over the [[centroidArray]]
    * row (a window cannot run over unbounded input). */
  private val rankedCentroids: String =
    """transform(
      |  array_sort(transform(cents,
      |    c -> struct(-cosine_sim(embedding, c.ce) AS nc, c.cent_id AS cent_id))),
      |  s -> s.cent_id)""".stripMargin

  /** The centroid set as one broadcastable `cents` array row. */
  private def centroidArray(spark: SparkSession, dir: String): DataFrame =
    centroids(spark, dir)
      .agg(collect_list(struct(col("cent_id"), col("ce"))).as("cents"))

  /** Stream probe cells: one (query_id, ts, qe[, qlabel], cluster) row
    * per query and probed cell. */
  private def streamProbeCells(spark: SparkSession, dir: String,
      queries: DataFrame, labels: Labels): DataFrame =
    queries.crossJoin(broadcast(centroidArray(spark, dir)))
      .select(Seq(col("query_id"), col("ts"), col("embedding").as("qe")) ++
        qlabel(labels) :+
        explode(expr(s"slice($rankedCentroids, 1, ${Similarity.IvfNProbe})"))
          .as("cluster"): _*)

  /** Candidates: `cells` ⋈ `probes` on cluster, the query itself
    * excluded, then the lane's label rule. `cells` is any (cluster,
    * vec_id, …) frame: the masked index tables, or an in-session
    * assignment (a catalog quantizer's cells, LSH's sign buckets). */
  private[ops] def candidates(spark: SparkSession, dir: String, cells: DataFrame,
      probes: DataFrame, labels: Labels): DataFrame = {
    val cand = cells.join(probes, Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
    labels match {
      case Unlabeled => cand
      case DimLabels => cand
        .join(Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label").as("nlabel")), Seq("vec_id"))
        .filter(col("nlabel") === col("qlabel"))
      case CellLabels => cand.filter(col("label") === col("qlabel"))
    }
  }

  /** Batch top-k: score every candidate (`value` as `s.name`), rank per
    * query by (score, neighbor_id asc) in a row_number window, keep
    * `s.k`. Output (query_id, neighbor_id, `cells`…, `s.out`). */
  private[ops] def batchTopK(cand: DataFrame, s: Score, value: Column,
      cells: Seq[Column]): DataFrame = {
    val v = col(s.name)
    val w = Window.partitionBy("query_id")
      .orderBy(if (s.desc) v.desc else v.asc, col("neighbor_id").asc)
    cand.withColumnRenamed("vec_id", "neighbor_id")
      .withColumn(s.name, value)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= s.k)
      .select((Seq(col("query_id"), col("neighbor_id")) ++ cells :+
        round(v, 6).as(s.out)): _*)
      .orderBy("query_id", "neighbor_id")
  }

  /** Stream top-k: [[batchTopK]]'s ranking as one aggregation per
    * (arrival window, query) over the K-bounded
    * [[graft.functions.TopKStructs]] state — K rows per query, never
    * cell-proportional. topk_struct keeps the smallest structs, so a
    * similarity leads negated and a distance as it is. Output
    * (window_start, query_id, neighbor_id, cluster, `s.out`). */
  private def streamTopK(cand: DataFrame, s: Score, value: Column): DataFrame = {
    val v = col(s.name)
    cand.withColumn(s.name, value)
      .select(col("query_id"), col("ts"),
        struct(if (s.desc) (-v).as("nc") else v, col("vec_id").as("neighbor_id"),
          col("cluster"), round(v, 6).as(s.out)).as("s"))
      .groupBy(arrivalWindow, col("query_id"))
      .agg(expr(s"topk_struct(s, ${s.k})").as("top"))
      .select(windowStart, col("query_id"), explode(col("top")).as("t"))
      .select(col("window_start"), col("query_id"),
        col("t.neighbor_id").as("neighbor_id"), col("t.cluster").as("cluster"),
        col(s"t.${s.out}").as(s.out))
  }

  /** The 10-minute arrival window every vector stream emits behind
    * (st05's convention), and its formatted start. */
  private def arrivalWindow: Column = window(col("ts"), "10 minutes")
  private def windowStart: Column =
    date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start")

  /** The cosine lanes over a cell frame: each (vec_id, embedding[,
    * label]) query's probe cells against `cents`, candidates from
    * `cells`, top-`k` by exact cosine. */
  private def cosineProbe(spark: SparkSession, dir: String, cells: DataFrame,
      cents: DataFrame, queries: DataFrame, labels: Labels, k: Int): DataFrame = {
    val probes = probeCells(queries, "vec_id", "embedding", cents,
      Seq(col("vec_id").as("query_id"), col("cent_id").as("cluster"),
        col("embedding").as("qe")) ++ qlabel(labels))
    batchTopK(candidates(spark, dir, cells, probes, labels),
      Cosine.copy(k = k), cosineScore, Seq(col("cluster")))
  }

  private def indexProbe(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, labels: Labels): DataFrame =
    cosineProbe(spark, dir, cellFrame(spark, prefix), centroids(spark, dir),
      queries, labels, Similarity.LshK)

  private def cosineTopK(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame, labels: Labels): DataFrame = {
    streamTopK(candidates(spark, dir, cellFrame(spark, prefix),
      streamProbeCells(spark, dir, queries, labels), labels), Cosine, cosineScore)
  }

  /** [[probe]]'s kernel over an IN-SESSION assignment (sim04, sim21):
    * `e` (vec_id, embedding) assigned to its nearest of `cents`, the
    * vectors below `nQ` as the query batch, top-`k` by cosine. */
  private[ops] def transientProbe(spark: SparkSession, dir: String, e: DataFrame,
      cents: DataFrame, nQ: Long, k: Int): DataFrame = {
    cosineProbe(spark, dir, assignCells(e, cents), cents,
      e.filter(col("vec_id") < nQ), Unlabeled, k)
  }

  /** ANN serving against the persisted index (sim14, sim04's decisions
    * column for column): each query's [[Similarity.IvfNProbe]] nearest
    * cells, an exact-cosine re-rank of their members, top-
    * [[Similarity.LshK]] per query. The catalog form serves the fixed
    * query batch; the other takes any bounded (vec_id, embedding)
    * `queries` frame. */
  def probe(spark: SparkSession, dir: String, prefix: String): DataFrame =
    probe(spark, dir, prefix, fixedQueries(spark, dir, withLabel = false))

  def probe(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame): DataFrame =
    indexProbe(spark, dir, prefix, queries, Unlabeled)

  /** Filtered ANN (sim22): [[probe]] restricted to neighbors that share
    * the query's label, read from the column-pruned (vec_id, label)
    * dimension over the base cells. This lane serves an installation
    * that maintains only the base index; [[filteredServing]] is the
    * default. Post-filter IVF can return fewer than k neighbors for a
    * rare label, and the oracle mirrors that. `queries` carries
    * (vec_id, embedding, label). */
  def filteredProbe(spark: SparkSession, dir: String, prefix: String): DataFrame =
    filteredProbe(spark, dir, prefix, fixedQueries(spark, dir, withLabel = true))

  def filteredProbe(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame): DataFrame =
    indexProbe(spark, dir, prefix, queries, DimLabels)

  /** COVERING-INDEX build for the filtered-ANN serving path (sim23):
    * [[persist]]'s cell table with the filter label colocated in the
    * cell row — (cluster, vec_id, label, embedding, ingest_batch). One
    * narrow extra column at build time turns [[filteredProbe]]'s
    * per-batch (vec_id, label) dimension scan into a pushable cell-scan
    * column. The base cell schema stays untouched — the whole
    * lifecycle family shares it; this is a second, serving-specialized
    * layout of the same assignment, the classic covering-index
    * storage/write tradeoff made explicit. */
  def persistCovering(spark: SparkSession, dir: String, path: String,
      prefix: String, buckets: Int = Buckets): Unit =
    persist(spark, dir, path, prefix,
      Some(Tables.embeddings(spark, dir).select("vec_id", "label", "embedding")), buckets)

  /** The default filtered-ANN serving lane (sim23): builds or reuses
    * the covering index and serves it through [[coveringFilteredProbe]].
    * The covering row pays at write time (a label column, or a second
    * copy of the cell bytes if both layouts are kept) and saves the
    * dimension join on every query batch (SCALE_NOTES: 2.3× wall vs
    * the dimension join's 5.0× at 1000×). */
  def filteredServing(spark: SparkSession, dir: String): DataFrame =
    coveringFilteredProbe(spark, dir, ensureCoveringPersisted(spark, dir))

  /** [[filteredProbe]] served from a covering index
    * ([[persistCovering]]): the label predicate reads the cell row, so
    * the plan holds one corpus-sized scan (the bucketed cells) and two
    * bounded embeddings scans (queries, centroids). Decisions equal
    * [[filteredProbe]]'s, so sim23 shares sim22's oracle. */
  def coveringFilteredProbe(spark: SparkSession, dir: String,
      prefix: String): DataFrame =
    coveringFilteredProbe(spark, dir, prefix,
      fixedQueries(spark, dir, withLabel = true))

  def coveringFilteredProbe(spark: SparkSession, dir: String,
      prefix: String, queries: DataFrame): DataFrame =
    indexProbe(spark, dir, prefix, queries, CellLabels)

  /** ADC serving against the persisted code cells (sim18): each query's
    * probe cells, then its per-(query, subspace, code) distance table
    * (bounded queries × broadcast codebook) joined on the code columns
    * — M broadcast-hash lookups, no per-candidate vector arithmetic,
    * and no raw corpus vector read. Top-[[Similarity.KnnK]] per query
    * by (adc asc, neighbor_id asc), sim07's order. */
  def pqProbe(spark: SparkSession, dir: String, prefix: String): DataFrame =
    pqProbe(spark, dir, prefix, fixedQueries(spark, dir, withLabel = false))

  def pqProbe(spark: SparkSession, dir: String, prefix: String,
      qf: DataFrame): DataFrame = {
    val queries = qf
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = probeCells(queries, "query_id", "qe", centroids(spark, dir),
      Seq(col("query_id"), col("cent_id").as("cluster")))
    // the cell frame first: resolving the index's state re-points the
    // codebook too, when a generation swap crashed before its re-point
    val cand = candidates(spark, dir, pqCellFrame(spark, prefix), probes, Unlabeled)
    adcTopK(cand, queries, spark.table(codebookTable(prefix)), Similarity.KnnK, Seq(col("cluster")))
  }

  /** ADC top-k over candidates carrying (query_id, vec_id, c0..cM-1):
    * per subspace, the bounded (query, code) distance table —
    * `queries` (query_id, qe) × broadcast codebook `cb` — broadcast
    * and joined on the code column, so a candidate's distance is M
    * lookups summed in subspace order; then [[batchTopK]] by (adc asc,
    * neighbor_id asc). Shared by [[pqProbe]] and the catalog's
    * exhaustive ADC (sim07, sim24). */
  private[ops] def adcTopK(cand: DataFrame, queries: DataFrame, cb: DataFrame,
      k: Int, cells: Seq[Column]): DataFrame = {
    val luts = (0 until Similarity.PqM).map { m =>
      broadcast(queries.crossJoin(broadcast(cb))
        .select(col("query_id").as(s"q$m"), col("code").as(s"qc$m"),
          expr(s"sq_dist(${subSlice("qe", m)}, ${subSlice("cw", m)})").as(s"qd$m")))
    }
    batchTopK(luts.zipWithIndex.foldLeft(cand) { case (df, (lut, m)) =>
      df.join(lut, col("query_id") === col(s"q$m") && col(s"c$m") === col(s"qc$m"))
    }, Adc.copy(k = k), adcScore, cells)
  }

  /** Streaming form of [[probe]] (st09; also the vector lane of the
    * st18/st19 hybrid): `queries` (query_id, embedding, ts) may be
    * unbounded. Output: [[probe]]'s columns behind a window_start, one
    * row per (arrival window, query, ranked neighbor). */
  def annTopK(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame): DataFrame =
    cosineTopK(spark, dir, prefix, queries, Unlabeled)

  /** Streaming form of [[filteredProbe]] (st16): `queries` adds
    * `label`; the label dimension is a stream-static join applied
    * before the cosine and the top-k state. */
  def filteredAnnTopK(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame): DataFrame =
    cosineTopK(spark, dir, prefix, queries, DimLabels)

  /** Streaming form of [[coveringFilteredProbe]] (st17): the label
    * predicate reads the covering cell row, so each candidate costs one
    * stream-static join instead of two. */
  def coveringFilteredAnnTopK(spark: SparkSession, dir: String,
      prefix: String, queries: DataFrame): DataFrame =
    cosineTopK(spark, dir, prefix, queries, CellLabels)

  /** Streaming form of [[pqProbe]] (st12). The batch distance table
    * cannot stream: it derives from the stream, and joining it back to
    * the stream-derived candidates would be a stream-stream join. Each
    * candidate instead joins the broadcast static codebook once per
    * subspace and pays the M `sq_dist`s itself — more arithmetic per
    * candidate, but stateless and bounded by the probed cells. */
  def pqAnnTopK(spark: SparkSession, dir: String, prefix: String,
      queries: DataFrame): DataFrame = {
    val cand = candidates(spark, dir, pqCellFrame(spark, prefix),
      streamProbeCells(spark, dir, queries, Unlabeled), Unlabeled)
    val cb = spark.table(codebookTable(prefix)) // after the state resolve, as in pqProbe
    streamTopK((0 until Similarity.PqM).foldLeft(cand) { (df, m) =>
      df.join(broadcast(cb.select(col("code").as(s"k$m"), col("cw").as(s"cw$m"))),
          col(s"c$m") === col(s"k$m"))
        .withColumn(s"qd$m",
          expr(s"sq_dist(${subSlice("qe", m)}, ${subSlice(s"cw$m", m)})"))
        .drop(s"k$m", s"cw$m")
    }, Adc, adcScore)
  }

  // ------------------------------------------------------------------
  // Day-N lifecycle — append / compact / retire / exactly-once, one
  // implementation over a cell TableSpec: the raw-vector cells and the
  // PQ code cells differ only in how a batch is encoded ([[cellRows]])
  // ------------------------------------------------------------------

  /** The cell rows for a (vec_id, embedding) batch: the IVF assignment,
    * plus — for the code-cell table — the PQ codes against the
    * generation's PERSISTED codebook (never a retrained one: ADC
    * distances are only meaningful within one codebook). */
  private def cellRows(spark: SparkSession, dir: String, prefix: String,
      spec: IndexCore.TableSpec, e: DataFrame): DataFrame =
    if (spec == PqCells) pqRows(spark, dir, e, spark.table(codebookTable(prefix)))
    else assignCells(e, centroids(spark, dir))

  /** Append a NEW embedding batch to `spec`'s cell table: encode the
    * batch only ([[cellRows]] — the corpus is never re-assigned or
    * re-encoded) and insert it batch-stamped into the bucketed table.
    * bucketBy is stable under append, so the probes' plan properties
    * survive (VecIndexSpec re-asserts them). A single table write
    * that never reads the table it mutates — no materialize pin. */
  private def appendCells(spark: SparkSession, dir: String, spec: IndexCore.TableSpec,
      newVecs: DataFrame, prefix: String, batchId: Long): Unit = {
    IndexCore.writeTable(
      cellRows(spark, dir, prefix, spec, newVecs.select("vec_id", "embedding"))
        .withColumn("ingest_batch", lit(batchId)), spec, prefix, None)
  }

  /** Compact `spec`'s cell table to one file per bucket
    * ([[IndexCore.compacted]]), purging pending tombstones. The
    * tombstone set is per-PREFIX: it is cleared only when the sibling
    * cell table does not exist, since that table may still carry
    * masked rows. */
  private def compactCells(spark: SparkSession, prefix: String,
      spec: IndexCore.TableSpec, sibling: IndexCore.TableSpec): Unit = {
    val retired = IndexCore.state(spark, spec.name(prefix)).retired
    val clear = !spark.catalog.tableExists(sibling.name(prefix))
    rewriteCells(spark, prefix, spec, "compact", IndexCore.retiredFrame(spark, retired))(st =>
      if (clear) st.copy(retired = st.retired -- retired.keys) else st)
  }

  private def rewriteCells(spark: SparkSession, prefix: String, spec: IndexCore.TableSpec,
      verb: String, minus: Option[DataFrame])(change: IndexCore.State => IndexCore.State): Unit =
    IndexCore.rewrite(spark, spec.name(prefix), verb,
      Seq(IndexCore.compacted(spark, spec, prefix, minus, "vec_id")))(change)

  /** Exactly-once append through the index's commit log
    * ([[IndexCore.maintainOnce]]): a batch id the log holds is a
    * whole-batch no-op returning false — a tiered fold re-stamps the
    * batch's rows and GC deletes its files, but the id stays in the
    * log. Otherwise the cell rows are appended under `batchId` unless
    * a crashed attempt's rows already landed, and one commit records
    * the id. */
  private def maintainCells(spark: SparkSession, dir: String, prefix: String,
      spec: IndexCore.TableSpec, newVecs: DataFrame, batchId: Long,
      verb: String): Boolean = {
    val t = spec.name(prefix)
    IndexCore.maintainOnce(spark, verb, Seq(t), batchId)(landed =>
      if (!landed(t)) appendCells(spark, dir, spec, newVecs, prefix, batchId)).isDefined
  }

  /** [[appendCells]] committed as an ad-hoc append. */
  private def appendCommitted(spark: SparkSession, dir: String, spec: IndexCore.TableSpec,
      newVecs: DataFrame, prefix: String, batchId: Long): Unit = {
    appendCells(spark, dir, spec, newVecs, prefix, batchId)
    IndexCore.commitAppend(spark, Seq(spec.name(prefix)), batchId)
  }

  /** Append a NEW embedding batch to the persisted index (ad-hoc
    * appends stamp [[BaseBatch]]; see [[appendCells]]). */
  def append(spark: SparkSession, dir: String, newVecs: DataFrame,
      prefix: String, batchId: Long = BaseBatch): Unit =
    appendCommitted(spark, dir, Cells, newVecs, prefix, batchId)

  /** Compact the cell table to one file per bucket — probe decisions
    * and the plan property are unchanged; the per-bucket merge reads
    * ONE run instead of one per historical append. */
  def compact(spark: SparkSession, prefix: String): Unit =
    compactCells(spark, prefix, Cells, PqCells)

  /** RETENTION — remove a (bounded, broadcastable) set of vec_ids
    * from the index in place: the compaction rewrite with a broadcast
    * anti-join on `vec_id`. Post-retire probes behave as if the
    * retired vectors were never indexed. */
  def retire(spark: SparkSession, prefix: String,
      expired: DataFrame): Unit =
    rewriteCells(spark, prefix, Cells, "retire", Some(expired))(identity)

  /** O(retired)-cost retention: commit the expired vec_ids to the
    * index's retired set. [[probe]] masks them immediately; the
    * next [[compact]] physically purges them and clears the set.
    * sim20's three-phase oracle pins mask, purge, and their equality
    * to an eager retire. */
  def retireTombstone(spark: SparkSession, prefix: String,
      expired: DataFrame): Unit =
    IndexCore.recordTombstones(spark, cellsTable(prefix), expired)

  /** Exactly-once append of a streaming batch (see [[maintainCells]]). */
  def maintainBatch(spark: SparkSession, dir: String, prefix: String,
      newVecs: DataFrame, batchId: Long): Boolean =
    maintainCells(spark, dir, prefix, Cells, newVecs, batchId, "maintainBatch")

  /** SIZE-TIERED segment merge for the cell table
    * ([[IndexCore.tieredMerge]]): fold only the batch-stamped segments
    * at or below `maxTierRows` into one merged segment, base files
    * byte-untouched. The fold is scoped to the CELLS table (code-cell
    * stamps are independent — a shared prefix must not have one
    * table's fold kill the other's stamps), and the fold is purely a
    * layout event: cell rows are row-local, so probe answers are
    * defined unchanged. Returns true when a fold ran. */
  def tieredMerge(spark: SparkSession, prefix: String,
      maxTierRows: Long = Long.MaxValue): Boolean =
    IndexCore.tieredMerge(spark, prefix, cellsTable(prefix), Seq(Cells), maxTierRows)(
      (spec, merged, _) => IndexCore.writeTable(merged, spec, prefix, None))

  // ------------------------------------------------------------------
  // Fresh lifecycle cycles (sim15/sim16/sim17/st10, sim19/sim20/st13)
  // ------------------------------------------------------------------

  /** Deterministic new-vector predicate for the lifecycle fixtures:
    * ~1/4 of the corpus arrives as the "new" batch, the rest is the
    * day-0 index. Hash-based so both oracle scales get non-trivial
    * slices; the FINAL index always equals the full corpus, so these
    * cycles share sim04's oracle. */
  private def isNewVec: org.apache.spark.sql.Column =
    pmod(hash(col("vec_id")), lit(4)) === lit(0)

  /** Day-slice `r` ∈ {0, 4, 8}: pmod(h, 12) partitions the new
    * quarter into 3 disjoint slices. */
  private def slice(e: DataFrame, r: Int): DataFrame =
    e.filter(pmod(hash(col("vec_id")), lit(12)) === lit(r))

  /** A fixture cycle on a FRESH index built from the corpus minus the
    * arriving quarter (the whole corpus when `full`), as raw cells or
    * (`pq`) as a PQ generation. `body` gets the cycle and the full
    * (vec_id, embedding) frame. */
  private def quarterCycle(spark: SparkSession, dir: String, tag: String,
      pq: Boolean, full: Boolean)(
      body: (IndexCore.Cycle, DataFrame) => DataFrame): DataFrame = {
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val emb = if (full) None else Some(e.filter(!isNewVec))
    IndexCore.cycle(spark, dir, tag, Fam)((path, p) =>
      if (pq) pqPersist(spark, dir, path, p, emb) else persist(spark, dir, path, p, emb))(
      c => body(c, e))
  }

  /** sim15: fresh index on 3/4 of the corpus → append the remaining
    * 1/4 → probe. Decisions are DEFINED identical to sim04/sim14
    * (same centroids, same per-vector argmax — the union of the two
    * assignment passes equals the full build), so the entry shares
    * sim04's oracle: a divergence means append broke the layout or
    * the assignment. */
  def appendCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = false, full = false) { (c, e) =>
      c.phase("append") { append(spark, dir, e.filter(isNewVec), c.prefix) }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  /** sim16: sim15's cycle with the append split into 3 disjoint
    * day-slices (the file-growth regime) and a compaction before the
    * probe — same oracle, plus VecIndexSpec's file-count assertion. */
  def compactCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = false, full = false) { (c, e) =>
      c.phase("append") { Seq(0, 4, 8).foreach(r => append(spark, dir, slice(e, r), c.prefix)) }
      c.phase("compact") { compact(spark, c.prefix) }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  /** sim30: sim16's growth regime maintained by the BOUNDED fold
    * instead of the corpus-sized rewrite — the new quarter lands in 3
    * micro-batches through [[maintainBatch]] (each under its own
    * stamp), [[tieredMerge]] folds them into one merged segment (base
    * files byte-untouched, post-fold segment count asserted
    * in-cycle), a REPLAY of a folded batch is asserted a no-op (the
    * log fence), and the probe serves through the visibility
    * filter. The final index equals the full corpus, so the entry
    * shares sim04's oracle. */
  def tieredCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = false, full = false) { (c, e) =>
      c.phase("append") {
        Seq(0, 4, 8).foreach { r =>
          if (!maintainBatch(spark, dir, c.prefix, slice(e, r), batchId = r.toLong))
            sys.error(s"$tag: fresh batch $r claims already maintained")
        }
      }
      c.phase("merge") {
        IndexCore.checkedFold(spark, tag, cellsTable(c.prefix), cellsTable(c.prefix))(
          tieredMerge(spark, c.prefix))
        // the log's replay fence: a folded batch's replay must be a
        // no-op even though its stamp's files are GC'd
        if (maintainBatch(spark, dir, c.prefix, slice(e, 0), batchId = 0L))
          sys.error(s"$tag: a folded batch replayed as new — the " +
            "log fence failed and the index double-appended")
      }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  private def phaseRows(dec: DataFrame, n: Int): DataFrame =
    dec.select(lit(n).as("phase"), col("query_id"), col("neighbor_id"),
      col("cluster"), col("cosine"))

  /** sim17: retention made OBSERVABLE by construction — probe the
    * full index (phase 0), retire exactly the distinct neighbors
    * phase 0 returned (a bounded, ≤ queries×K set — the
    * right-to-be-forgotten shape), re-probe (phase 1): every query's
    * entire top-k must be re-filled from surviving cell members. The
    * oracle replays phase 1 with the corpus filtered by the same
    * NOT IN (phase-0 neighbors) predicate. */
  def retentionCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = false, full = true) { (c, _) =>
      val dec0 = c.probe("probe")(probe(spark, dir, c.prefix))
      val expired = dec0.select(col("neighbor_id").as("vec_id")).distinct()
      c.phase("retire") { retire(spark, c.prefix, expired) }
      val dec1 = c.probe("reprobe")(probe(spark, dir, c.prefix))
      phaseRows(dec0, 0).unionByName(phaseRows(dec1, 1))
        .orderBy("phase", "query_id", "neighbor_id")
    }

  /** st10: sim15's cycle driven through the log-fenced
    * [[maintainBatch]], with the batch REPLAYED in between — the
    * batch analog of a checkpoint restart that lost the commit
    * marker. The replay must be a log-skipped no-op (asserted
    * here; a double append would duplicate cell members — harmless
    * for THIS aggregate's output, so the real gate is the skip
    * assertion plus StreamingSpec's restart test). Final probe equals
    * sim04, same oracle. */
  def maintainedCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = false, full = false) { (c, e) =>
      c.phase("append") {
        if (!maintainBatch(spark, dir, c.prefix, e.filter(isNewVec), 0L))
          sys.error("st10: fresh index claims batch 0 already maintained")
        if (maintainBatch(spark, dir, c.prefix, e.filter(isNewVec), 0L))
          sys.error("st10: replayed batch 0 was not log-skipped")
      }
      c.probe("probe")(probe(spark, dir, c.prefix))
    }

  // ------------------------------------------------------------------
  // IVF-PQ serving index (sim18) — the layout you actually ship at
  // 100 TB. sim14's cell table stores RAW vectors: right for exact
  // re-rank, but the serving tier's dominant cost is reading cell
  // members, and a 64-dim float vector is 256 bytes where its PQ code
  // is M small ints. This index persists (cluster, vec_id,
  // c0..cM-1): the IVF assignment gives the probe its cell pruning,
  // the PQ codes give it asymmetric-distance scoring against a
  // broadcast codebook — the corpus' raw embeddings are NOT on the
  // probe's read path at all (VecIndexSpec asserts every embeddings
  // scan in the probe plan carries a pushed bounded vec_id filter:
  // queries + centroids only). Decisions = sim07's trained-codebook
  // ADC restricted to the probed cells — the composed oracle
  // (Similarity.sim18Sql) replays IVF cell selection + Lloyd
  // codebook + encode + ADC end to end in DuckDB.
  // ------------------------------------------------------------------

  def pqCellsTable(prefix: String): String = s"${prefix}_pqcells"
  def codebookTable(prefix: String): String = s"${prefix}_codebook"

  private def subSlice(c: String, m: Int): String =
    s"slice($c, ${m * Similarity.PqSubDims + 1}, ${Similarity.PqSubDims})"

  /** PQ-encode an arbitrary (vec_id, embedding) frame against a
    * codebook frame: frame × broadcast M·K codebook — M fused codegen
    * `sq_dist` argmins, one pass — returning (vec_id, c0..cM-1).
    * Shared by the full build, the append path (a new batch pays
    * batch-proportional encoding work, never the corpus's) and the
    * catalog's exhaustive ADC (sim07, sim24). */
  private[ops] def pqEncode(emb: DataFrame, cb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{min, struct}
    val scored = (0 until Similarity.PqM).foldLeft(emb.crossJoin(broadcast(cb))) {
      (df, m) => df.withColumn(s"d$m",
        expr(s"sq_dist(${subSlice("embedding", m)}, ${subSlice("cw", m)})"))
    }
    val aggCols = (0 until Similarity.PqM).map(m =>
      min(struct(col(s"d$m").as("d"), col("code").as("code"))).as(s"b$m"))
    scored.groupBy("vec_id")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("vec_id") +:
        (0 until Similarity.PqM).map(m => col(s"b$m.code").as(s"c$m")): _*)
  }

  /** INDEX BUILD (paid once): Lloyd-train the PQ codebook
    * ([[Similarity.pqTrainedCodebook]]), encode the corpus
    * ([[pqEncode]]), assign IVF cells (corpus × broadcast centroids),
    * persist the code cells bucketed by cluster plus the (tiny)
    * codebook table — the serving tier is then self-contained.
    * `emb` restricts the indexed corpus (lifecycle cycles build from
    * a slice and grow via [[pqAppend]]); the CODEBOOK is always
    * trained on the generation's full reference sample regardless —
    * see the codebook-generation contract on [[pqAppend]]. */
  def pqPersist(spark: SparkSession, dir: String, path: String,
      prefix: String, emb: Option[DataFrame] = None,
      buckets: Int = Buckets): Unit = {
    val cb = Similarity.pqTrainedCodebook(spark, dir).localCheckpoint()
    cb.write.option("path", s"$path/codebook")
      .mode(SaveMode.Overwrite).saveAsTable(codebookTable(prefix))
    val e = emb.getOrElse(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"))
    IndexCore.writeTable(pqRows(spark, dir, e, cb).withColumn("ingest_batch", lit(BaseBatch)),
      PqCells, prefix, Some((path, buckets)))
    IndexCore.commitBuild(spark, Seq(pqCellsTable(prefix), codebookTable(prefix)))
  }

  /** Code-cell rows (cluster, vec_id, c0..cM-1) for a (vec_id,
    * embedding) frame against codebook `cb`. */
  private def pqRows(spark: SparkSession, dir: String, e: DataFrame,
      cb: DataFrame): DataFrame =
    assignCells(e, centroids(spark, dir)).select("cluster", "vec_id")
      .join(pqEncode(e, cb), "vec_id")


  // ------------------------------------------------------------------
  // IVF-PQ day-N lifecycle (round 12; VERDICT r11 item 2) — the same
  // three verbs + exactly-once that sim15–17/st10 gave the raw-vector
  // cell table, one level up on the serving layout.
  //
  // CODEBOOK-GENERATION CONTRACT (the drift question, decided): a
  // codebook is IMMUTABLE per index generation. Appends always encode
  // against the generation's PERSISTED codebook table — never a
  // retrained one — because ADC compares code-to-code distances that
  // are only meaningful within one codebook; mixing encodings inside
  // one cell table would silently corrupt every distance involving a
  // re-coded id. When the corpus distribution drifts past what the
  // generation's codebook quantizes well (dq05's KL divergence
  // monitor over the embedding-norm/cell-occupancy histograms is the
  // trigger signal), the remedy is a NEW GENERATION: pqPersist to a
  // fresh prefix (retrain + re-encode from the raw vectors — one
  // corpus pass, the same cost as the original build) and swap it
  // into serving with pqSwapGeneration, whose one log commit moves
  // the code cells and the codebook together. Nothing in the probe
  // path ever reads two generations at once.
  // ------------------------------------------------------------------

  /** Append a NEW embedding batch to the persisted PQ serving index:
    * encoded against the generation's PERSISTED codebook, assigned to
    * IVF cells, inserted batch-stamped into the bucketed code-cell
    * table ([[appendCells]]). */
  def pqAppend(spark: SparkSession, dir: String, newVecs: DataFrame,
      prefix: String, batchId: Long = BaseBatch): Unit =
    appendCommitted(spark, dir, PqCells, newVecs, prefix, batchId)

  /** Compact the code-cell table to one file per bucket (the codebook
    * table, M·K rows, never needs compaction). */
  def pqCompact(spark: SparkSession, prefix: String): Unit =
    compactCells(spark, prefix, PqCells, Cells)

  /** GENERATION PROMOTION — the codebook-drift remedy's final step
    * (the codebook-generation contract above): serve `newPrefix`'s
    * freshly built generation (retrained codebook + re-encoded code
    * cells) under `prefix`'s names. Both tables are copied beside the
    * serving ones (the cells bucketed with the serving table's count)
    * and ONE [[IndexCore.rewrite]] commit moves them together, so
    * every crash point serves the old generation or the new one, never
    * a codebook from one against codes from the other. The old
    * generation's directories go with the rewrite; the new
    * generation's names are dropped afterwards, and its files stay
    * with the caller's temp-dir lifecycle. */
  def pqSwapGeneration(spark: SparkSession, prefix: String,
      newPrefix: String): Unit = {
    val b = IndexCore.bucketsOf(spark, pqCellsTable(prefix))
    IndexCore.rewrite(spark, pqCellsTable(prefix), "generation", Seq(
      pqCellsTable(prefix) -> ((tmpT: String, loc: String) => IndexCore.writeBucketed(
        spark.table(pqCellsTable(newPrefix)), PqCells, tmpT, Some(loc), b)),
      codebookTable(prefix) -> ((tmpT: String, loc: String) =>
        spark.table(codebookTable(newPrefix)).write.option("path", loc)
          .mode(SaveMode.Overwrite).saveAsTable(tmpT))))(identity)
    Seq(pqCellsTable _, codebookTable _).foreach(f => spark.sql(s"DROP TABLE ${f(newPrefix)}"))
  }

  /** O(retired) retention for the SERVING index — [[retireTombstone]]
    * anchored at the code-cell table (a PQ-only generation has no raw
    * cells table to anchor the tombstone location on). Masked by
    * [[pqProbe]] immediately; purged by the next [[pqCompact]]. */
  def pqRetireTombstone(spark: SparkSession, prefix: String,
      expired: DataFrame): Unit =
    IndexCore.recordTombstones(spark, pqCellsTable(prefix), expired)

  /** RETENTION for the serving index — remove a bounded vec_id set
    * from the code cells in place (broadcast anti-join inside the
    * per-bucket rewrite); the codebook is untouched (codewords carry
    * no per-vector data). */
  def pqRetire(spark: SparkSession, prefix: String,
      expired: DataFrame): Unit =
    rewriteCells(spark, prefix, PqCells, "retire", Some(expired))(identity)

  /** Exactly-once append for the serving index — the same
    * single-durable-commit design as [[maintainBatch]]. */
  def pqMaintainBatch(spark: SparkSession, dir: String, prefix: String,
      newVecs: DataFrame, batchId: Long): Boolean =
    maintainCells(spark, dir, prefix, PqCells, newVecs, batchId, "pqMaintainBatch")

  /** sim19: the serving index's full maintenance cycle on a FRESH
    * generation — build on 3/4 of the corpus (codebook trained on the
    * generation's full reference sample), append the remaining 1/4 in
    * 3 disjoint day-slices encoded against the PERSISTED codebook
    * (the file-growth regime), compact to one file per bucket, then
    * serve. The final code cells are DEFINED identical to sim18's
    * full build (same codebook, same per-vector argmax assignment and
    * argmin encoding — both per-vector-independent), so the entry
    * shares sim18's composed end-to-end oracle: a divergence means
    * append re-encoded, broke the bucket layout, or drifted from the
    * generation codebook. */
  def pqLifecycleCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = true, full = false) { (c, e) =>
      c.phase("append") { Seq(0, 4, 8).foreach(r => pqAppend(spark, dir, slice(e, r), c.prefix)) }
      c.phase("compact") { pqCompact(spark, c.prefix) }
      c.probe("probe")(pqProbe(spark, dir, c.prefix))
    }

  /** sim20: sim17's retention made BOUNDED-COST — probe the full
    * index (phase 0), TOMBSTONE exactly the neighbors phase 0
    * returned (an O(retired) append — the index files are untouched),
    * re-probe masked (phase 1), compact (the purge), re-probe
    * (phase 2). Phases 1 and 2 are DEFINED identical to each other
    * and to sim17's eager-retire phase 1, so the oracle is sim17's
    * with phase 1 emitted twice. */
  def tombstoneRetentionCycle(spark: SparkSession, dir: String,
      tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = false, full = true) { (c, _) =>
      def phaseProbe(n: Int): DataFrame = phaseRows(probe(spark, dir, c.prefix), n)
      val dec0 = c.probe("probe")(phaseProbe(0))
      val expired = dec0.select(col("neighbor_id").as("vec_id")).distinct()
      c.phase("retire") { retireTombstone(spark, c.prefix, expired) }
      val dec1 = c.probe("reprobe")(phaseProbe(1))
      c.phase("purge") { compact(spark, c.prefix) }
      val dec2 = c.probe("probe2")(phaseProbe(2))
      dec0.unionByName(dec1).unionByName(dec2)
        .orderBy("phase", "query_id", "neighbor_id")
    }

  /** st13: sim19's append driven through the log-fenced
    * [[pqMaintainBatch]], with the batch REPLAYED in between — the
    * batch analog of a checkpoint restart that lost the commit
    * marker. The replay must be a log-skipped no-op (asserted
    * here); the final serve equals sim18's full build, same composed
    * oracle. StreamingSpec drives the same maintenance through a real
    * readStream foreachBatch with a checkpoint restart. */
  def pqMaintainedCycle(spark: SparkSession, dir: String, tag: String): DataFrame =
    quarterCycle(spark, dir, tag, pq = true, full = false) { (c, e) =>
      c.phase("append") {
        if (!pqMaintainBatch(spark, dir, c.prefix, e.filter(isNewVec), 0L))
          sys.error("st13: fresh index claims batch 0 already maintained")
        if (pqMaintainBatch(spark, dir, c.prefix, e.filter(isNewVec), 0L))
          sys.error("st13: replayed batch 0 was not log-skipped")
      }
      c.probe("probe")(pqProbe(spark, dir, c.prefix))
    }

  /** Streaming-legal cell-occupancy DRIFT MONITOR (st14 — dq07's
    * form at the place a drift monitor actually runs: the ingest
    * stream). `batch` (vec_id, embedding, ts) may be unbounded, so
    * every construct is streaming-legal, and the whole monitor is ONE
    * stateful aggregation:
    *
    *   - cell assignment is the stateless HOF argmax over the
    *     broadcast centroid array (element 1 of the streaming lanes'
    *     [[rankedCentroids]]);
    *   - the reference occupancy p (the indexed corpus's smoothed
    *     cell distribution) rides in as a broadcast STATIC 1-row
    *     array BEFORE the aggregation — joining it after the agg
    *     would chain a stream-static join behind a streaming
    *     aggregation, and carrying it through `first()` keeps the
    *     plan single-stateful-operator;
    *   - per-window occupancy is a PIVOTED single aggregation (one
    *     conditional sum per cell — K bounded columns), never a
    *     second groupBy;
    *   - the KL total is a fixed-order fold of 6-dp-rounded terms
    *     summed as DECIMAL(18,6) — exact, so the per-window decision
    *     is bit-reproducible and oracle-mirrorable.
    *
    * Output: one row per arrival window — (window_start, n_new,
    * kl_total, retrain). */
  def streamingCellDrift(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, first, sum, when, log => ln}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val k = Similarity.IvfCentroids
    // reference occupancy from the indexed corpus (the non-quarter
    // slice — dq07's convention), as one broadcastable array row
    val corpus = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
      .filter(pmod(col("vec_id"), lit(4)) =!= lit(0))
    val pArr = assignCells(corpus, centroids(spark, dir))
      .groupBy("cluster").agg(count(lit(1)).as("cnt"))
      .agg(collect_list(struct(col("cluster"), col("cnt"))).as("occ"),
        sum(col("cnt")).as("n_old"))
      .select(expr(
        s"""transform(sequence(0, ${k - 1}), c ->
           |  CAST(coalesce(element_at(
           |         map_from_entries(transform(occ, o -> struct(o.cluster, o.cnt))),
           |         CAST(c AS BIGINT)), 0) + 1 AS DOUBLE)
           |  / (CAST(n_old AS DOUBLE) + $k))""".stripMargin).as("ps"))
    val assigned = batch
      .crossJoin(broadcast(centroidArray(spark, dir)))
      .crossJoin(broadcast(pArr))
      .select(col("ts"), col("ps"),
        expr(s"element_at($rankedCentroids, 1)").as("cluster"))
    val aggs =
      count(lit(1)).as("n_new") +:
        first(col("ps")).as("ps") +:
        (0 until k).map(c =>
          sum(when(col("cluster") === c, 1L).otherwise(0L)).as(s"n$c"))
    val counts = assigned
      .groupBy(arrivalWindow)
      .agg(aggs.head, aggs.tail: _*)
    def q(c: Int) = (col(s"n$c") + lit(1L)).cast(DoubleType) /
      (col("n_new").cast(DoubleType) + lit(k.toDouble))
    val klTotal = (0 until k).map { c =>
      val p = expr(s"element_at(ps, ${c + 1})")
      round(q(c) * ln(q(c) / p), 6).cast(DecimalType(18, 6))
    }.reduce(_ + _).cast(DoubleType)
    counts.select(windowStart, col("n_new"),
      klTotal.as("kl_total"),
      (klTotal > lit(Similarity.KlRetrainThreshold)).as("retrain"))
  }

  /** Build-once registry for the sim18 catalog entry — same rationale
    * as [[ensurePersisted]]: the IVF-PQ index is a durable artifact;
    * the bench re-times the PROBE. */
  def ensurePqPersisted(spark: SparkSession, dir: String,
      tag: String = "sim18"): String =
    IndexCore.ensurePersisted(spark, dir, Fam, s"pq-$tag", tag)((path, p) =>
      pqPersist(spark, dir, path, p))

  // ------------------------------------------------------------------
  // Matryoshka persisted-prefix layout (sim28; round-15 VERDICT
  // item 8). sim27's funnel SAVES COMPUTE (score 16 of 64 dims) but
  // still READS full 64-dim vectors on the candidate pass — the
  // floor/ceiling gap its scaladoc names. This layout closes it
  // physically: the serving table carries the [[Similarity
  // .MatryoshkaPrefix]]-dim prefix as its OWN parquet column
  // (vec_id, pfx, embedding), so the corpus-wide candidate scan
  // column-prunes to (vec_id, pfx) — ~4× fewer vector bytes read
  // where it matters, the pass that touches every row per query
  // batch. The exact re-rank joins the C-bounded survivors back to
  // the same table's full-vector column. Honest accounting: in a
  // pure columnar harness that re-rank is a second scan of the
  // embedding column (row-bounded compute, column-sized bytes); a
  // production serving store does the bounded fetch as point reads —
  // SCALE_NOTES carries the measured per-column byte split. Both
  // stages fold bit-identically to sim27's (pfx IS the materialized
  // slice; the re-rank reads the untouched full vector), so sim28
  // shares sim27's oracle row for row.
  // ------------------------------------------------------------------

  def matTable(prefix: String): String = Mat.name(prefix)

  def persistMat(spark: SparkSession, dir: String, path: String,
      prefix: String, buckets: Int = Buckets): Unit = {
    IndexCore.writeTable(Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr(s"slice(embedding, 1, ${Similarity.MatryoshkaPrefix})").as("pfx"),
        col("embedding"))
      .withColumn("ingest_batch", lit(BaseBatch)), Mat, prefix, Some((path, buckets)))
    IndexCore.commitBuild(spark, Seq(matTable(prefix)))
  }

  /** Matryoshka serving against the persisted-prefix layout: the
    * candidate pass scans ONLY (vec_id, pfx) — Round15OpsSpec pins
    * the pruned ReadSchema — and the exact re-rank joins the
    * C-bounded survivors back to the full-vector column of the same
    * bucketed table (both sides bucketed by vec_id: no shuffle on
    * the corpus side). Decisions are DEFINED identical to sim27's. */
  def matProbe(spark: SparkSession, dir: String, prefix: String): DataFrame =
    matProbe(spark, dir, prefix, fixedQueries(spark, dir, withLabel = false))

  /** [[matProbe]] over a (vec_id, embedding) query FRAME. */
  def matProbe(spark: SparkSession, dir: String, prefix: String,
      qf: DataFrame): DataFrame = {
    val t = spark.table(matTable(prefix))
    prefixFunnel(t.select(col("vec_id").as("neighbor_id"), col("pfx")),
      t.select(col("vec_id").as("neighbor_id"), col("embedding").as("te")), qf)
  }

  /** The prefix-then-exact funnel (sim27, sim28): `pfx` (neighbor_id,
    * pfx) scored against each query's [[Similarity.MatryoshkaPrefix]]
    * -dim prefix, the [[Similarity.MatryoshkaCand]] best per query
    * kept, then re-ranked by exact cosine against `full` (neighbor_id,
    * te) joined back on the survivors: top-[[Similarity.KnnK]] as
    * (query_id, neighbor_id, prefix_cosine, cosine). `qf` is the
    * bounded (vec_id, embedding) query batch, broadcast. */
  private[ops] def prefixFunnel(pfx: DataFrame, full: DataFrame,
      qf: DataFrame): DataFrame = {
    val q = qf
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        expr(s"slice(embedding, 1, ${Similarity.MatryoshkaPrefix})").as("qp"))
    val wp = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("neighbor_id").asc)
    val cands = pfx
      .join(broadcast(q.select("query_id", "qp")),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("pcos", expr("cosine_sim(qp, pfx)"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= Similarity.MatryoshkaCand)
      .select("query_id", "neighbor_id", "pcos")
    batchTopK(cands.join(full, Seq("neighbor_id"))
        .join(broadcast(q.select("query_id", "qe")), Seq("query_id")),
      Cosine.copy(k = Similarity.KnnK), expr("cosine_sim(qe, te)"),
      Seq(round(col("pcos"), 6).as("prefix_cosine")))
  }

  def ensureMatPersisted(spark: SparkSession, dir: String,
      tag: String = "sim28"): String =
    IndexCore.ensurePersisted(spark, dir, Fam, s"mat-$tag", tag)((path, p) =>
      persistMat(spark, dir, path, p))

  /** Drop the registered tables (files under the index path are
    * external; the temp-dir lifecycle owns them). */
  def drop(spark: SparkSession, prefix: String): Unit = Fam.drop(spark, prefix)

  /** The sim14 catalog entry's index: built once per (session, dir,
    * tag) and reused — the index is a durable artifact, the bench's
    * repeated sweeps re-time the PROBE (the production read path). */
  def ensurePersisted(spark: SparkSession, dir: String,
      tag: String = "sim14"): String =
    IndexCore.ensurePersisted(spark, dir, Fam, tag, tag)((path, p) =>
      persist(spark, dir, path, p))

  /** [[ensurePersisted]] for the COVERING layout ([[persistCovering]])
    * — its own registry key so the base and covering indexes coexist
    * in one session (they are different durable artifacts). */
  def ensureCoveringPersisted(spark: SparkSession, dir: String,
      tag: String = "sim23"): String =
    IndexCore.ensurePersisted(spark, dir, Fam, s"covering-$tag", tag)((path, p) =>
      persistCovering(spark, dir, path, p))
}
