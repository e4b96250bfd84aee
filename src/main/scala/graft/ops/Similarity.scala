package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Portable

/** Similarity search over the `embeddings` table (`Array[Float]`
  * column) — the north-star ANN operators (BASELINE.json).
  *
  * Cosine is computed with higher-order functions (`zip_with` +
  * `aggregate`, codegen'd lambdas — no UDF), folding left so the sum
  * order is fixed and the DuckDB oracle (`list_reduce`) reproduces it
  * bit-for-bit.
  *
  * Scale design:
  *   - brute-force kNN broadcasts the (tiny) query set against the
  *     full corpus: one narrow pass, no shuffle until top-k;
  *   - the LSH path buckets vectors by random-hyperplane sign bits;
  *     candidate generation joins only within buckets (expected
  *     corpus/2^planes per bucket), the classic sub-linear ANN
  *     trade — at 100 TB the bucket table is the only shuffle;
  *   - hyperplanes are deterministic literals inlined into the plan
  *     (Portable.planes), so there is no per-row hashing cost and
  *     the oracle sees identical planes by construction.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  val KnnQueries = 5 // vec_id < 5 are the query vectors
  val KnnK = 5

  /** sim10: top outliers reported by the Mahalanobis gate. */
  val MahalTopK = 20
  val LshPlanes = 6 // 2^6 = 64 buckets
  val LshK = 3

  /** Multi-probe knobs (sim13): LSH queries additionally probe the
    * buckets reached by flipping their lowest-margin sign bits
    * (smallest |pdot| — the hyperplanes the query sits closest to,
    * where its true neighbors most likely landed on the other side);
    * IVF2 queries probe their [[Ivf2L1Probes]] nearest L1 cells
    * instead of only the argmax cell. Recall at fixed per-bucket
    * cost — the production ANN lever: probe count scales candidate
    * work linearly while recall lifts toward exact. */
  val LshMultiProbes = 4 // own bucket + 3 lowest-margin bit flips
  val Ivf2L1Probes = 2
  val Dims = 64
  val IvfCentroids = 16 // vec_id < 16 serve as coarse centroids
  val IvfNProbe = 2
  val DupNProbe = 2 // dd06: each vector joins its top-2 nearest cells
  val DupThreshold = 0.4
  val RangeTau = 0.2 // sim08: radius-search cosine threshold

  /** sim25 reciprocal-rank-fusion constant — Cormack et al.'s k=60,
    * the value every production hybrid retriever ships (Elasticsearch
    * RRF, Vespa, LanceDB all default to it): small enough that rank-1
    * agreement dominates, large enough that a single lane's rank-1
    * cannot outvote two-lane agreement at rank ~3. */
  val RrfK = 60
  val FusionTopK = 5

  /** ds12: max results per (query, coarse cell) before the global
    * top-k — the diversity quota. */
  val DiverseQuota = 2

  /** sim27 Matryoshka serving knobs: candidate generation scores only
    * the first [[MatryoshkaPrefix]] dims (the MRL paper's nested-
    * prefix property — truncated embeddings stay meaningful), the
    * exact full-dim re-rank touches [[MatryoshkaCand]] rows/query. */
  val MatryoshkaPrefix = 16
  val MatryoshkaCand = 16

  /** Product quantization (sim07): M subspaces × SubDims dims; K
    * codewords per subspace. 64 float dims compress to
    * M log2(K) = 12 bits per vector. Codebooks are TRAINED (round
    * 5): [[PqTrainIters]] deterministic per-subspace Lloyd
    * iterations from the first-PqK seed (the same "leading vectors
    * as deterministic k-means seed" convention as IVF's centroids) —
    * assignment by (sq_dist, code) rank, update by decimal-exact
    * per-dim means, empty clusters retain their previous codeword.
    * Every step is mirrored in the DuckDB oracle, so the TRAINING
    * dataflow itself is hash-checked, not just the search. */
  val PqM = 4
  val PqSubDims = Dims / PqM // 16
  val PqK = 8
  val PqTrainIters = 2

  /** Lloyd iterations for the TRAINED coarse quantizer (sim21) —
    * bounded and deterministic, the PqTrainIters convention. */
  val IvfTrainIters = 2

  /** Retrain trigger for the codebook-generation lifecycle (dq07):
    * smoothed KL divergence of a new batch's IVF cell-occupancy
    * distribution from the indexed corpus's, above which the batch is
    * declared distribution-shifted and a new generation (retrain +
    * re-encode + [[VecIndex.pqSwapGeneration]]) is warranted. */
  val KlRetrainThreshold = 0.05

  /** The left-fold dot product in DuckDB SQL (list_reduce has no seed; a fold of
    * [v1..vn] from v1 equals Spark's 0.0-seeded fold bit-for-bit). */
  private[ops] def dotSql(a: String, b: String): String = dotSqlN(a, b, Dims)

  /** Length-parameterized prefix form — sim27 folds the first `n`
    * dims; the no-seed fold-from-v1 parity argument holds at any
    * length. */
  private[ops] def dotSqlN(a: String, b: String, n: Int): String =
    s"list_reduce(list_transform(generate_series(1, $n), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** Squared L2 between subspace m of `a` and `b` in DuckDB SQL — the
    * same left fold as the codegen `sq_dist` over a `slice`, written
    * against the full arrays with an index offset. The squared
    * difference is spelled `(x-y)*(x-y)` (never pow — libm parity). */
  private def sqDistSql(a: String, b: String, m: Int): String = {
    val off = m * PqSubDims
    def el(c: String) = s"CAST($c[i + $off] AS DOUBLE)"
    s"list_reduce(list_transform(generate_series(1, $PqSubDims), " +
      s"i -> (${el(a)} - ${el(b)}) * (${el(a)} - ${el(b)})), (x, y) -> x + y)"
  }

  /** The PQ codebook as a DuckDB CTE chain ending in `cb(code, cw)`:
    * untrained = the raw first-PqK vectors; trained = the
    * [[PqTrainIters]]-iteration Lloyd mirror of
    * [[pqTrainedCodebook]], step for step (assignment ranked by
    * (sq_dist, code); decimal-exact per-dim means; empty clusters
    * retain the previous codeword via the LEFT JOIN coalesce). */
  private def pqCodebookSql(trained: Boolean,
      rel: String = "embeddings"): String = {
    if (!trained)
      s"""cb AS (
         |  SELECT vec_id AS code, embedding AS cw FROM $rel WHERE vec_id < $PqK
         |)""".stripMargin
    else {
      def dist(vec: String, cw: String, m: String) = {
        def el = s"CAST($vec[i + $m * $PqSubDims] AS DOUBLE)"
        s"list_reduce(list_transform(generate_series(1, $PqSubDims), " +
          s"i -> ($el - $cw[i]) * ($el - $cw[i])), (x, y) -> x + y)"
      }
      val iters = (1 to PqTrainIters).map { t =>
        val prev = s"cb${t - 1}"
        s"""a$t AS (
           |  SELECT vec_id, m, code FROM (
           |    SELECT v.vec_id, c.m, c.code,
           |           row_number() OVER (PARTITION BY v.vec_id, c.m
           |             ORDER BY ${dist("v.embedding", "c.cw", "c.m")}, c.code) AS rn
           |    FROM $rel v CROSS JOIN $prev c
           |  ) WHERE rn = 1
           |),
           |m$t AS (
           |  SELECT a.m, a.code, t.i AS pos,
           |         CAST(sum(CAST(CAST(v.embedding[t.i + a.m * $PqSubDims + 1] AS DOUBLE)
           |           AS DECIMAL(18,8))) AS DOUBLE)
           |           / CAST(count(*) AS DOUBLE) AS mean
           |  FROM a$t a JOIN $rel v USING (vec_id),
           |       generate_series(0, ${PqSubDims - 1}) AS t(i)
           |  GROUP BY a.m, a.code, t.i
           |),
           |g$t AS (SELECT m, code, list(mean ORDER BY pos) AS cw FROM m$t GROUP BY m, code),
           |cb$t AS (
           |  SELECT c.m, c.code, coalesce(g.cw, c.cw) AS cw
           |  FROM $prev c LEFT JOIN g$t g ON g.m = c.m AND g.code = c.code
           |)""".stripMargin
      }.mkString(",\n")
      s"""cb0 AS (
         |  SELECT mm.m AS m, vec_id AS code,
         |         list_transform(generate_series(1, $PqSubDims),
         |           i -> CAST(embedding[i + mm.m * $PqSubDims] AS DOUBLE)) AS cw
         |  FROM $rel, generate_series(0, ${PqM - 1}) AS mm(m)
         |  WHERE vec_id < $PqK
         |),
         |$iters,
         |cb AS (
         |  SELECT code, flatten(list(cw ORDER BY m)) AS cw
         |  FROM cb$PqTrainIters GROUP BY code
         |)""".stripMargin
    }
  }

  /** sim07's full encode+ADC oracle over either codebook mode —
    * shared by the sim07 entry (trained) and sim12's side-by-side
    * evaluation (both). */
  private def pqAdcSql(trained: Boolean, rel: String = "embeddings",
      prelude: String = ""): String = {
    val dCols = (0 until PqM)
      .map(m => s"${sqDistSql("e.embedding", "cb.cw", m)} AS d$m").mkString(",\n    ")
    val rCols = (0 until PqM)
      .map(m => s"row_number() OVER (PARTITION BY vec_id ORDER BY d$m, code) AS r$m")
      .mkString(",\n    ")
    val cCols = (0 until PqM)
      .map(m => s"max(CASE WHEN r$m = 1 THEN code END) AS c$m").mkString(",\n    ")
    val qdCols = (0 until PqM)
      .map(m => s"${sqDistSql("q.qe", "cb.cw", m)} AS qd$m").mkString(",\n    ")
    val tJoins = (1 until PqM)
      .map(m => s"JOIN qtab t$m ON t$m.query_id = t0.query_id AND t$m.code = codes.c$m")
      .mkString("\n  ")
    s"""WITH $prelude${pqCodebookSql(trained, rel)},
       |scored AS (
       |  SELECT e.vec_id, cb.code,
       |    $dCols
       |  FROM $rel e CROSS JOIN cb
       |),
       |rn AS (
       |  SELECT vec_id, code,
       |    $rCols
       |  FROM scored
       |),
       |codes AS (
       |  SELECT vec_id,
       |    $cCols
       |  FROM rn GROUP BY vec_id
       |),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM $rel WHERE vec_id < $KnnQueries
       |),
       |qtab AS (
       |  SELECT q.query_id, cb.code,
       |    $qdCols
       |  FROM q CROSS JOIN cb
       |),
       |j AS (
       |  SELECT t0.query_id, codes.vec_id AS neighbor_id,
       |         t0.qd0 + t1.qd1 + t2.qd2 + t3.qd3 AS adc
       |  FROM codes
       |  JOIN qtab t0 ON t0.code = codes.c0
       |  $tJoins
       |  WHERE codes.vec_id <> t0.query_id
       |)
       |SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist
       |FROM (SELECT j.*,
       |        row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk
       |      FROM j) t
       |WHERE rk <= $KnnK
       |ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** sim24's prelude: the OPQ permutation + permuted-corpus CTEs
    * (ending in `pemb(vec_id, embedding)`), mirroring
    * [[opqPermutation]]/[[opqPermuted]] move for move — sim10's
    * decimal moment convention for per-dim variance, rank by
    * (var DESC, dim ASC), snake-draft slot arithmetic. The shared PQ
    * machinery then runs over `pemb` instead of `embeddings`. */
  private lazy val opqPreludeSql: String = {
    val cycle = 2 * PqM
    s"""xv AS (
       |  SELECT t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS x
       |  FROM embeddings, generate_series(0, ${Dims - 1}) AS t(i)
       |),
       |vmom AS (
       |  SELECT dim,
       |         CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)
       |           / CAST(count(*) AS DOUBLE)
       |         - (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
       |              / CAST(count(*) AS DOUBLE))
       |           * (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
       |              / CAST(count(*) AS DOUBLE)) AS var
       |  FROM xv GROUP BY dim
       |),
       |rkv AS (
       |  SELECT dim, row_number() OVER (ORDER BY var DESC, dim ASC) AS r FROM vmom
       |),
       |slotv AS (
       |  SELECT dim,
       |         CASE WHEN (r - 1) % $cycle < $PqM THEN (r - 1) % $cycle
       |              ELSE ${cycle - 1} - (r - 1) % $cycle END AS sub,
       |         CAST((r - 1) // $cycle AS INT) * 2 +
       |           CASE WHEN (r - 1) % $cycle < $PqM THEN 0 ELSE 1 END AS slot
       |  FROM rkv
       |),
       |perm AS (
       |  SELECT list(dim ORDER BY sub * $PqSubDims + slot) AS p FROM slotv
       |),
       |pemb AS (
       |  SELECT e.vec_id,
       |         list_transform(perm.p, i -> CAST(e.embedding[i + 1] AS DOUBLE)) AS embedding
       |  FROM embeddings e CROSS JOIN perm
       |),
       |""".stripMargin
  }

  private val normedCte =
    s"""e AS (
       |  SELECT vec_id, label, embedding,
       |         sqrt(${dotSql("embedding", "embedding")}) AS norm
       |  FROM embeddings
       |)""".stripMargin

  /** Shared plane literals (deterministic, seed 42). */
  private lazy val planes: Array[Array[Double]] = Portable.planes(LshPlanes, Dims)

  /** Two-level deterministic quantizer shared by sim06 and dd08:
    * every vector of `e` (vec_id, embedding) scored against the
    * sub-centroids of its own L1 cell. L1 has c1 = ⌈n^¼⌉ cells (the
    * first vectors by id; argmax by max(struct) aggregate so the
    * n·c1 scored rows collapse map-side before the exchange); each
    * L1 cell's c2 = c1 lowest-id members are its sub-centroids
    * (c1·c2 ≈ √n rows, broadcastable). Returns (vec_id, g, sub,
    * embedding, srn) where srn ranks sub-cells by (cos DESC, sub
    * ASC) within the vector's L1 cell. Sizes ride a broadcast 1-row
    * count frame — no collect; n^¼ is sqrt(sqrt(n)) (two IEEE-exact
    * sqrts, never pow — libm parity). */
  private def twoLevelParts(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val sizes = e.agg(
      ceil(sqrt(sqrt(count(lit(1)).cast("double")))).cast("long").as("c1"))
    val l1cents = e.crossJoin(broadcast(sizes)).filter(col("vec_id") < col("c1"))
      .select(col("vec_id").as("g"), col("embedding").as("g_ce"))
    val l1 = e.crossJoin(broadcast(l1cents))
      .withColumn("cos_g", expr("cosine_sim(embedding, g_ce)"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos_g"), (-col("g")).as("neg_g"), col("g"))).as("best"))
      .select(col("vec_id"), col("best.g").as("g"))
      .join(e, "vec_id")
      .select(col("vec_id"), col("g"), col("embedding"))
    val l2cents = l1
      .withColumn("srn", row_number().over(
        Window.partitionBy("g").orderBy(col("vec_id").asc)))
      .crossJoin(broadcast(sizes)).filter(col("srn") <= col("c1"))
      .select(col("g"), col("vec_id").as("sub"), col("embedding").as("s_ce"))
    val scored = l1.join(broadcast(l2cents), Seq("g"))
      .withColumn("cos_s", expr("cosine_sim(embedding, s_ce)"))
      .withColumn("srn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cos_s").desc, col("sub").asc)))
      .select(col("vec_id"), col("g"), col("sub"), col("embedding"), col("srn"))
    (l1cents, l2cents, scored)
  }

  private def twoLevelScored(e: DataFrame): DataFrame = twoLevelParts(e)._3

  /** The corpus deduplicated to one (vec_id, embedding) row per
    * distinct vector, its min vec_id: exact duplicates are dd01's job,
    * and a copy-set of size m would otherwise multiply its cells' pair
    * work by m² (dd06, dd08, ds11). */
  private[ops] def canonicalEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select("vec_id", "embedding")
      .groupBy("embedding").agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id", "embedding")

  /** A ~⌈√n⌉-row (cent_id, ce) centroid pool HASH-SAMPLED from `e`
    * (vec_id, embedding) (dd14, ds11; round 14, r13 ADVICE). The old
    * `vec_id < ncells` rule shrank on dup-heavy corpora: canonical ids
    * are sparse, so the pool under-fills and cells grow past √n.
    * Rank-based selection would need a GLOBAL row_number — a
    * single-partition pass at 100 TB — so each row self-selects with
    * probability ncells/n via the portable hash: the expected pool is
    * ncells regardless of id density, fully distributed, no collect,
    * and the oracle replays the same md5 arithmetic. The min-id row is
    * always included, so a tiny fixture never draws an empty pool. */
  private[ops] def hashSampledCentroids(e: DataFrame): DataFrame = {
    val nc = e.agg(
      ceil(sqrt(count(lit(1)).cast("double"))).cast("long").as("ncells"),
      count(lit(1)).as("n"), min(col("vec_id")).as("mid"))
    e.crossJoin(broadcast(nc))
      .filter(expr(s"${Portable.phashExpr("concat('ct|', CAST(vec_id AS STRING))")} % n")
        < col("ncells") || col("vec_id") === col("mid"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
  }

  /** Near-duplicate pairs within shared cells (dd06, dd08, dd14):
    * `assigned` (vec_id, `keys`…) self-joined on every key with
    * a.vec_id < b.vec_id, deduplicated while the pairs carry only
    * 8-byte ids (a multi-assigned pair sharing two cells pairs once;
    * vector payloads never hash), then one re-join to `e` (vec_id,
    * embedding) scores them. Pairs at cosine ≥ [[DupThreshold]]
    * survive as (vec_a, vec_b, cos). */
  private def cellPairs(assigned: DataFrame, keys: Seq[String], e: DataFrame): DataFrame =
    assigned.as("a").join(assigned.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
      .join(e.toDF("vec_a", "ea"), "vec_a")
      .join(e.toDF("vec_b", "eb"), "vec_b")
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .filter(col("cos") >= DupThreshold)

  /** dd06/dd08's output: [[cellPairs]] rounded and ordered. */
  private def dupPairs(assigned: DataFrame, keys: Seq[String], e: DataFrame): DataFrame =
    cellPairs(assigned, keys, e)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
      .orderBy("vec_a", "vec_b")

  /** Flat-IVF ANN (sim04's body): [[VecIndex.probe]]'s kernel over the
    * in-session seed-centroid assignment, parameterized on query count
    * and k for the hybrid instrument; defaults are the catalog's. */
  private[graft] def ivfAnn(s: SparkSession, d: String,
      nQ: Long = KnnQueries, k: Int = LshK): DataFrame =
    VecIndex.transientProbe(s, d, Tables.embeddings(s, d).select("vec_id", "embedding"),
      VecIndex.centroids(s, d), nQ, k)

  /** Brute-force cosine top-k (sim01's body), parameterized on query
    * count and k so OpqSpec's recall check can run the SAME kernel
    * over ≥100 queries at k=10 instead of the catalog's 5×5: the
    * broadcast query batch against every other vector, then
    * [[VecIndex.batchTopK]]. */
  private[graft] def bruteKnn(s: SparkSession, d: String,
      nQ: Long = KnnQueries, k: Int = KnnK): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    VecIndex.batchTopK(e.join(broadcast(queryBatch(e, nQ)), col("vec_id") =!= col("query_id")),
      VecIndex.Cosine.copy(k = k), VecIndex.cosineScore, Nil)
  }

  /** The first `nQ` vectors of `e` as the (query_id, qe) query batch. */
  private def queryBatch(e: DataFrame, nQ: Long): DataFrame =
    e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  /** A cosine lane's (query_id, neighbor_id, cosine) output ranked per
    * query as `out` by (cosine desc, neighbor_id asc) — the rounded
    * output, so both engines rank identical keys. */
  private def laneRank(lane: DataFrame, out: String): DataFrame = lane
    .withColumn(out, row_number().over(
      Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)))
    .select(col("query_id"), col("neighbor_id"), col(out))

  /** Reciprocal-rank fusion of two ranked lanes (query_id, `item`, ra)
    * and (query_id, `item`, rb): Σ 1/(RrfK + rank) over the lanes that
    * surfaced the item (a full outer join), top-`k` per query by (rrf
    * desc, item asc), as (query_id, rk, `item`, ra, rb, rrf). */
  private def rrf(a: DataFrame, b: DataFrame, item: String, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col(item).asc)
    a.join(b, Seq("query_id", item), "full_outer")
      .withColumn("rrf", expr(
        s"""coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + ra AS DOUBLE), 0.0)
           | + coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + rb AS DOUBLE), 0.0)"""
          .stripMargin))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("int").as("rk"),
        col(item), col("ra").cast("int").as("ra"),
        col("rb").cast("int").as("rb"), round(col("rrf"), 6).as("rrf"))
      .orderBy("query_id", "rk")
  }

  /** sim25's fusion: RRF of the IVF lane and the multi-probe LSH
    * lane. */
  private def rrfFused(s: SparkSession, d: String): DataFrame =
    rrf(laneRank(ivfAnn(s, d), "ra"),
      laneRank(lshAnn(s, d, LshMultiProbes), "rb"), "neighbor_id", FusionTopK)

  // ------------------------------------------------------------------
  // Hybrid-relevance instrument kernels (round 15, VERDICT item 2):
  // sim26/st18's "fusion beats its lanes" claim was inherited from
  // sim25's vector-vector result. These kernels ground it in a
  // GRADED cross-modality experiment: every query is a corpus
  // document (the id domain documents ↔ embeddings share), the
  // lexical lane retrieves by the query doc's own terms, the ground
  // truth is a BLENDED label — RRF of the exact term-overlap
  // (Jaccard) rank and the exact cosine rank, missing-overlap
  // contribution zero, RRF's own convention — and each lane plus the
  // fusion is graded recall@k against it at statistical power
  // (HybridProbe.measure: 128 q × k=10, binomial CIs).
  // HybridFusionSpec pins fused ≥ best-single-lane − CI.
  // ------------------------------------------------------------------

  /** Lexical lane: BM25 "more-like-this" — tx15's scoring kernel with
    * the fixed 4-query workload replaced by each query DOCUMENT's own
    * distinct-token set (the query side every hybrid retriever
    * actually serves: find documents like this one). Query vocabulary
    * is the union of nQ docs' distinct tokens — Heaps-bounded, a
    * broadcast — so candidates still shrink to matched postings
    * before any exchange. Returns (query_id, item_id, ra). */
  private[graft] def bm25MoreLikeThis(s: SparkSession, d: String,
      nQ: Long, k: Int): DataFrame = {
    import TextAnalysis.{tokensExpr, Bm25K1, Bm25B}
    val docs = Tables.documents(s, d).withColumn("tokens", expr(tokensExpr))
    val qt = docs.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("query_id"),
        explode(expr("array_distinct(tokens)")).as("term"))
    val dl = docs.select(col("doc_id"),
      expr("CAST(size(tokens) AS BIGINT)").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), explode_outer(col("tokens")).as("term"))
      .filter(col("term").isNotNull)
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfc), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("score", expr(
        s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
           |         / (CAST(df AS DOUBLE) + 0.5))
           |* (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
           |/ (CAST(tf AS DOUBLE)
           |   + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
           |                * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))"""
          .stripMargin))
    val perDoc = scored.groupBy("query_id", "doc_id")
      .agg(sum(col("score")).as("bm25"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id").asc)
    perDoc.withColumn("ra", row_number().over(w))
      .filter(col("ra") <= k)
      .select(col("query_id"), col("doc_id").as("item_id"), col("ra"),
        col("bm25"))
  }

  /** Blended ground truth for the hybrid instrument: per (query doc,
    * corpus doc) pair, label = 1/(RrfK + exact-Jaccard-rank) +
    * 1/(RrfK + exact-cosine-rank) — term-overlap rank only defined
    * where overlap exists (zero contribution otherwise, RRF's
    * missing-lane convention; among zero-overlap docs any order
    * would be arbitrary), cosine rank over the FULL corpus. Top-k
    * per query by label, doc_id tiebreak. */
  private[graft] def hybridGroundTruth(s: SparkSession, d: String,
      nQ: Long, k: Int): DataFrame = {
    import TextAnalysis.tokensExpr
    // exact cosine rank over the full corpus
    val e = Tables.embeddings(s, d)
    val q = queryBatch(e, nQ)
    val wv = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("item_id").asc)
    val vecRank = e.select(col("vec_id").as("item_id"), col("embedding").as("te"))
      .join(broadcast(q), col("item_id") =!= col("query_id"))
      .withColumn("cos", expr("cosine_sim(qe, te)"))
      .withColumn("rvec", row_number().over(wv))
      .select("query_id", "item_id", "rvec")
    // exact token-set Jaccard rank where overlap exists
    val docTerms = Tables.documents(s, d)
      .select(col("doc_id"),
        explode_outer(expr(s"array_distinct($tokensExpr)")).as("term"))
      .filter(col("term").isNotNull)
    val sizes = docTerms.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val qTerms = docTerms.filter(col("doc_id") < nQ)
      .withColumnRenamed("doc_id", "query_id")
    val inter = qTerms.join(docTerms, Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("inter"))
    val wl = Window.partitionBy("query_id")
      .orderBy(col("jac").desc, col("doc_id").asc)
    val lexRank = inter
      .join(broadcast(sizes.withColumnRenamed("doc_id", "query_id")
        .withColumnRenamed("nt", "nt_q")), Seq("query_id"))
      .join(sizes.withColumnRenamed("nt", "nt_d"), Seq("doc_id"))
      .withColumn("jac", col("inter").cast("double") /
        (col("nt_q") + col("nt_d") - col("inter")).cast("double"))
      .withColumn("rlex", row_number().over(wl))
      .select(col("query_id"), col("doc_id").as("item_id"), col("rlex"))
    val wg = Window.partitionBy("query_id")
      .orderBy(col("label").desc, col("item_id").asc)
    vecRank.join(lexRank, Seq("query_id", "item_id"), "left_outer")
      .withColumn("label", expr(
        s"""coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + rlex AS DOUBLE), 0.0)
           | + CAST(1 AS DOUBLE) / CAST($RrfK + rvec AS DOUBLE)""".stripMargin))
      .withColumn("grk", row_number().over(wg))
      .filter(col("grk") <= k)
      .select("query_id", "item_id")
  }

  /** sim26's fusion dataflow generalized to the instrument's query
    * population: RRF of the BM25 more-like-this lane and the IVF
    * lane (each asked for laneK), fused top-k. The catalog's
    * sim26/st18 run the same decisions over the fixed workload. */
  private[graft] def hybridFused(s: SparkSession, d: String,
      nQ: Long, k: Int, laneK: Int): DataFrame =
    rrf(bm25MoreLikeThis(s, d, nQ, laneK).drop("bm25"),
      laneRank(ivfAnn(s, d, nQ, laneK), "rb").withColumnRenamed("neighbor_id", "item_id"),
      "item_id", k)
      .select("query_id", "item_id")

  /** sim27's body: [[VecIndex.prefixFunnel]] over the raw embeddings —
    * the prefix is sliced in-session rather than read as its own
    * column (sim28). */
  private def matryoshkaAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    VecIndex.prefixFunnel(
      e.select(col("vec_id").as("neighbor_id"),
        expr(s"slice(embedding, 1, $MatryoshkaPrefix)").as("pfx")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding").as("te")),
      e.filter(col("vec_id") < KnnQueries).select("vec_id", "embedding"))
  }

  /** LSH ANN with a probe-count knob: every vector lands in ONE
    * sign-bit bucket; a query probes its own bucket plus the buckets
    * reached by flipping its `probes - 1` lowest-margin bits
    * (smallest |pdot| — the classic multi-probe perturbation order:
    * the hyperplanes the query sits closest to are where its true
    * neighbors most likely fell on the other side). Targets live in
    * exactly one bucket and probe buckets are distinct, so no
    * candidate dedup exchange is needed; candidate cost scales
    * linearly in `probes` while the corpus-side plan (one projection
    * pass + one bucket aggregate) is shared and unchanged. The bucket
    * is the cell of [[VecIndex.candidates]] and the exact re-rank is
    * [[VecIndex.batchTopK]]. */
  private[graft] def lshAnn(s: SparkSession, d: String, probes: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
    val planesDf = s.sql(planesRelation("array(", ")"))
      .withColumn("plane", col("plane").cast("array<double>"))
    // hot pass: P plane projections × every row — the fused codegen
    // dot_product kernel, not the interpreted HOF fold (same left
    // fold, bit-identical; see VectorExprs.DotProduct)
    val proj = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(planesDf))
      .withColumn("pdot", expr("dot_product(embedding, plane)"))
    val buckets = proj
      .withColumn("bit",
        expr("CASE WHEN pdot > 0.0 THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END"))
      .groupBy("vec_id").agg(sum(col("bit")).as("cluster"))
    val eb = e.select("vec_id", "embedding").join(buckets, "vec_id")
    val q = eb.filter(col("vec_id") < KnnQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cluster"))
    val probeFrame =
      if (probes <= 1) q
      else {
        val flips = proj.filter(col("vec_id") < KnnQueries)
          .withColumn("frn", row_number().over(
            Window.partitionBy("vec_id").orderBy(abs(col("pdot")).asc, col("p").asc)))
          .filter(col("frn") <= probes - 1)
          .select(col("vec_id").as("query_id"), col("p"))
        q.unionByName(q.join(flips, "query_id")
          .select(col("query_id"), col("qe"),
            expr("cluster ^ shiftleft(CAST(1 AS BIGINT), p)").as("cluster")))
      }
    VecIndex.batchTopK(
      VecIndex.candidates(s, d, eb, broadcast(probeFrame), VecIndex.Unlabeled),
      VecIndex.Cosine, VecIndex.cosineScore, Seq(col("cluster").as("bucket")))
  }

  /** Two-level IVF ANN with an L1 probe-count knob: `l1probes = 1`
    * is sim06's plan verbatim (queries probe their own L1 cell's
    * [[IvfNProbe]] nearest sub-cells); `l1probes > 1` scores the
    * (tiny) query set against ALL L1 centroids, takes the `l1probes`
    * nearest cells ([[VecIndex.nearestCells]]), and probes each
    * cell's [[IvfNProbe]] nearest sub-cells — recovering exactly the
    * recall the hierarchical L1 boundary gives up (the trade sim06's
    * scaladoc states). The corpus-side assignment is shared and
    * unchanged; candidate cost scales linearly in `l1probes`. */
  private def ivf2Ann(s: SparkSession, d: String, l1probes: Int): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val (l1cents, l2cents, scored) = twoLevelParts(e)
    val assigned = scored.filter(col("srn") === 1)
      .select(col("vec_id"), col("g"), col("sub"), col("embedding"))
    val probes =
      if (l1probes <= 1)
        scored.filter(col("vec_id") < KnnQueries && col("srn") <= IvfNProbe)
          .select(col("vec_id").as("query_id"), col("g"), col("sub"),
            col("embedding").as("qe"))
      else {
        val qcells = VecIndex.nearestCells(e.filter(col("vec_id") < KnnQueries),
            "vec_id", "embedding", l1cents.toDF("cent_id", "ce"))(_ <= l1probes)
          .select(col("vec_id").as("query_id"), col("cent_id").as("g"),
            col("embedding").as("qe"))
        qcells.join(broadcast(l2cents), Seq("g"))
          .withColumn("cos_s", expr("cosine_sim(qe, s_ce)"))
          .withColumn("srn", row_number().over(
            Window.partitionBy("query_id", "g").orderBy(col("cos_s").desc, col("sub").asc)))
          .filter(col("srn") <= IvfNProbe)
          .select(col("query_id"), col("g"), col("sub"), col("qe"))
      }
    VecIndex.batchTopK(assigned.join(broadcast(probes), Seq("g", "sub"))
        .filter(col("vec_id") =!= col("query_id")),
      VecIndex.Cosine, VecIndex.cosineScore,
      Seq(col("g").as("l1_cell"), col("sub").as("l2_cell")))
  }

  /** Per-query sim01 ground-truth hits of each (name, lane) on the
    * query spine, a missing query counting 0 (sim12, sim13; sim11's
    * shape). Both sides are workload-bounded (|queries| × k), so the
    * ground truth and every per-query aggregate broadcast. */
  private def laneHits(s: SparkSession, d: String,
      lanes: (String, DataFrame)*): DataFrame = {
    val bf = queries("sim01_knn")(s, d).select("query_id", "neighbor_id")
      .withColumn("hit", lit(1L))
    val spine = Tables.embeddings(s, d)
      .filter(col("vec_id") < KnnQueries)
      .select(col("vec_id").as("query_id"))
    lanes.foldLeft(spine) { case (df, (out, lane)) =>
      df.join(broadcast(lane.select("query_id", "neighbor_id")
          .join(broadcast(bf), Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as(out))),
        Seq("query_id"), "left")
    }.select(col("query_id") +:
        lanes.map { case (out, _) => coalesce(col(out), lit(0L)).as(out) }: _*)
      .orderBy("query_id")
  }

  /** Planes as a UNION ALL relation, in the given array-literal
    * syntax. Spark: array(...); DuckDB: [...]. */
  private def planesRelation(arrOpen: String, arrClose: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"SELECT $i AS p, $arrOpen${p.mkString(", ")}$arrClose AS plane"
    }.mkString("\n  UNION ALL\n  ")

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-k: the exact baseline. The kernel is the
    // native codegen CosineSimilarity expression — numerically
    // identical to the HOF fold (see VectorExprs), ~20× faster.
    "sim01_knn" -> ((s, d) => bruteKnn(s, d)),

    // LSH-bucketed ANN: random-hyperplane sign buckets, exact cosine
    // re-ranking within the query's probed bucket(s). probes = 1 is
    // the classic single-bucket form; sim13 evaluates the multi-probe
    // recall lift through the same knob.
    "sim02_lsh_ann" -> ((s, d) => lshAnn(s, d, probes = 1)),

    // Per-label centroids (vector aggregation via posexplode —
    // partial aggregation makes this one narrow shuffle of
    // labels × dims pre-reduced rows)
    "sim03_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg((Tables.dsum(col("v").cast("double"), 8) / count(lit(1)).cast("double"))
          .as("centroid"))
        .orderBy("label", "pos")),

    // IVF-style ANN: coarse quantizer (first NCents vectors as
    // centroids) → assign every vector to its nearest centroid →
    // queries probe the NProbe nearest cells and re-rank exactly.
    // The production scale path: candidate work drops from O(n) per
    // query to O(n·nprobe/ncells), and the assignment pass is one
    // broadcast-join scan.
    "sim04_ivf_ann" -> ((s, d) => ivfAnn(s, d)),

    // Embedding-cosine near-duplicate pairs (dedup family), blocked
    // by IVF cluster so block size stays BOUNDED as the corpus grows
    // (the SemDeDup shape): ncells = ⌈√n⌉ coarse cells, every vector
    // multi-assigned to its DupNProbe nearest cells (so near-dups
    // straddling a cell boundary still pair), candidate pairs form
    // only within a shared cell, then one exact-cosine re-rank over
    // candidates only. Total work O(n·√n) for both the assignment
    // scan and the within-cell pairing — the optimum for flat coarse
    // quantization — vs the old fixed-`label` blocking whose blocks
    // grew linearly with the corpus (O(n²) pairing; measured 19× at
    // 10× scale, SCALE_NOTES.md). ncells adapts via a broadcast
    // 1-row count frame — no driver round-trip, no collect.
    //
    // Canonicalize-first (same guard as dd05, same rationale):
    // near-dup pairing runs over DISTINCT embeddings only (min vec_id
    // per vector) — exact-duplicate vectors are dd01's job, and every
    // copy-set of size m would otherwise multiply its cells' pair
    // work by m². Pairs among copies are recoverable from the
    // canonical pair × the exact-dup groups.
    "dd06_cosine_dup" -> ((s, d) => {
      val e = canonicalEmbeddings(s, d)
      val nc = e.agg(ceil(sqrt(count(lit(1)).cast("double"))).cast("long").as("ncells"))
      val cents = e.crossJoin(broadcast(nc)).filter(col("vec_id") < col("ncells"))
        .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
      dupPairs(VecIndex.nearestCells(e, "vec_id", "embedding", cents)(_ <= DupNProbe)
        .select(col("vec_id"), col("cent_id").as("cluster")), Seq("cluster"), e)
    }),

    // Two-level (hierarchical) IVF ANN — the next rung above sim04's
    // flat quantizer (SCALE_NOTES knob table). Flat IVF with √n cells
    // pays n·√n dot products in the assignment pass; here level 1 has
    // c1 = ⌈n^¼⌉ coarse cells and each L1 cell c2 = ⌈n^¼⌉ sub-cells,
    // so every vector scores c1 + c2 ≈ 2·n^¼ centroids instead of √n
    // (n=10⁹: ~356 vs ~31623 — the difference between "scales to
    // 10 B vectors" and "scales to 1 T"). Leaf count c1·c2 ≈ √n keeps
    // per-cell occupancy ≈ √n, same probe cost as sim04.
    //
    // Determinism (oracle-mirrorable, no trained k-means): L1
    // centroids are the first c1 vectors by vec_id; each L1 cell's
    // sub-centroids are its c2 lowest-vec_id members. Sizes come from
    // a broadcast 1-row count frame — no collect; n^¼ is
    // sqrt(sqrt(n)) (two IEEE-exact sqrts, never pow — libm parity).
    // Queries probe their own L1 cell's IvfNProbe nearest sub-cells,
    // then re-rank exactly.
    "sim06_ivf2_ann" -> ((s, d) => ivf2Ann(s, d, l1probes = 1)),

    // Near-duplicate pairs under TWO-LEVEL blocking — dd06's
    // hierarchical sibling (the dd-side of the sim06 quantizer): L1
    // c1 = ⌈n^¼⌉ coarse cells assign by argmax (max(struct)
    // aggregate, map-side combined), L2 sub-cells multi-assign top-2
    // within the L1 cell so near-dups straddling a sub-cell boundary
    // still pair. Assignment cost 2·n^¼ per vector vs dd06's √n;
    // within-leaf pairing stays bounded by leaf occupancy ≈ n/√n.
    // Recall trade vs dd06: pairs straddling an L1 boundary are not
    // candidates (the flat top-2 can reach across any two cells) —
    // the standard hierarchical-IVF recall/cost trade, stated rather
    // than hidden.
    "dd08_cosine_dup2" -> ((s, d) => {
      val e = canonicalEmbeddings(s, d)
      dupPairs(twoLevelScored(e).filter(col("srn") <= DupNProbe)
        .select(col("vec_id"), col("g"), col("sub")), Seq("g", "sub"), e)
    }),

    // SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    // at web-scale through semantic deduplication"): where dd06/dd08
    // emit candidate PAIRS, this emits the per-item KEEP/DROP decision
    // table the curation pipeline actually consumes. The published
    // recipe as a dataflow: (1) canonicalize exact-duplicate
    // embeddings to their min-id rep first (the dd05/dd07 guard — the
    // d² pairwork inside identical-vector groups collapses to a
    // broadcast-back of the rep's decision); (2) k-means-style
    // assignment of each rep to its single nearest of ~⌈√n⌉
    // hash-sampled seed centroids (cluster work stays ~√n per cell);
    // (3) within-cluster
    // pairwise cosine, greedy-by-id pruning: a rep is dropped iff a
    // LOWER-id rep in its cluster sits at cosine ≥ DupThreshold, with
    // the minimum such witness as dup_of. Exact twins inherit their
    // rep's cluster and drop against the rep itself. Unlike dd07 no
    // transitive closure is taken — SemDeDup's decision is cluster-
    // local by design (that locality is what bounds the work).
    "dd14_semantic_dedup" -> ((s, d) => {
      val all = Tables.embeddings(s, d).select("vec_id", "embedding")
      val canon = all.groupBy("embedding").agg(min(col("vec_id")).as("rep"))
      val reps = canon.select(col("rep").as("vec_id"), col("embedding"))
      val assigned = VecIndex.assignCells(reps, hashSampledCentroids(reps))
        .select("vec_id", "cluster")
      val dropped = cellPairs(assigned, Seq("cluster"), reps)
        .groupBy(col("vec_b").as("vec_id")).agg(min(col("vec_a")).as("sem_dup_of"))
      all.join(canon, "embedding")
        .join(assigned.toDF("rep", "cluster"), "rep")
        .join(dropped.toDF("rep", "sem_dup_of"), Seq("rep"), "left")
        .select(col("vec_id"), col("cluster"),
          expr("CASE WHEN vec_id <> rep THEN rep ELSE sem_dup_of END").as("dup_of"),
          expr("CAST(CASE WHEN vec_id = rep AND sem_dup_of IS NULL THEN 1 ELSE 0 END AS INT)")
            .as("kept"))
        .orderBy("vec_id")
    }),

    // Vector hygiene pass embedding pipelines run before indexing:
    // L2 norm (codegen dot), max-abs scale, symmetric int8
    // quantization. floor(x + 0.5) instead of round() keeps the
    // half-case rule engine-independent; the quantized vector is
    // summarized (sum/min/max — exact int math) so the compare stays
    // scalar-typed. One narrow pass, no shuffle until the ORDER BY.
    "sim05_norm_quant" -> ((s, d) => {
      Tables.embeddings(s, d)
        .withColumn("norm", sqrt(expr("dot_product(embedding, embedding)")))
        .withColumn("qscale",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("qvec",
          // nullif guards the all-zero vector: null propagates to the
          // int summaries identically in both engines, where a NaN
          // would diverge (Spark casts NaN→0, DuckDB raises)
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / nullif(qscale, 0.0) * 127.0 + 0.5) AS INT))"))
        .select(col("vec_id"),
          round(col("norm"), 6).as("l2_norm"),
          round(col("qscale"), 6).as("q_scale"),
          expr("CAST(aggregate(qvec, 0, (a, x) -> a + x) AS BIGINT)").as("q_sum"),
          expr("CAST(array_min(qvec) AS INT)").as("q_min"),
          expr("CAST(array_max(qvec) AS INT)").as("q_max"))
        .orderBy("vec_id")
    }),

    // Product quantization + asymmetric-distance (ADC) search — the
    // memory-side of the ANN stack: every vector compresses to
    // M=4 codes of 3 bits (12 bits vs 256 float bytes, ~170×), and
    // queries scan CODES, not vectors. Dataflow:
    //   encode: corpus × K-codeword broadcast → M fused sq_dist
    //     kernels per row (codegen, no HOF lambda) → per-subspace
    //     argmin via min(struct(d2, code)) — a map-side-combinable
    //     aggregate, one exchange on vec_id;
    //   ADC: each query precomputes its M×K distance table (tiny,
    //     broadcast); candidate distance = M table lookups summed in
    //     fixed textual order (IEEE-deterministic) — the corpus-side
    //     scan touches only the 4-code tuples;
    //   top-k per query = TakeOrdered-shaped window, ties on adc
    //     break by neighbor_id.
    // At 100 TB this is the operator that makes exhaustive rerank
    // feasible: the code table is ~0.5 GB per billion vectors, and
    // the ADC scan composes with IVF cell pruning (sim04/sim06) the
    // same way FAISS IVFPQ does — probe cells first, ADC within.
    // Codebooks are Lloyd-TRAINED ([[pqTrainedCodebook]]); the
    // untrained first-PqK variant survives as [[pqAdc]]'s other mode
    // for sim12's trained-vs-seed recall evaluation.
    "sim07_pq_adc" -> ((s, d) => pqAdc(s, d, trained = true)),

    // Round 13: sim07 with the OPQ-lite rotation — the corpus
    // re-expressed in the variance-balanced permuted basis
    // ([[opqPermutation]]) before the subspace split, then the SAME
    // trained-codebook encode+ADC machinery. The permutation training
    // dataflow is oracle-replayed (sim21's discipline); recall lift
    // vs identity-layout sim07: SCALE_NOTES "Round-14: recall
    // instruments at statistical power". ADC output columns match
    // sim07's.
    "sim24_opq_adc" -> ((s, d) =>
      pqAdcOver(s, opqPermuted(s, d), trained = true)),

    // Reciprocal-rank fusion (sim25; round 14) — the hybrid-retrieval
    // combiner: two independent ANN lanes (sim04's IVF probe and
    // sim13's 4-probe LSH) each rank their candidates per query, and
    // the fused score is Σ 1/(RrfK + rank) over the lanes that
    // surfaced the candidate (Cormack/Clarke/Buettcher's RRF — score-
    // scale-free, so a cosine lane and a BM25 lane fuse identically;
    // the two-ANN-lane form here exercises the operator over the
    // tables this repo has). Lane ranks re-derive from each lane's
    // ROUNDED cosine output (desc, id asc) so both engines rank
    // identical keys; the fused double is 1/(int) + 1/(int) — the
    // same IEEE expression both sides, safe to rank raw. Scale shape:
    // the lanes are the already-cell/bucket-pruned plans (k rows per
    // query each), the fusion itself is a full-outer join of two
    // k-row-per-query frames plus one k-bounded window — fusion cost
    // is independent of corpus size by construction.
    "sim25_rrf_fusion" -> ((s, d) => rrfFused(s, d)),

    // Matryoshka progressive ANN (sim27; round 14) — the two-stage
    // serving shape truncation-robust (MRL-style) embeddings enable:
    // candidate generation scores only the first [[MatryoshkaPrefix]]
    // of [[Dims]] dims (a 4× cheaper scan; at scale the prefix slice
    // is stored as its own column/file so the candidate pass READS
    // 4× less, not just computes less), then an exact full-dim
    // re-rank over the [[MatryoshkaCand]] survivors. The same
    // funnel-retrieval shape as sim07's ADC→exact and sim04's
    // cell→exact — a third, orthogonal cost lever (dimension
    // truncation) that composes with both: an IVF cell probe can
    // score prefixes inside the cell. Both stages rank on raw
    // bit-identical cosines (slice folds left like the full fold —
    // dotSql's seed argument applies at any length).
    "sim27_matryoshka_ann" -> ((s, d) => matryoshkaAnn(s, d)),

    // Matryoshka served from the persisted-prefix layout (sim28;
    // round 15) — sim27's funnel with the byte gap closed: the
    // corpus-wide candidate pass scans a table whose 16-dim prefix
    // is its own parquet column, column-pruned to (vec_id, pfx) —
    // ~4× fewer vector bytes on the pass that touches every row —
    // and the exact re-rank joins the C-bounded survivors back to
    // the full-vector column. Decisions identical to sim27's by
    // construction (the prefix column IS the materialized slice),
    // so it shares sim27's oracle. See VecIndex.matProbe.
    "sim28_matryoshka_served" -> ((s, d) =>
      VecIndex.matProbe(s, d, VecIndex.ensureMatPersisted(s, d))),

    // Hybrid text+vector search (sim26; round 14) — sim25's RRF over
    // the two MODALITIES a production hybrid retriever actually
    // fuses: the BM25 lexical lane (tx15's ranked lists, rank = its
    // rk output) and the IVF vector lane, joined on the shared item
    // id domain (doc_id ↔ vec_id — the synthetic corpus keys
    // documents and their embeddings identically, the usual
    // embeddings-of-the-corpus layout). Text queries 0–3 carry both
    // lanes; vector query 4 has no lexical workload and fuses as
    // vector-only — RRF's missing-lane zero handles the asymmetry,
    // which is exactly why hybrid stores use RRF instead of score
    // mixing (cosine and BM25 share no scale). Same
    // corpus-independence argument as sim25: both lanes arrive
    // k-row-per-query.
    "sim26_hybrid_search" -> ((s, d) =>
      fuseHybridLanes(
        TextAnalysis.queries("tx15_bm25_topk")(s, d), ivfAnn(s, d))),

    // Fully-served hybrid search (sim29; round 15) — sim26 with BOTH
    // lanes on persisted indexes: the lexical ranks come from the
    // BM25 postings index probe (tx16 — bucket-pruned matched
    // postings, no raw-text scan) and the vector ranks from the IVF
    // cell-table probe (sim14 — no corpus re-assignment pass). This
    // is the batch twin of st18's serving split, now with the
    // lexical index durable instead of session-memoized: a serving
    // tier pays two index probes plus the k-bounded fusion join, and
    // NOTHING corpus-sized rebuilds per query batch. Decisions
    // DEFINED identical to sim26 (tx16 ≡ tx15's rows, sim14 ≡
    // sim04's), shared oracle.
    "sim29_hybrid_served" -> ((s, d) =>
      fuseHybridLanes(
        LexIndex.probe(s, d, LexIndex.ensurePersisted(s, d)),
        VecIndex.probe(s, d, VecIndex.ensurePersisted(s, d)))),

    // Diversified top-k selection (ds12; round 14) — the
    // data-selection counterpart of MMR, housed with the retrieval
    // kernels it composes: per query, candidates are scored exactly
    // (sim01's broadcast pass), assigned to their nearest coarse cell
    // (sim04's quantizer), and the final top-k is taken AFTER a
    // per-(query, cell) quota of [[DiverseQuota]] — so no semantic
    // cluster can monopolize the selected set. This is the
    // scale-honest form of diversification: MMR's greedy loop is
    // inherently sequential (each pick re-scores all remaining
    // candidates against the growing selected set — a k-step serial
    // dependency no cluster parallelizes), while the cluster-quota
    // form is two bounded windows — the quota window partitions by
    // (query, cell) and the final one sees ≤ cells × quota rows per
    // query. Used for diverse few-shot example selection and
    // dedup-aware eval-set construction.
    "ds12_diverse_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select("vec_id", "embedding")
      val scored = VecIndex.assignCells(e, VecIndex.centroids(s, d))
        .join(broadcast(queryBatch(e, KnnQueries)), col("vec_id") =!= col("query_id"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      val wq = Window.partitionBy("query_id", "cluster")
        .orderBy(col("cos").desc, col("vec_id").asc)
      val wf = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("vec_id").asc)
      scored.withColumn("qrn", row_number().over(wq))
        .filter(col("qrn") <= DiverseQuota)
        .withColumn("rk", row_number().over(wf))
        .filter(col("rk") <= KnnK)
        .select(col("query_id"), col("rk").cast("int").as("rk"),
          col("vec_id").as("neighbor_id"), col("cluster"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "rk")
    }),

    // Radius (range) search — the other half of the similarity API:
    // not "k nearest" but "ALL neighbors with cosine ≥ τ" (the query
    // shape dedup thresholding and contrastive-pair mining actually
    // issue). Exact form: broadcast query set, one narrow codegen
    // pass over the corpus, filter — no shuffle at all until the
    // final ORDER BY, and no window (k-NN's rank is the part that
    // needs per-query state; radius search is embarrassingly
    // parallel). At 100 TB the same τ-filter composes with the IVF
    // cell pruning of sim04/sim06 exactly as dd06/dd08 do for the
    // pairwise variant: probe cells whose centroid cosine can still
    // clear τ, then run this exact pass within.
    "sim08_range_search" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      e.select(col("vec_id").as("neighbor_id"), col("embedding").as("te"))
        .join(broadcast(queryBatch(e, KnnQueries)), col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", expr("cosine_sim(qe, te)"))
        .filter(col("cos") >= RangeTau)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cosine"))
        .orderBy("query_id", "neighbor_id")
    }),

    // Corpus covariance of the embedding space (upper triangle +
    // diagonal) — the statistics behind whitening / OPQ rotation /
    // Mahalanobis scoring, and the moment computation every vector
    // pipeline eventually needs. Production shape (round 5): ONE
    // custom TypedImperativeAggregate ([[graft.functions
    // .MomentPartials]]) folds each row's D(D+1)/2 products straight
    // into a per-partition array of exact DECIMAL(28,12) sums —
    // zero row inflation, one shuffle of partition-count buffers
    // (~16 KB each), and bit-identical to the old explode-then-
    // hash-aggregate plan because decimal addition is associative
    // (the explode form survives as [[covarianceExplode]], equality
    // spec-asserted per round). The one-row moment result then
    // explodes into D² tiny rows for the final assembly — broadcast
    // joins over frames of at most 2,080 rows. At 100 TB: input pass
    // is linear and combinable, aggregation state is D²-bounded —
    // the textbook mergeable moment sketch, now without paying a
    // 2,080× generate into the scan.
    "sim09_covariance" -> ((s, d) => {
      val agg = Tables.embeddings(s, d)
        .agg(expr("moment_partials(embedding)").as("m"), count(lit(1)).as("n"))
      val sums = agg.select(posexplode(col("m.sx")).as(Seq("i", "sx")))
      val prods = agg.select(col("n"), posexplode(col("m.sxy")).as(Seq("pos", "sxy")))
      // row-major (i, j ≥ i) slot order, mirrored from the aggregate
      val mapping = s.range(1).select(posexplode(expr(
          s"""flatten(transform(sequence(0, ${Dims - 1}),
             |  i -> transform(sequence(i, ${Dims - 1}),
             |    j -> struct(i AS i, j AS j))))""".stripMargin))
          .as(Seq("pos", "t")))
        .select(col("pos"), col("t.i").as("i"), col("t.j").as("j"))
      prods.join(broadcast(mapping), "pos")
        .join(broadcast(sums.toDF("i", "sxi")), "i")
        .join(broadcast(sums.toDF("j", "sxj")), "j")
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          round(col("sxy").cast("double") / col("n").cast("double") -
            (col("sxi").cast("double") / col("n").cast("double")) *
              (col("sxj").cast("double") / col("n").cast("double")), 6).as("cov"))
        .orderBy("i", "j")
    }),

    // Diagonal-Mahalanobis outlier scoring — sim09's moments put to
    // work: each vector scored by Σ (xᵢ-μᵢ)²/σᵢ² against the corpus
    // per-dimension mean/variance (the whitened distance under a
    // diagonal covariance; the full-matrix form needs a linear solve,
    // which is a driver/BLAS job, not a dataflow). Production shape
    // (round 5): moments come from the diag-mode
    // [[graft.functions.MomentPartials]] aggregate (one pass, 2D
    // decimal sums, no posexplode), broadcast as ONE row of μ/σ²
    // arrays; scoring is a per-row decimal left fold over the 64
    // dims (`aggregate` HOF) — no 64× row inflation and NO shuffle
    // at all until the final top-20 TakeOrdered, vs the old plan's
    // 64×-row hash aggregate over every vec_id. Decimal addends keep
    // the fold grouping-order-immune, so the result is bit-identical
    // to the old explode plan ([[mahalanobisExplode]], equality
    // spec-asserted). A constant dimension (σ²=0) contributes 0 by
    // definition on both sides — never a 0/0. This is the standard
    // embedding-space anomaly gate (corrupt vectors, wrong-model
    // embeddings, adversarial inputs).
    "sim10_mahalanobis" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val mom = emb
        .agg(expr("dim_moments(embedding)").as("m"), count(lit(1)).as("n"))
        .select(
          expr("transform(m.sx, s -> CAST(s AS DOUBLE) / CAST(n AS DOUBLE))")
            .as("mu"),
          expr(s"""transform(sequence(0, ${Dims - 1}), i ->
               |  CAST(m.sxx[i] AS DOUBLE) / CAST(n AS DOUBLE)
               |  - (CAST(m.sx[i] AS DOUBLE) / CAST(n AS DOUBLE))
               |    * (CAST(m.sx[i] AS DOUBLE) / CAST(n AS DOUBLE)))""".stripMargin)
            .as("v"))
      // The scoring fold carries the UNSCALED value of the scale-10
      // decimal sum as a BIGINT (SQL decimal addition always promotes
      // precision — DECIMAL(38,10)+DECIMAL(28,10) → DECIMAL(38,9),
      // losing the last digit — so integer addition of unscaled
      // values is the only exact fold). It runs as the fused codegen
      // [[graft.functions.MahalScore]] kernel: one generated loop per
      // row, no interpreted HOF lambda (measured 384M lambda evals at
      // 100× before), bit-identical to the explode plan
      // (MomentAggSpec) and to the equivalent SQL fold.
      emb.crossJoin(broadcast(mom))
        .select(col("vec_id"),
          expr("mahal_score(embedding, mu, v)").as("m"))
        .select(col("vec_id"), round(col("m"), 6).as("mahalanobis"))
        .orderBy(col("mahalanobis").desc, col("vec_id").asc)
        .limit(MahalTopK)
    }),

    // ANN quality, measured AS a dataflow — the evaluation loop every
    // ANN deployment needs: per query, what fraction of the IVF
    // index's returned answers (sim04, top-LshK) are in the
    // brute-force ground truth (sim01, top-KnnK). True precision:
    // the denominator is the ACTUAL returned count (a query whose
    // probed cells hold fewer than LshK members is not penalized for
    // the short list), and the query spine comes from the query-set
    // definition itself, so a query with NO candidates reports
    // (0, 0, null) instead of vanishing. Composes the two existing
    // catalog frames with one key-join + count; at 100 TB this runs
    // over a SAMPLED query set (ground truth is the O(n) brute pass,
    // the expensive side) on a schedule, and the precision column is
    // the nprobe tuning signal for sim04's knob table.
    "sim11_ann_recall" -> ((s, d) => {
      val bf = queries("sim01_knn")(s, d).select("query_id", "neighbor_id")
      val iv = queries("sim04_ivf_ann")(s, d)
        .select(col("query_id"), col("neighbor_id"))
      val spine = Tables.embeddings(s, d)
        .filter(col("vec_id") < KnnQueries)
        .select(col("vec_id").as("query_id"))
      // both sides are workload-bounded (|queries| × k rows) at ANY
      // corpus scale — broadcast the ground truth and the per-query
      // aggregate so the eval costs zero exchanges of either list
      // (round 17: size misestimates after the ANN windows made the
      // planner sort-merge these)
      val perQuery = iv
        .join(broadcast(bf.withColumn("hit", lit(1L))),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_ret"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
      spine.join(broadcast(perQuery), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_ret"), lit(0L)).as("n_ret"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(col("n_hit").cast("double") / col("n_ret").cast("double"), 6)
            .as("precision"))
        .orderBy("query_id")
    }),

    // Does PQ training pay? — the evaluation that justifies sim07's
    // Lloyd iterations AS a measured dataflow: per query, how many of
    // the ADC top-K (trained codebook vs the first-PqK seed) land in
    // the exact-kNN ground truth (sim01). Same spine/count shape as
    // sim11; both PQ variants and the ground truth are full dataflow
    // relations, so the comparison itself is oracle-hash-checked. At
    // 100 TB this runs on a sampled query set next to sim11 — the
    // retrain/no-retrain decision signal for the index build.
    "sim12_pq_train_eval" -> ((s, d) =>
      laneHits(s, d, "n_hit_seed" -> pqAdc(s, d, trained = false),
        "n_hit_trained" -> pqAdc(s, d, trained = true))),

    // Does multi-probe pay? — the sim11-shaped evaluation for the
    // round-7 probe knobs: per query, ground-truth hits of the LSH
    // path at 1 vs [[LshMultiProbes]] probed buckets, and of the
    // two-level IVF path at 1 vs [[Ivf2L1Probes]] probed L1 cells.
    // All four index variants and the ground truth are full dataflow
    // relations, so the recall-lift claim itself is oracle-hash-
    // checked. At 100 TB this runs on a sampled query set next to
    // sim11 — the probe-count tuning signal: probe cost scales
    // linearly, and this table says what recall each step buys.
    "sim13_multiprobe_recall" -> ((s, d) =>
      laneHits(s, d, "lsh_hits_p1" -> lshAnn(s, d, 1),
        "lsh_hits_mp" -> lshAnn(s, d, LshMultiProbes),
        "ivf2_hits_p1" -> ivf2Ann(s, d, 1),
        "ivf2_hits_mp" -> ivf2Ann(s, d, Ivf2L1Probes))),

    // sim04's decisions served from the PERSISTED IVF cell table
    // (ops/VecIndex): the corpus × centroids assignment pass — the
    // index build — runs once per (session, dir) and lands as a
    // cluster-bucketed parquet table; every probe then reads it with
    // no re-scoring pass and no corpus-side movement (the query
    // batch broadcasts). Decisions are DEFINED identical to sim04's,
    // so the oracle is the same SQL — the ANN analog of dd15.
    "sim14_ivf_index_probe" -> ((s, d) =>
      VecIndex.probe(s, d, VecIndex.ensurePersisted(s, d))),

    // Round 12: metadata-predicated ANN — top-k among corpus vectors
    // sharing the query's label, post-filtered inside the probed
    // cells before the re-rank (see VecIndex.filteredProbe for the
    // covering-index scale argument).
    "sim22_filtered_ann" -> ((s, d) =>
      VecIndex.filteredProbe(s, d, VecIndex.ensurePersisted(s, d))),

    // Round 13: sim22 served from the COVERING index — the label
    // colocated in the cell row (VecIndex.persistCovering), so the
    // serving path loses its (vec_id, label) dim join: one
    // corpus-sized scan total. Decisions are DEFINED identical to
    // sim22's, so the entry shares its oracle. Round 14: this IS the
    // declared default serving lane (VecIndex.filteredServing); the
    // dim-join sim22 stays as the back-compat/oracle lane.
    "sim23_covering_filtered_ann" -> ((s, d) => VecIndex.filteredServing(s, d)),

    // Round 11: the vector index's day-N lifecycle, mirroring the
    // band index's dd16/dd17/dd18 verbs (VERDICT r10 item 2). Each
    // runs a FULL fresh cycle per invocation (honest bench timing,
    // per-phase wall times in the artifact's "phases" map).
    //
    // sim15 = build on 3/4 of the corpus, append the rest, probe:
    // the final index equals the full build (same centroids, same
    // per-vector argmax), so the oracle is sim04's — a divergence
    // means append broke the bucket layout or the assignment.
    "sim15_vec_index_append" -> ((s, d) =>
      VecIndex.appendCycle(s, d, "sim15")),

    // sim16 = sim15 with the append in 3 day-slices (file growth)
    // and a per-bucket compaction rewrite before the probe.
    "sim16_vec_index_compact" -> ((s, d) =>
      VecIndex.compactCycle(s, d, "sim16")),

    // sim17 = retention: probe (phase 0), retire exactly the
    // neighbors phase 0 returned, re-probe (phase 1) — every query's
    // top-k must re-fill from surviving cell members, and the oracle
    // replays phase 1 against a corpus that never held them.
    "sim17_vec_retention" -> ((s, d) =>
      VecIndex.retentionCycle(s, d, "sim17")),

    // sim30 (round 17) = sim16's growth regime maintained by the
    // BOUNDED size-tiered fold (the third family through IndexCore's
    // fold commit): three stamped micro-batches, one fold, a
    // replay-after-fold asserted a no-op (the log's batch fence keeps
    // maintenance exactly-once through folds), probe
    // through the visibility filter. Final index = full corpus, so
    // the oracle is sim04's.
    "sim30_vec_tiered_merge" -> ((s, d) =>
      VecIndex.tieredCycle(s, d, "sim30")),

    // sim18 = the IVF-PQ SERVING index (VecIndex.pqPersist/pqProbe):
    // cells persist (cluster, vec_id, PQ codes) — 256-byte raw
    // vectors become M small ints, and the probe's read path is code
    // cells + the broadcast codebook's ADC lookup table; the corpus'
    // raw embeddings never appear in the probe plan (VecIndexSpec).
    // Decisions = sim07's trained-codebook ADC restricted to the
    // query's probed IVF cells; the oracle composes sim04's cell
    // CTEs with sim07's codebook/encode/ADC CTEs end to end.
    "sim18_ivfpq_probe" -> ((s, d) =>
      VecIndex.pqProbe(s, d, VecIndex.ensurePqPersisted(s, d))),

    // sim19 = the SERVING index's day-N lifecycle (round 12, closing
    // the asymmetry sim18 shipped with): build a fresh generation on
    // 3/4 of the corpus (codebook trained on the generation's full
    // reference sample — immutable thereafter, see VecIndex's
    // codebook-generation contract), append the remaining 1/4 in 3
    // day-slices encoded against the PERSISTED codebook, compact to
    // one file per bucket, serve. Final code cells are DEFINED
    // identical to sim18's full build, so the entry shares its
    // composed end-to-end oracle.
    "sim19_pq_lifecycle" -> ((s, d) =>
      VecIndex.pqLifecycleCycle(s, d, "sim19")),

    // sim20 = sim17's retention made BOUNDED-COST (round 12): the
    // retire is a tombstone append (O(retired) — the corpus-sized
    // cell files are untouched), phase 1 probes through the broadcast
    // anti-join mask, a compaction purges the tombstoned rows, phase
    // 2 re-probes the purged files. Phases 1 and 2 both equal sim17's
    // eager-retire phase 1, so the oracle emits it twice.
    "sim20_tombstone_retention" -> ((s, d) =>
      VecIndex.tombstoneRetentionCycle(s, d, "sim20")),

    // dq07 = the codebook-generation lifecycle's TRIGGER (round 12):
    // per-IVF-cell occupancy of the indexed corpus (the 3/4 slice the
    // lifecycle fixtures build generations from) vs a new batch's
    // (the 1/4 slice), Laplace-smoothed, with the per-cell KL
    // contribution and a summary row carrying the total divergence
    // and the retrain decision against KlRetrainThreshold. Cell
    // distances cost one batch × broadcast-centroids pass — the
    // assignment the append was computing anyway, so the monitor is
    // free at ingest time. The KL total sums 6-dp-rounded terms
    // decimal-exactly (the dsum convention), so the decision is
    // bit-reproducible under any partitioning and in the oracle.
    "dq07_cell_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.{log => ln, pmod, sum, when}
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val assigned = VecIndex.assignCells(
        Tables.embeddings(s, d).select("vec_id", "embedding"), VecIndex.centroids(s, d))
      // the batch boundary: a dense-id modulo (oracle-expressible —
      // the hash split the lifecycle fixtures use has no DuckDB
      // mirror; vec_ids are dense so the quarter is the same size)
      val isNew = pmod(col("vec_id"), lit(4)) === lit(0)
      val counts = assigned.groupBy("cluster").agg(
        sum(when(!isNew, 1L).otherwise(0L)).as("old_n"),
        sum(when(isNew, 1L).otherwise(0L)).as("new_n"))
      val k = lit(IvfCentroids.toDouble)
      val w = Window.partitionBy() // bounded: ≤ IvfCentroids grouped rows
      val terms = counts
        .withColumn("p", (col("old_n") + lit(1L)).cast(DoubleType) /
          (sum(col("old_n")).over(w) + k).cast(DoubleType))
        .withColumn("q", (col("new_n") + lit(1L)).cast(DoubleType) /
          (sum(col("new_n")).over(w) + k).cast(DoubleType))
        .withColumn("kl_term", round(col("q") * ln(col("q") / col("p")), 6))
      val perCell = terms.select(col("cluster"), col("old_n"), col("new_n"),
        col("kl_term"),
        lit(null).cast(DoubleType).as("kl_total"),
        lit(null).cast("boolean").as("retrain"))
      val summary = terms.agg(
        sum(col("old_n")).as("old_n"), sum(col("new_n")).as("new_n"),
        sum(col("kl_term").cast(DecimalType(18, 6))).cast(DoubleType).as("kl_total"))
        .select(lit(-1L).as("cluster"), col("old_n"), col("new_n"),
          lit(null).cast(DoubleType).as("kl_term"), col("kl_total"),
          (col("kl_total") > lit(KlRetrainThreshold)).as("retrain"))
      perCell.unionByName(summary).orderBy("cluster")
    }),

    // sim21 = sim04's IVF ANN with a Lloyd-TRAINED coarse quantizer
    // (round 12): centroids start from the first-K seed and take
    // IvfTrainIters bounded spherical-k-means iterations — the same
    // training discipline the PQ codebooks already get. The training
    // dataflow itself is oracle-mirrored (assignment rank, decimal-
    // exact means, empty-cell retention), so the gate hashes the
    // TRAINING, not just the search. Recall lift vs the seed
    // quantizer: SCALE_NOTES "Round-12: trained coarse quantizer".
    "sim21_trained_ivf" -> ((s, d) =>
      VecIndex.transientProbe(s, d, Tables.embeddings(s, d).select("vec_id", "embedding"),
        ivfTrainedCentroids(s, d), KnnQueries, LshK))
  )

  /** Lloyd-trained coarse quantizer (round 12, VERDICT r11 item 5):
    * the IVF centroid set trained with the SAME bounded-iteration
    * discipline the PQ codebooks get, instead of the first-K seed
    * convention sim04/VecIndex use. Spherical-k-means shape:
    * assignment ranks by (cosine DESC, cent_id ASC) — a total order,
    * no engine-left ties; update is the decimal-exact per-dim mean
    * (Tables.dsum scale 8, the sim03 convention — means are NOT
    * re-normalized, deterministic and oracle-mirrorable); an empty
    * cell retains its previous centroid. Scale: each of the
    * [[IvfTrainIters]] iterations is one broadcast-join scan (n·K
    * fused codegen cosines) + one posexplode aggregate of n·Dims
    * rows — the same shapes sim04/sim03 already run; the centroid
    * frame is K rows, always broadcast-size. The SEED path stays the
    * oracle-parity lane for the index family (sim04/sim14); this
    * trained lane is itself oracle-mirrored end to end (sim21Sql). */
  private[graft] def ivfTrainedCentroids(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    var cents = e.filter(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cent_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce"))
      .localCheckpoint()
    (1 to IvfTrainIters).foreach { _ =>
      val means = VecIndex.assignCells(e, cents)
        .select(col("cluster").as("cent_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg((Tables.dsum(col("v").cast("double"), 8) / count(lit(1)).cast("double"))
          .as("mean"))
      val grouped = means.groupBy("cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mean))), t -> t.mean)")
          .as("ce_new"))
      cents = cents.join(grouped, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("ce_new"), col("ce")).as("ce"))
        .localCheckpoint()
    }
    cents
  }

  /** Per-dimension corpus variances as a Dims-row frame (dim 0-based,
    * var) — the sim10 decimal moment convention, shared by the
    * permutation build and OpqSpec's balance check. */
  private[graft] def dimVarianceFrame(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .agg(expr("dim_moments(embedding)").as("m"), count(lit(1)).as("n"))
      .select(expr(
        s"""transform(sequence(0, ${Dims - 1}), i ->
           |  CAST(m.sxx[i] AS DOUBLE) / CAST(n AS DOUBLE)
           |  - (CAST(m.sx[i] AS DOUBLE) / CAST(n AS DOUBLE))
           |    * (CAST(m.sx[i] AS DOUBLE) / CAST(n AS DOUBLE)))""".stripMargin)
        .as("v"))
      .select(posexplode(col("v")).as(Seq("dim", "var")))
  }

  /** (dim 0-based → var), collected — bounded at Dims rows. */
  private[graft] def dimVariances(s: SparkSession, d: String): Seq[(Int, Double)] =
    dimVarianceFrame(s, d).collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq

  /** OPQ-lite rotation for the PQ path (sim24; round-12 VERDICT item
    * 6): the OPQ paper's *eigenvalue-allocation* initialization,
    * computed on raw per-dimension variances — dimensions ranked by
    * variance descending and dealt to the [[PqM]] subspaces in a
    * snake draft, so every subspace receives an equal share of the
    * high-variance dims instead of whatever contiguous slice the raw
    * layout happened to put there. A PERMUTATION is an orthonormal
    * rotation this engine can replay in the DuckDB oracle move for
    * move (variance moments → rank → slot arithmetic), which a full
    * eigenbasis cannot (it needs an iterative eigensolver — a
    * driver/BLAS job, not a dataflow; sim09 already publishes the
    * full covariance for a driver-side OPQ if one is ever wanted).
    * Per-dim variances use the sim10 moment convention
    * (decimal-exact sums, bit-identical across engines), so the
    * rank order — and therefore the permutation — is deterministic
    * and oracle-shared. Returns (newpos, orig), both 0-based. */
  private[graft] def opqPermutation(s: SparkSession, d: String): DataFrame = {
    // 64 rows: the unpartitioned window is Dims-bounded, never corpus
    val cycle = 2 * PqM
    dimVarianceFrame(s, d)
      .withColumn("r", row_number().over(
        Window.orderBy(col("var").desc, col("dim").asc)))
      .withColumn("p", (col("r") - 1) % cycle)
      .withColumn("sub",
        when(col("p") < PqM, col("p")).otherwise(lit(cycle - 1) - col("p")))
      .withColumn("slot",
        ((col("r") - 1) / cycle).cast("int") * 2 +
          when(col("p") < PqM, 0).otherwise(1))
      .select((col("sub") * PqSubDims + col("slot")).as("newpos"),
        col("dim").as("orig"))
  }

  /** The corpus re-expressed in the OPQ-permuted basis: one narrow
    * gather per row against the broadcast 64-element permutation —
    * no shuffle, no extra scan; at 100 TB this fuses into whatever
    * pass consumes it. */
  private[graft] def opqPermuted(s: SparkSession, d: String): DataFrame = {
    val perm = opqPermutation(s, d)
      .groupBy()
      .agg(expr(
        "transform(array_sort(collect_list(struct(newpos, orig))), t -> t.orig)")
        .as("p"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("fe"))
      .crossJoin(broadcast(perm))
      .select(col("vec_id"),
        expr("transform(p, i -> CAST(fe[i] AS DOUBLE))").as("embedding"))
  }

  /** Per-subspace Lloyd-trained PQ codebook: [[PqTrainIters]]
    * deterministic iterations from the first-[[PqK]] seed. Returns
    * one row per code with the full-[[Dims]] `array<double>`
    * codeword (subspace codewords concatenated in m order), the
    * layout [[pqAdc]] slices. Assignment ranks by (sq_dist, code) —
    * a total order, no engine-left ties; update is the decimal-exact
    * per-dim mean (Tables.dsum scale 8, the sim03 convention); a
    * codeword that attracts no vectors RETAINS its previous value
    * (the standard empty-cluster rule, and the deterministic one).
    * Scale: each iteration is one broadcast-join scan (n·M·K fused
    * codegen distances) + one posexplode aggregate of n·SubDims rows
    * — the same shapes sim04/sim03 already run; the codebook frame
    * itself is M·K rows, always broadcast-size. */
  private[graft] def pqTrainedCodebook(s: SparkSession, d: String): DataFrame =
    pqTrainedCodebookOver(s,
      Tables.embeddings(s, d).select("vec_id", "embedding"))

  /** [[pqTrainedCodebook]] over an arbitrary (vec_id, embedding)
    * frame — float or double elements (`sq_dist` fuses either); the
    * OPQ path (sim24) trains over the permuted-space frame. */
  private[graft] def pqTrainedCodebookOver(s: SparkSession,
      e: DataFrame): DataFrame = {
    val subExpr = s"""transform(sequence(0, ${PqM - 1}), m -> struct(m AS m,
                     |  transform(slice(embedding, m * $PqSubDims + 1, $PqSubDims),
                     |    x -> CAST(x AS DOUBLE)) AS sv))""".stripMargin
    var cb = e.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("code"), explode(expr(subExpr)).as("t"))
      .select(col("t.m").as("m"), col("code"), col("t.sv").as("cw"))
      .localCheckpoint()
    val subs = e
      .select(col("vec_id"), explode(expr(subExpr)).as("t"))
      .select(col("vec_id"), col("t.m").as("m"), col("t.sv").as("sv"))
    (1 to PqTrainIters).foreach { _ =>
      val assigned = subs.join(broadcast(cb), "m")
        .withColumn("d2", expr("sq_dist(sv, cw)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id", "m").orderBy(col("d2").asc, col("code").asc)))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("code"))
      val means = assigned.join(e, "vec_id")
        .select(col("m"), col("code"),
          posexplode(expr(s"slice(embedding, m * $PqSubDims + 1, $PqSubDims)"))
            .as(Seq("pos", "v")))
        .groupBy("m", "code", "pos")
        .agg((Tables.dsum(col("v").cast("double"), 8) /
          count(lit(1)).cast("double")).as("mean"))
      val grouped = means.groupBy("m", "code")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mean))), t -> t.mean)")
          .as("cw_new"))
      cb = cb.join(grouped, Seq("m", "code"), "left")
        .select(col("m"), col("code"),
          coalesce(col("cw_new"), col("cw")).as("cw"))
        .localCheckpoint()
    }
    cb.groupBy("code")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(m, cw))), t -> t.cw))")
        .as("cw"))
  }

  /** PQ encode + ADC search over either codebook mode: `trained` —
    * [[pqTrainedCodebook]]'s Lloyd codewords (`array<double>`);
    * untrained — the raw first-[[PqK]] vectors (`array<float>`).
    * `sq_dist` fuses either element type into the same left fold, so
    * both modes share every downstream stage and their oracle SQL
    * differs only in the codebook CTE. */
  private[graft] def pqAdc(s: SparkSession, d: String, trained: Boolean,
      nQ: Long = KnnQueries, k: Int = KnnK): DataFrame =
    pqAdcOver(s, Tables.embeddings(s, d).select("vec_id", "embedding"), trained,
      nQ, k)

  /** [[pqAdc]] over an arbitrary (vec_id, embedding) frame — the OPQ
    * path (sim24) serves from the permuted-space frame; ADC distances
    * are computed wholly within that space, and since a permutation
    * is orthonormal, exact distances (and therefore the ground-truth
    * kNN) are invariant — only the SUBSPACE PARTITION moves, which is
    * exactly OPQ's lever. */
  private[graft] def pqAdcOver(s: SparkSession, e: DataFrame,
      trained: Boolean, nQ: Long = KnnQueries, k: Int = KnnK): DataFrame = {
    // broadcast hint inside pqEncode/adcTopK: the trained codebook
    // arrives from an aggregation whose size estimate is unknown to
    // the planner — without it the K-row frame plans as a BNLJ build
    val cb =
      if (trained) pqTrainedCodebookOver(s, e)
      else e.filter(col("vec_id") < PqK)
        .select(col("vec_id").as("code"), col("embedding").as("cw"))
    val q = queryBatch(e, nQ)
    VecIndex.adcTopK(VecIndex.pqEncode(e, cb).crossJoin(broadcast(q.select("query_id")))
        .filter(col("vec_id") =!= col("query_id")),
      q, cb, k, Nil)
  }

  /** Round-4 explode formulation of sim09, kept as the parity
    * cross-check for the [[graft.functions.MomentPartials]]
    * production path (spec-asserted bit-equal): one generate of the
    * D(D+1)/2 upper-triangle products per row into a hash aggregate
    * of DECIMAL(28,12) sums. Same addends, same exact sums — 2,080×
    * row inflation into the scan, which is why it is no longer the
    * catalog default. */
  private[graft] def covarianceExplode(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val e = Tables.embeddings(s, d).select(col("embedding"))
    val sums = e.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(sum(col("x").cast("double").cast(dec)).as("sx"))
    val prods = e.select(explode(expr(
        s"""flatten(transform(sequence(0, ${Dims - 1}),
           |  i -> transform(sequence(i, ${Dims - 1}),
           |    j -> struct(i AS i, j AS j,
           |      CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE) AS p))))""".stripMargin))
        .as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.p").as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast(dec)).as("sxy"), count(lit(1)).as("n"))
    prods
      .join(sums.toDF("i", "sxi"), "i")
      .join(sums.toDF("j", "sxj"), "j")
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        round(col("sxy").cast("double") / col("n").cast("double") -
          (col("sxi").cast("double") / col("n").cast("double")) *
            (col("sxj").cast("double") / col("n").cast("double")), 6).as("cov"))
      .orderBy("i", "j")
  }

  /** Round-4 explode formulation of sim10 — parity cross-check for
    * the dim_moments + per-row-fold production path above. */
  private[graft] def mahalanobisExplode(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .withColumn("x", col("xf").cast("double"))
    val mom = x.groupBy("i").agg(
        sum(col("x").cast(dec)).as("sx"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        count(lit(1)).as("n"))
      .select(col("i"),
        (col("sx").cast("double") / col("n").cast("double")).as("mu"),
        (col("sxx").cast("double") / col("n").cast("double") -
          (col("sx").cast("double") / col("n").cast("double")) *
            (col("sx").cast("double") / col("n").cast("double"))).as("v"))
    x.join(broadcast(mom), "i")
      .withColumn("term",
        expr("CASE WHEN v > 0 THEN (x - mu) * (x - mu) / v ELSE 0.0 END"))
      .groupBy("vec_id")
      .agg(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(28, 10)))
        .cast("double").as("m"))
      .select(col("vec_id"), round(col("m"), 6).as("mahalanobis"))
      .orderBy(col("mahalanobis").desc, col("vec_id").asc)
      .limit(MahalTopK)
  }

  /** Parameterized LSH-ANN oracle — mirrors [[lshAnn]] step for step
    * (projection pass, sign-bit buckets, lowest-|pdot| bit flips,
    * within-bucket exact re-rank). */
  private def lshSql(probes: Int): String = {
    val flipCtes =
      if (probes <= 1) ""
      else s""",
         |flips AS (
         |  SELECT query_id, p FROM (
         |    SELECT vec_id AS query_id, p,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY abs(pdot) ASC, p ASC) AS frn
         |    FROM proj WHERE vec_id < $KnnQueries) t
         |  WHERE frn <= ${probes - 1}
         |)""".stripMargin
    val probeRel =
      if (probes <= 1)
        s"""SELECT vec_id AS query_id, embedding AS qe, norm AS qn, bucket AS pbucket
           |  FROM eb WHERE vec_id < $KnnQueries""".stripMargin
      else
        s"""SELECT vec_id AS query_id, embedding AS qe, norm AS qn, bucket AS pbucket
           |  FROM eb WHERE vec_id < $KnnQueries
           |  UNION ALL
           |  SELECT q.vec_id, q.embedding, q.norm,
           |         xor(q.bucket, CAST((CAST(1 AS BIGINT) << f.p) AS BIGINT))
           |  FROM eb q JOIN flips f ON q.vec_id = f.query_id""".stripMargin
    s"""WITH $normedCte,
       |planes AS (
       |  ${planesRelation("[", "]")}
       |),
       |proj AS (
       |  SELECT vec_id, p, ${dotSql("embedding", "plane")} AS pdot FROM e, planes
       |),
       |buckets AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN pdot > 0.0
       |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id
       |),
       |eb AS (
       |  SELECT e.*, b.bucket FROM e JOIN buckets b USING (vec_id)
       |)$flipCtes,
       |pb AS (
       |  $probeRel
       |),
       |pairs AS (
       |  SELECT pb.query_id, t.vec_id AS neighbor_id, t.bucket,
       |         ${dotSql("pb.qe", "t.embedding")} / (pb.qn * t.norm) AS cos
       |  FROM pb JOIN eb t ON t.bucket = pb.pbucket AND t.vec_id <> pb.query_id
       |)
       |SELECT query_id, neighbor_id, bucket, round(cos, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM pairs) t
       |WHERE rn <= $LshK ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** Parameterized two-level-IVF oracle — mirrors [[ivf2Ann]]:
    * `l1probes = 1` keeps the legacy own-cell probes CTE, otherwise
    * queries rank ALL L1 cells and probe the nearest `l1probes`. */
  private def ivf2Sql(l1probes: Int): String = {
    val probesCte =
      if (l1probes <= 1)
        s"""probes AS (
           |  SELECT vec_id AS query_id, g, sub, embedding AS qe, norm AS qn
           |  FROM scored WHERE vec_id < $KnnQueries AND srn <= $IvfNProbe
           |)""".stripMargin
      else
        s"""qcells AS (
           |  SELECT query_id, g, qe, qn FROM (
           |    SELECT e.vec_id AS query_id, c.g, e.embedding AS qe, e.norm AS qn,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${dotSql("e.embedding", "c.g_ce")} / (e.norm * c.g_norm) DESC,
           |                      c.g ASC) AS grn
           |    FROM e, l1cents c WHERE e.vec_id < $KnnQueries) t
           |  WHERE grn <= $l1probes
           |),
           |probes AS (
           |  SELECT query_id, g, sub, qe, qn FROM (
           |    SELECT q.query_id, q.g, c.sub, q.qe, q.qn,
           |           row_number() OVER (PARTITION BY q.query_id, q.g
           |             ORDER BY ${dotSql("q.qe", "c.s_ce")} / (q.qn * c.s_norm) DESC,
           |                      c.sub ASC) AS srn2
           |    FROM qcells q JOIN l2cents c ON q.g = c.g) t
           |  WHERE srn2 <= $IvfNProbe
           |)""".stripMargin
    s"""WITH $normedCte,
       |sizes AS (
       |  SELECT CAST(ceil(sqrt(sqrt(count(*)))) AS BIGINT) AS c1 FROM embeddings
       |),
       |l1cents AS (
       |  SELECT vec_id AS g, embedding AS g_ce, norm AS g_norm
       |  FROM e, sizes WHERE vec_id < c1
       |),
       |l1 AS (
       |  SELECT vec_id, g, embedding, norm FROM (
       |    SELECT e.vec_id, c.g, e.embedding, e.norm,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${dotSql("e.embedding", "c.g_ce")} / (e.norm * c.g_norm) DESC,
       |                      c.g ASC) AS grn
       |    FROM e, l1cents c) t
       |  WHERE grn = 1
       |),
       |l2cents AS (
       |  SELECT g, vec_id AS sub, embedding AS s_ce, norm AS s_norm FROM (
       |    SELECT l1.*, row_number() OVER (PARTITION BY g ORDER BY vec_id ASC) AS srn
       |    FROM l1) t, sizes
       |  WHERE srn <= c1
       |),
       |scored AS (
       |  SELECT l1.vec_id, l1.g, c.sub, l1.embedding, l1.norm,
       |         row_number() OVER (PARTITION BY l1.vec_id
       |           ORDER BY ${dotSql("l1.embedding", "c.s_ce")} / (l1.norm * c.s_norm) DESC,
       |                    c.sub ASC) AS srn
       |  FROM l1 JOIN l2cents c ON l1.g = c.g
       |),
       |assigned AS (
       |  SELECT vec_id, g, sub, embedding, norm FROM scored WHERE srn = 1
       |),
       |$probesCte,
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, a.g AS l1_cell,
       |         a.sub AS l2_cell,
       |         ${dotSql("p.qe", "a.embedding")} / (p.qn * a.norm) AS cos
       |  FROM assigned a JOIN probes p ON a.g = p.g AND a.sub = p.sub
       |  WHERE a.vec_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, l1_cell, l2_cell, round(cos, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM pairs) t
       |WHERE rn <= $LshK ORDER BY query_id, neighbor_id""".stripMargin
  }

  private lazy val sim01Sql: String =
    s"""WITH $normedCte,
       |pairs AS (
       |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
       |         ${dotSql("q.embedding", "t.embedding")} / (q.norm * t.norm) AS cos
       |  FROM e q JOIN e t ON q.vec_id < $KnnQueries AND t.vec_id <> q.vec_id
       |)
       |SELECT query_id, neighbor_id, round(cos, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM pairs) t
       |WHERE rn <= $KnnK ORDER BY query_id, neighbor_id""".stripMargin

  /** sim04's full query with an injectable corpus-membership
    * predicate on the `assigned` CTE — `TRUE` is the plain sim04;
    * sim17's retention oracle filters the indexed corpus while
    * queries and centroids (raw-table frames) stay intact, exactly
    * mirroring what [[VecIndex.retire]] does to the cell table. */
  private[graft] def sim04SqlWhere(assignedPred: String): String =
    s"""WITH $normedCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
       |  FROM e WHERE vec_id < $IvfCentroids
       |),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
       |                    c.cent_id ASC) AS crn
       |  FROM e, cents c
       |),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cluster, embedding, norm
       |  FROM scored WHERE crn = 1 AND ($assignedPred)
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cluster, embedding AS qe, norm AS qn
       |  FROM scored WHERE vec_id < $KnnQueries AND crn <= $IvfNProbe
       |),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster,
       |         ${dotSql("p.qe", "a.embedding")} / (p.qn * a.norm) AS cos
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, cluster, round(cos, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM pairs) t
       |WHERE rn <= $LshK ORDER BY query_id, neighbor_id""".stripMargin

  private lazy val sim04Sql: String = sim04SqlWhere("TRUE")

  /** sim22's oracle: sim04's probe body with the label predicate
    * applied at pair formation — candidates must share the query's
    * label BEFORE the top-k window, exactly where the engine filters. */
  private lazy val sim22Sql: String =
    s"""WITH $normedCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
       |  FROM e WHERE vec_id < $IvfCentroids
       |),
       |scored AS (
       |  SELECT e.vec_id, e.label, e.embedding, e.norm, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
       |                    c.cent_id ASC) AS crn
       |  FROM e, cents c
       |),
       |assigned AS (
       |  SELECT vec_id, label, cent_id AS cluster, embedding, norm
       |  FROM scored WHERE crn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, label AS qlabel, cent_id AS cluster,
       |         embedding AS qe, norm AS qn
       |  FROM scored WHERE vec_id < $KnnQueries AND crn <= $IvfNProbe
       |),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster,
       |         ${dotSql("p.qe", "a.embedding")} / (p.qn * a.norm) AS cos
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.query_id AND a.label = p.qlabel
       |)
       |SELECT query_id, neighbor_id, cluster, round(cos, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM pairs) t
       |WHERE rn <= $LshK ORDER BY query_id, neighbor_id""".stripMargin

  /** sim21's oracle: the coarse-quantizer Lloyd training mirrored
    * iteration for iteration (assignment ranked by cosine with the
    * cent_id tiebreak; decimal-exact per-dim means; empty cells
    * retain the previous centroid via the LEFT JOIN coalesce), then
    * sim04's probe body over the trained centroid set. */
  private lazy val sim21Sql: String = {
    // dot between a raw float embedding and a trained double centroid
    def dotCe(a: String, ce: String): String =
      s"list_reduce(list_transform(generate_series(1, $Dims), " +
        s"i -> CAST($a[i] AS DOUBLE) * $ce[i]), (x, y) -> x + y)"
    val iters = (1 to IvfTrainIters).map { t =>
      val prev = s"tc${t - 1}"
      s"""tn$t AS (
         |  SELECT cent_id, ce,
         |         sqrt(list_reduce(list_transform(ce, x -> x * x), (x, y) -> x + y)) AS cnorm
         |  FROM $prev
         |),
         |ta$t AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT v.vec_id, c.cent_id,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${dotCe("v.embedding", "c.ce")} / (v.norm * c.cnorm) DESC,
         |                      c.cent_id ASC) AS rn
         |    FROM e v CROSS JOIN tn$t c
         |  ) WHERE rn = 1
         |),
         |tm$t AS (
         |  SELECT a.cent_id, t.i AS pos,
         |         CAST(sum(CAST(CAST(v.embedding[t.i] AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE)
         |           / CAST(count(*) AS DOUBLE) AS mean
         |  FROM ta$t a JOIN embeddings v USING (vec_id),
         |       generate_series(1, $Dims) AS t(i)
         |  GROUP BY a.cent_id, t.i
         |),
         |tg$t AS (SELECT cent_id, list(mean ORDER BY pos) AS ce FROM tm$t GROUP BY cent_id),
         |tc$t AS (
         |  SELECT c.cent_id, coalesce(g.ce, c.ce) AS ce
         |  FROM $prev c LEFT JOIN tg$t g USING (cent_id)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $normedCte,
       |tc0 AS (
       |  SELECT vec_id AS cent_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
       |  FROM embeddings WHERE vec_id < $IvfCentroids
       |),
       |$iters,
       |cents AS (
       |  SELECT cent_id, ce,
       |         sqrt(list_reduce(list_transform(ce, x -> x * x), (x, y) -> x + y)) AS cnorm
       |  FROM tc$IvfTrainIters
       |),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotCe("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
       |                    c.cent_id ASC) AS crn
       |  FROM e, cents c
       |),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cluster, embedding, norm FROM scored WHERE crn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cluster, embedding AS qe, norm AS qn
       |  FROM scored WHERE vec_id < $KnnQueries AND crn <= $IvfNProbe
       |),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster,
       |         ${dotSql("p.qe", "a.embedding")} / (p.qn * a.norm) AS cos
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, cluster, round(cos, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM pairs) t
       |WHERE rn <= $LshK ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** sim18's oracle: IVF cell selection (sim04's CTEs) composed with
    * the trained-codebook PQ encode + ADC (sim07's CTEs) — candidates
    * are the probed cells' members, scored by ADC table lookup,
    * top-[[KnnK]] per query by (adc, neighbor_id). */
  private lazy val sim18Sql: String = {
    val dCols = (0 until PqM)
      .map(m => s"${sqDistSql("v.embedding", "cb.cw", m)} AS d$m").mkString(",\n    ")
    val rCols = (0 until PqM)
      .map(m => s"row_number() OVER (PARTITION BY vec_id ORDER BY d$m, code) AS r$m")
      .mkString(",\n    ")
    val cCols = (0 until PqM)
      .map(m => s"max(CASE WHEN r$m = 1 THEN code END) AS c$m").mkString(",\n    ")
    val qdCols = (0 until PqM)
      .map(m => s"${sqDistSql("q.qe", "cb.cw", m)} AS qd$m").mkString(",\n    ")
    val tJoins = (1 until PqM)
      .map(m => s"JOIN qtab t$m ON t$m.query_id = p.query_id AND t$m.code = codes.c$m")
      .mkString("\n  ")
    val adcSum = (0 until PqM).map(m => s"t$m.qd$m").mkString(" + ")
    s"""WITH $normedCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
       |  FROM e WHERE vec_id < $IvfCentroids
       |),
       |ivf AS (
       |  SELECT e.vec_id, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
       |                    c.cent_id ASC) AS crn
       |  FROM e, cents c
       |),
       |assigned AS (SELECT vec_id, cent_id AS cluster FROM ivf WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cluster
       |  FROM ivf WHERE vec_id < $KnnQueries AND crn <= $IvfNProbe
       |),
       |${pqCodebookSql(trained = true)},
       |pqscored AS (
       |  SELECT v.vec_id, cb.code,
       |    $dCols
       |  FROM embeddings v CROSS JOIN cb
       |),
       |pqrn AS (
       |  SELECT vec_id, code,
       |    $rCols
       |  FROM pqscored
       |),
       |codes AS (
       |  SELECT vec_id,
       |    $cCols
       |  FROM pqrn GROUP BY vec_id
       |),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id < $KnnQueries
       |),
       |qtab AS (
       |  SELECT q.query_id, cb.code,
       |    $qdCols
       |  FROM q CROSS JOIN cb
       |),
       |j AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster,
       |         $adcSum AS adc
       |  FROM assigned a
       |  JOIN probes p USING (cluster)
       |  JOIN codes ON codes.vec_id = a.vec_id
       |  JOIN qtab t0 ON t0.query_id = p.query_id AND t0.code = codes.c0
       |  $tJoins
       |  WHERE a.vec_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, cluster, round(adc, 6) AS adc_dist
       |FROM (SELECT j.*,
       |        row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk
       |      FROM j) t
       |WHERE rk <= $KnnK
       |ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** sim17's two-phase retention oracle: phase 0 = sim04 on the full
    * corpus; phase 1 = sim04 with the indexed corpus filtered by
    * NOT IN (phase 0's distinct neighbors) — the exact set the engine
    * retires. Queries/centroids read the raw table in both engines,
    * so only the `assigned` membership changes. */
  private[graft] lazy val sim17Sql: String =
    s"""WITH p0 AS (SELECT * FROM ( ${sim04SqlWhere("TRUE")} ) t0),
       |p1 AS (SELECT * FROM (
       |  ${sim04SqlWhere("vec_id NOT IN (SELECT DISTINCT neighbor_id FROM p0)")}
       |) t1)
       |SELECT 0 AS phase, query_id, neighbor_id, cluster, cosine FROM p0
       |UNION ALL
       |SELECT 1 AS phase, query_id, neighbor_id, cluster, cosine FROM p1
       |ORDER BY phase, query_id, neighbor_id""".stripMargin

  /** sim20's three-phase retention oracle: sim17's two phases plus
    * the post-purge probe, which by definition re-emits phase 1. */
  private[graft] lazy val sim20Sql: String =
    s"""WITH p0 AS (SELECT * FROM ( ${sim04SqlWhere("TRUE")} ) t0),
       |p1 AS (SELECT * FROM (
       |  ${sim04SqlWhere("vec_id NOT IN (SELECT DISTINCT neighbor_id FROM p0)")}
       |) t1)
       |SELECT 0 AS phase, query_id, neighbor_id, cluster, cosine FROM p0
       |UNION ALL
       |SELECT 1 AS phase, query_id, neighbor_id, cluster, cosine FROM p1
       |UNION ALL
       |SELECT 2 AS phase, query_id, neighbor_id, cluster, cosine FROM p1
       |ORDER BY phase, query_id, neighbor_id""".stripMargin

  /** st14's oracle: the streaming drift monitor's per-window KL
    * decision, mirrored — seed-centroid assignment (sim04's CTEs),
    * reference occupancy from the non-quarter corpus slice, arrival
    * windows from the st09 synthetic-ts convention, and the KL total
    * as the same fixed fold of 6-dp-rounded DECIMAL(18,6) terms. */
  private[graft] lazy val st14Sql: String = {
    def p(c: Int) =
      s"(CAST(coalesce((SELECT cnt FROM pocc WHERE cluster = $c), 0) + 1 AS DOUBLE) " +
        s"/ (n_old + $IvfCentroids))"
    def q(c: Int) =
      s"(CAST(n$c + 1 AS DOUBLE) / (CAST(n_new AS DOUBLE) + ${IvfCentroids.toDouble}))"
    val fold = (0 until IvfCentroids).map(c =>
      s"CAST(round(${q(c)} * ln(${q(c)} / ${p(c)}), 6) AS DECIMAL(18,6))")
      .mkString(" + ")
    val nCols = (0 until IvfCentroids).map(c =>
      s"CAST(sum(CASE WHEN cluster = $c THEN 1 ELSE 0 END) AS BIGINT) AS n$c")
      .mkString(",\n         ")
    s"""WITH $normedCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
       |  FROM e WHERE vec_id < $IvfCentroids
       |),
       |scored AS (
       |  SELECT e.vec_id, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
       |                    c.cent_id ASC) AS crn
       |  FROM e, cents c
       |),
       |assigned AS (
       |  SELECT vec_id, cent_id AS cluster FROM scored WHERE crn = 1
       |),
       |pocc AS (
       |  SELECT cluster, count(*) AS cnt FROM assigned
       |  WHERE vec_id % 4 <> 0 GROUP BY cluster
       |),
       |ptot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_old FROM pocc),
       |wins AS (
       |  SELECT to_timestamp(CAST(floor(epoch(
       |           TIMESTAMP '2024-01-01 00:00:00' + vec_id * INTERVAL 1 SECOND
       |         ) / 600) AS BIGINT) * 600) AS wstart,
       |         cluster
       |  FROM assigned WHERE vec_id % 4 = 0
       |),
       |counts AS (
       |  SELECT wstart, CAST(count(*) AS BIGINT) AS n_new,
       |         $nCols
       |  FROM wins GROUP BY wstart
       |)
       |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, n_new,
       |       CAST($fold AS DOUBLE) AS kl_total,
       |       CAST($fold AS DOUBLE) > $KlRetrainThreshold AS retrain
       |FROM counts, ptot
       |ORDER BY window_start""".stripMargin
  }

  /** The hybrid-fusion tail sim26 and sim29 share VERBATIM (round-15
    * dedup: they differ only in lane sources — in-session tx15/ivfAnn
    * vs the persisted LexIndex/VecIndex probes — so the RRF
    * arithmetic, tie-breaks and rounding their shared oracle
    * hash-checks cannot diverge). `bmRanked` carries tx15's output
    * shape (query_id, rk, doc_id, …); `vecLane` carries the IVF
    * decision shape (query_id, neighbor_id, cluster, cosine). */
  private def fuseHybridLanes(bmRanked: DataFrame, vecLane: DataFrame): DataFrame =
    rrf(bmRanked.select(col("query_id").cast("bigint").as("query_id"),
        col("doc_id").as("item_id"), col("rk").as("ra")),
      laneRank(vecLane, "rb").withColumnRenamed("neighbor_id", "item_id"),
      "item_id", FusionTopK)

  /** sim26's hybrid-fusion oracle — shared verbatim by sim29 (the
    * doubly-persisted serving lane makes identical decisions). */
  private def sim26Sql: String =
    s"""WITH bm AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS item_id, rk AS ra
       |  FROM ( ${TextAnalysis.oracle("tx15_bm25_topk")} ) b
       |),
       |vr AS (
       |  SELECT query_id, neighbor_id AS item_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cosine DESC, neighbor_id ASC) AS rb
       |  FROM ( $sim04Sql ) v
       |),
       |fused AS (
       |  SELECT coalesce(bm.query_id, vr.query_id) AS query_id,
       |         coalesce(bm.item_id, vr.item_id) AS item_id,
       |         bm.ra AS ra, vr.rb AS rb,
       |         coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + bm.ra AS DOUBLE), 0.0)
       |           + coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + vr.rb AS DOUBLE), 0.0) AS rrf
       |  FROM bm FULL OUTER JOIN vr
       |    ON bm.query_id = vr.query_id AND bm.item_id = vr.item_id
       |)
       |SELECT query_id, CAST(rk AS INT) AS rk, item_id,
       |       CAST(ra AS INT) AS ra, CAST(rb AS INT) AS rb,
       |       round(rrf, 6) AS rrf FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY rrf DESC, item_id ASC) AS rk
       |  FROM fused) t
       |WHERE rk <= $FusionTopK ORDER BY query_id, rk""".stripMargin

  /** sim27's prefix-funnel oracle — shared verbatim by sim28 (the
    * persisted-prefix serving lane makes identical decisions). */
  private def sim27Sql: String = {
    val P = MatryoshkaPrefix
    def pnorm(c: String) = s"sqrt(${dotSqlN(c, c, P)})"
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < $KnnQueries
       |),
       |pairs AS (
       |  SELECT q.query_id, t.vec_id AS neighbor_id, q.qe, t.embedding AS te,
       |         ${dotSqlN("q.qe", "t.embedding", P)}
       |           / (${pnorm("q.qe")} * ${pnorm("t.embedding")}) AS pcos
       |  FROM e t JOIN q ON t.vec_id <> q.query_id
       |),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY pcos DESC, neighbor_id ASC) AS prn
       |    FROM pairs) t
       |  WHERE prn <= $MatryoshkaCand
       |),
       |rer AS (
       |  SELECT query_id, neighbor_id, pcos,
       |         ${dotSql("qe", "te")}
       |           / (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("te", "te")})) AS cos
       |  FROM cand
       |)
       |SELECT query_id, neighbor_id, round(pcos, 6) AS prefix_cosine,
       |       round(cos, 6) AS cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM rer) t
       |WHERE rn <= $KnnK ORDER BY query_id, neighbor_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "sim05_norm_quant" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |         sqrt(${dotSql("embedding", "embedding")}) AS norm,
         |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS qscale,
         |         embedding
         |  FROM embeddings
         |),
         |qq AS (
         |  SELECT vec_id, norm, qscale,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) / nullif(qscale, 0.0) * 127.0 + 0.5) AS INT)) AS qvec
         |  FROM q
         |)
         |SELECT vec_id, round(norm, 6) AS l2_norm, round(qscale, 6) AS q_scale,
         |       CAST(list_reduce(list_prepend(0, qvec), (a, b) -> a + b) AS BIGINT) AS q_sum,
         |       CAST(list_min(qvec) AS INT) AS q_min,
         |       CAST(list_max(qvec) AS INT) AS q_max
         |FROM qq ORDER BY vec_id""".stripMargin,

    "sim01_knn" -> sim01Sql,

    "sim08_range_search" ->
      s"""WITH $normedCte
         |SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
         |       round(${dotSql("q.embedding", "t.embedding")} / (q.norm * t.norm), 6) AS cosine
         |FROM e q JOIN e t ON q.vec_id < $KnnQueries AND t.vec_id <> q.vec_id
         |WHERE ${dotSql("q.embedding", "t.embedding")} / (q.norm * t.norm) >= $RangeTau
         |ORDER BY query_id, neighbor_id""".stripMargin,

    "sim02_lsh_ann" -> lshSql(1),

    "sim04_ivf_ann" -> sim04Sql,

    // sim14 = sim04 probed via the persisted cell table; decisions
    // defined identical, so a divergence means the persisted layout
    // changed the dataflow's semantics — what the gate must catch.
    "sim14_ivf_index_probe" -> sim04Sql,

    // sim22 = sim04's dataflow with the label predicate at pair
    // formation; served from the same persisted index, so a
    // divergence means the filter moved relative to the top-k.
    "sim22_filtered_ann" -> sim22Sql,

    // sim23 = sim22 served from the covering layout; decisions
    // defined identical, so the oracle is shared — a divergence
    // means the colocated label desynchronized from the dim table.
    "sim23_covering_filtered_ann" -> sim22Sql,

    // sim15/sim16 = sim04 served from an index grown by append (and
    // compacted, for sim16): the final index contents equal the full
    // build, so the oracle is unchanged — the lifecycle must be
    // invisible to the decisions.
    "sim15_vec_index_append" -> sim04Sql,
    "sim16_vec_index_compact" -> sim04Sql,
    // sim30 = sim16's growth maintained by the size-tiered fold; the
    // fold is a layout event over row-local cell rows, so the final
    // index again equals the full build — same SQL.
    "sim30_vec_tiered_merge" -> sim04Sql,

    // sim17 = the two-phase retention cycle (see sim17Sql).
    "sim17_vec_retention" -> sim17Sql,

    // sim20 = sim17 with tombstone-mask and physical-purge phases —
    // both must equal the eager retire (see sim20Sql).
    "sim20_tombstone_retention" -> sim20Sql,

    // sim21 = IVF ANN over the Lloyd-trained coarse quantizer; the
    // TRAINING dataflow is mirrored in the oracle (see sim21Sql).
    "sim21_trained_ivf" -> sim21Sql,

    // dq07 = the retrain trigger: smoothed per-cell KL contribution
    // of the new-quarter occupancy vs the indexed corpus's, summed
    // decimal-exactly over 6-dp-rounded terms, with the threshold
    // decision in the summary row.
    "dq07_cell_drift" ->
      s"""WITH $normedCte,
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
         |  FROM e WHERE vec_id < $IvfCentroids
         |),
         |scored AS (
         |  SELECT e.vec_id, c.cent_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
         |                    c.cent_id ASC) AS crn
         |  FROM e, cents c
         |),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cluster FROM scored WHERE crn = 1
         |),
         |counts AS (
         |  SELECT cluster,
         |         CAST(sum(CASE WHEN vec_id % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS old_n,
         |         CAST(sum(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS new_n
         |  FROM assigned GROUP BY cluster
         |),
         |terms AS (
         |  SELECT cluster, old_n, new_n,
         |         round(
         |           (CAST(new_n + 1 AS DOUBLE) / (CAST(sum(new_n) OVER () AS DOUBLE) + $IvfCentroids))
         |           * ln(
         |             (CAST(new_n + 1 AS DOUBLE) / (CAST(sum(new_n) OVER () AS DOUBLE) + $IvfCentroids))
         |             / (CAST(old_n + 1 AS DOUBLE) / (CAST(sum(old_n) OVER () AS DOUBLE) + $IvfCentroids))),
         |           6) AS kl_term
         |  FROM counts
         |)
         |SELECT cluster, old_n, new_n, kl_term,
         |       CAST(NULL AS DOUBLE) AS kl_total, CAST(NULL AS BOOLEAN) AS retrain
         |FROM terms
         |UNION ALL
         |SELECT -1 AS cluster, CAST(sum(old_n) AS BIGINT) AS old_n,
         |       CAST(sum(new_n) AS BIGINT) AS new_n,
         |       CAST(NULL AS DOUBLE) AS kl_term,
         |       CAST(sum(CAST(kl_term AS DECIMAL(18,6))) AS DOUBLE) AS kl_total,
         |       CAST(sum(CAST(kl_term AS DECIMAL(18,6))) AS DOUBLE) > $KlRetrainThreshold AS retrain
         |FROM terms
         |ORDER BY cluster""".stripMargin,

    // sim18 = IVF cell selection composed with trained-codebook
    // PQ-ADC (see sim18Sql) — the persisted code-cell layout must
    // reproduce the declarative composition end to end.
    "sim18_ivfpq_probe" -> sim18Sql,

    // sim19 = sim18 served from a generation grown by
    // persisted-codebook append + compact: final code cells equal the
    // full build, so the oracle is unchanged — the lifecycle must be
    // invisible to the ADC decisions.
    "sim19_pq_lifecycle" -> sim18Sql,

    "sim11_ann_recall" ->
      s"""WITH bf AS (
         |  SELECT query_id, neighbor_id FROM ( $sim01Sql ) t1
         |),
         |iv AS (
         |  SELECT query_id, neighbor_id FROM ( $sim04Sql ) t2
         |),
         |per_query AS (
         |  SELECT iv.query_id,
         |         count(*) AS n_ret,
         |         CAST(count(bf.neighbor_id) AS BIGINT) AS n_hit
         |  FROM iv LEFT JOIN bf
         |    ON iv.query_id = bf.query_id AND iv.neighbor_id = bf.neighbor_id
         |  GROUP BY iv.query_id
         |),
         |spine AS (
         |  SELECT vec_id AS query_id FROM embeddings WHERE vec_id < $KnnQueries
         |)
         |SELECT s.query_id,
         |       CAST(coalesce(n_ret, 0) AS BIGINT) AS n_ret,
         |       coalesce(n_hit, CAST(0 AS BIGINT)) AS n_hit,
         |       round(CAST(n_hit AS DOUBLE) / CAST(n_ret AS DOUBLE), 6) AS precision
         |FROM spine s LEFT JOIN per_query p ON p.query_id = s.query_id
         |ORDER BY s.query_id""".stripMargin,

    "sim06_ivf2_ann" -> ivf2Sql(1),

    "sim13_multiprobe_recall" ->
      s"""WITH bf AS (
         |  SELECT query_id, neighbor_id FROM ( $sim01Sql ) t1
         |),
         |lp1 AS (
         |  SELECT query_id, neighbor_id FROM ( ${lshSql(1)} ) t2
         |),
         |lmp AS (
         |  SELECT query_id, neighbor_id FROM ( ${lshSql(LshMultiProbes)} ) t3
         |),
         |ip1 AS (
         |  SELECT query_id, neighbor_id FROM ( ${ivf2Sql(1)} ) t4
         |),
         |imp AS (
         |  SELECT query_id, neighbor_id FROM ( ${ivf2Sql(Ivf2L1Probes)} ) t5
         |),
         |h1 AS (
         |  SELECT a.query_id, CAST(count(bf.neighbor_id) AS BIGINT) AS h FROM lp1 a
         |  LEFT JOIN bf ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id
         |  GROUP BY 1
         |),
         |h2 AS (
         |  SELECT a.query_id, CAST(count(bf.neighbor_id) AS BIGINT) AS h FROM lmp a
         |  LEFT JOIN bf ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id
         |  GROUP BY 1
         |),
         |h3 AS (
         |  SELECT a.query_id, CAST(count(bf.neighbor_id) AS BIGINT) AS h FROM ip1 a
         |  LEFT JOIN bf ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id
         |  GROUP BY 1
         |),
         |h4 AS (
         |  SELECT a.query_id, CAST(count(bf.neighbor_id) AS BIGINT) AS h FROM imp a
         |  LEFT JOIN bf ON bf.query_id = a.query_id AND bf.neighbor_id = a.neighbor_id
         |  GROUP BY 1
         |)
         |SELECT s.query_id,
         |       CAST(coalesce(h1.h, 0) AS BIGINT) AS lsh_hits_p1,
         |       CAST(coalesce(h2.h, 0) AS BIGINT) AS lsh_hits_mp,
         |       CAST(coalesce(h3.h, 0) AS BIGINT) AS ivf2_hits_p1,
         |       CAST(coalesce(h4.h, 0) AS BIGINT) AS ivf2_hits_mp
         |FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < $KnnQueries) s
         |LEFT JOIN h1 ON h1.query_id = s.query_id
         |LEFT JOIN h2 ON h2.query_id = s.query_id
         |LEFT JOIN h3 ON h3.query_id = s.query_id
         |LEFT JOIN h4 ON h4.query_id = s.query_id
         |ORDER BY s.query_id""".stripMargin,

    "dd06_cosine_dup" ->
      s"""WITH canon AS (
         |  SELECT min(vec_id) AS vec_id, embedding FROM embeddings GROUP BY embedding
         |),
         |e AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS norm
         |  FROM canon
         |),
         |nc AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS ncells FROM canon
         |),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
         |  FROM e, nc WHERE vec_id < ncells
         |),
         |scored AS (
         |  SELECT e.vec_id, c.cent_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
         |                    c.cent_id ASC) AS crn
         |  FROM e, cents c
         |),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cluster FROM scored WHERE crn <= $DupNProbe
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |)
         |SELECT vec_a, vec_b,
         |       round(${dotSql("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm), 6) AS cosine
         |FROM cand
         |JOIN e ea ON ea.vec_id = vec_a
         |JOIN e eb ON eb.vec_id = vec_b
         |WHERE ${dotSql("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) >= $DupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dd14_semantic_dedup" ->
      s"""WITH canon AS (
         |  SELECT min(vec_id) AS rep, embedding FROM embeddings GROUP BY embedding
         |),
         |e AS (
         |  SELECT rep AS vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS norm
         |  FROM canon
         |),
         |nc AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS ncells,
         |         count(*) AS n, min(rep) AS mid
         |  FROM canon
         |),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
         |  FROM e, nc
         |  WHERE ${Portable.phashSql("'ct|' || CAST(vec_id AS VARCHAR)")} % n < ncells
         |     OR vec_id = mid
         |),
         |scored AS (
         |  SELECT e.vec_id, c.cent_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
         |                    c.cent_id ASC) AS crn
         |  FROM e, cents c
         |),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cluster FROM scored WHERE crn = 1
         |),
         |dropped AS (
         |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS sem_dup_of
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE ${dotSql("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) >= $DupThreshold
         |  GROUP BY b.vec_id
         |)
         |SELECT x.vec_id, asg.cluster,
         |       CASE WHEN x.vec_id <> c.rep THEN c.rep ELSE dr.sem_dup_of END AS dup_of,
         |       CAST(CASE WHEN x.vec_id = c.rep AND dr.sem_dup_of IS NULL
         |            THEN 1 ELSE 0 END AS INT) AS kept
         |FROM embeddings x
         |JOIN canon c ON c.embedding = x.embedding
         |JOIN assigned asg ON asg.vec_id = c.rep
         |LEFT JOIN dropped dr ON dr.vec_id = c.rep
         |ORDER BY x.vec_id""".stripMargin,

    "dd08_cosine_dup2" ->
      s"""WITH canon AS (
         |  SELECT min(vec_id) AS vec_id, embedding FROM embeddings GROUP BY embedding
         |),
         |e AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS norm
         |  FROM canon
         |),
         |sizes AS (
         |  SELECT CAST(ceil(sqrt(sqrt(count(*)))) AS BIGINT) AS c1 FROM canon
         |),
         |l1cents AS (
         |  SELECT vec_id AS g, embedding AS g_ce, norm AS g_norm
         |  FROM e, sizes WHERE vec_id < c1
         |),
         |l1 AS (
         |  SELECT vec_id, g, embedding, norm FROM (
         |    SELECT e.vec_id, c.g, e.embedding, e.norm,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${dotSql("e.embedding", "c.g_ce")} / (e.norm * c.g_norm) DESC,
         |                      c.g ASC) AS grn
         |    FROM e, l1cents c) t
         |  WHERE grn = 1
         |),
         |l2cents AS (
         |  SELECT g, vec_id AS sub, embedding AS s_ce, norm AS s_norm FROM (
         |    SELECT l1.*, row_number() OVER (PARTITION BY g ORDER BY vec_id ASC) AS srn
         |    FROM l1) t, sizes
         |  WHERE srn <= c1
         |),
         |assigned AS (
         |  SELECT vec_id, g, sub FROM (
         |    SELECT l1.vec_id, l1.g, c.sub,
         |           row_number() OVER (PARTITION BY l1.vec_id
         |             ORDER BY ${dotSql("l1.embedding", "c.s_ce")} / (l1.norm * c.s_norm) DESC,
         |                      c.sub ASC) AS srn
         |    FROM l1 JOIN l2cents c ON l1.g = c.g) t
         |  WHERE srn <= $DupNProbe
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM assigned a JOIN assigned b
         |    ON a.g = b.g AND a.sub = b.sub AND a.vec_id < b.vec_id
         |)
         |SELECT vec_a, vec_b,
         |       round(${dotSql("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm), 6) AS cosine
         |FROM cand
         |JOIN e ea ON ea.vec_id = vec_a
         |JOIN e eb ON eb.vec_id = vec_b
         |WHERE ${dotSql("ea.embedding", "eb.embedding")} / (ea.norm * eb.norm) >= $DupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,

    "sim03_centroids" ->
      s"""SELECT label, i - 1 AS pos,
         |  CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS centroid
         |FROM embeddings, (SELECT unnest(generate_series(1, $Dims)) AS i) ii
         |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "sim07_pq_adc" -> pqAdcSql(trained = true),

    // sim24 = sim07's trained encode+ADC over the OPQ-permuted basis;
    // the permutation's variance/rank/slot training dataflow is part
    // of the replayed SQL, so the gate hashes the rotation itself.
    "sim24_opq_adc" ->
      pqAdcSql(trained = true, rel = "pemb", prelude = opqPreludeSql),

    // Both stages rank on raw cosines: the prefix cosine is the same
    // left fold over the first MatryoshkaPrefix elements in both
    // engines, the full cosine is sim01's kernel.
    "sim27_matryoshka_ann" -> sim27Sql,

    // sim28 serves sim27's decisions from the persisted-prefix
    // layout — same oracle, row for row (the Spark entry's note).
    "sim28_matryoshka_served" -> sim27Sql,

    // Lane ranks re-derive from the lanes' ROUNDED cosine outputs
    // (identical keys both engines); the fused score is int-rational
    // IEEE arithmetic — rankable raw (see the Spark entry's note).
    "sim25_rrf_fusion" ->
      s"""WITH la AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cosine DESC, neighbor_id ASC) AS ra
         |  FROM ( $sim04Sql ) a
         |),
         |lb AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cosine DESC, neighbor_id ASC) AS rb
         |  FROM ( ${lshSql(LshMultiProbes)} ) b
         |),
         |fused AS (
         |  SELECT coalesce(la.query_id, lb.query_id) AS query_id,
         |         coalesce(la.neighbor_id, lb.neighbor_id) AS neighbor_id,
         |         la.ra AS ra, lb.rb AS rb,
         |         coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + la.ra AS DOUBLE), 0.0)
         |           + coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + lb.rb AS DOUBLE), 0.0) AS rrf
         |  FROM la FULL OUTER JOIN lb
         |    ON la.query_id = lb.query_id AND la.neighbor_id = lb.neighbor_id
         |)
         |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
         |       CAST(ra AS INT) AS ra, CAST(rb AS INT) AS rb,
         |       round(rrf, 6) AS rrf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY rrf DESC, neighbor_id ASC) AS rk
         |  FROM fused) t
         |WHERE rk <= $FusionTopK ORDER BY query_id, rk""".stripMargin,

    // The BM25 lane's rank IS tx15's rk output (its CTE chain is
    // embedded verbatim); the vector lane re-ranks sim04's rounded
    // cosines — sim25's parity argument applies to both.
    "sim26_hybrid_search" -> sim26Sql,

    // sim29 serves sim26's decisions with BOTH lanes on persisted
    // indexes — same oracle, row for row (the Spark entry's note).
    "sim29_hybrid_served" -> sim26Sql,

    "ds12_diverse_topk" ->
      s"""WITH $normedCte,
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce, norm AS cnorm
         |  FROM e WHERE vec_id < $IvfCentroids
         |),
         |scored AS (
         |  SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${dotSql("e.embedding", "c.ce")} / (e.norm * c.cnorm) DESC,
         |                    c.cent_id ASC) AS crn
         |  FROM e, cents c
         |),
         |assigned AS (
         |  SELECT vec_id, cent_id AS cluster, embedding, norm
         |  FROM scored WHERE crn = 1
         |),
         |qs AS (
         |  SELECT vec_id AS query_id, embedding AS qe, norm AS qn
         |  FROM e WHERE vec_id < $KnnQueries
         |),
         |pairs AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, a.cluster,
         |         ${dotSql("q.qe", "a.embedding")} / (q.qn * a.norm) AS cos
         |  FROM assigned a JOIN qs q ON a.vec_id <> q.query_id
         |),
         |quota AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id, cluster
         |                                 ORDER BY cos DESC, neighbor_id ASC) AS qrn
         |    FROM pairs) t
         |  WHERE qrn <= $DiverseQuota
         |)
         |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id, cluster,
         |       round(cos, 6) AS cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, neighbor_id ASC) AS rk
         |  FROM quota) t
         |WHERE rk <= $KnnK ORDER BY query_id, rk""".stripMargin,

    "sim12_pq_train_eval" ->
      s"""WITH bf AS (
         |  SELECT query_id, neighbor_id FROM ( $sim01Sql ) t1
         |),
         |seed AS (
         |  SELECT query_id, neighbor_id FROM ( ${pqAdcSql(trained = false)} ) t2
         |),
         |trained AS (
         |  SELECT query_id, neighbor_id FROM ( ${pqAdcSql(trained = true)} ) t3
         |),
         |hs AS (
         |  SELECT seed.query_id, CAST(count(bf.neighbor_id) AS BIGINT) AS n_hit_seed
         |  FROM seed LEFT JOIN bf
         |    ON seed.query_id = bf.query_id AND seed.neighbor_id = bf.neighbor_id
         |  GROUP BY seed.query_id
         |),
         |ht AS (
         |  SELECT trained.query_id, CAST(count(bf.neighbor_id) AS BIGINT) AS n_hit_trained
         |  FROM trained LEFT JOIN bf
         |    ON trained.query_id = bf.query_id AND trained.neighbor_id = bf.neighbor_id
         |  GROUP BY trained.query_id
         |),
         |spine AS (
         |  SELECT vec_id AS query_id FROM embeddings WHERE vec_id < $KnnQueries
         |)
         |SELECT s.query_id,
         |       coalesce(n_hit_seed, CAST(0 AS BIGINT)) AS n_hit_seed,
         |       coalesce(n_hit_trained, CAST(0 AS BIGINT)) AS n_hit_trained
         |FROM spine s
         |LEFT JOIN hs ON hs.query_id = s.query_id
         |LEFT JOIN ht ON ht.query_id = s.query_id
         |ORDER BY s.query_id""".stripMargin,


    // `+ 0.0` on cov: DuckDB's round keeps the -0.0 sign on a cell
    // that rounds to zero from below, Spark's drops it (tx09
    // precedent); x + 0.0 is the identity everywhere except -0.0.
    "sim09_covariance" ->
      s"""WITH p AS (
         |  SELECT ii.i AS i, jj.j AS j,
         |         CAST(embedding[ii.i + 1] AS DOUBLE)
         |           * CAST(embedding[jj.j + 1] AS DOUBLE) AS p
         |  FROM embeddings,
         |       generate_series(0, ${Dims - 1}) AS ii(i),
         |       generate_series(0, ${Dims - 1}) AS jj(j)
         |  WHERE jj.j >= ii.i
         |),
         |prods AS (
         |  SELECT i, j, sum(CAST(p AS DECIMAL(28,12))) AS sxy, count(*) AS n
         |  FROM p GROUP BY i, j
         |),
         |sums AS (
         |  SELECT t.i AS i,
         |         sum(CAST(CAST(embedding[t.i + 1] AS DOUBLE) AS DECIMAL(28,12))) AS sx
         |  FROM embeddings, generate_series(0, ${Dims - 1}) AS t(i)
         |  GROUP BY t.i
         |)
         |SELECT CAST(prods.i AS BIGINT) AS i, CAST(prods.j AS BIGINT) AS j,
         |       round(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
         |             - (CAST(si.sx AS DOUBLE) / CAST(n AS DOUBLE))
         |               * (CAST(sj.sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) + 0.0 AS cov
         |FROM prods
         |JOIN sums si ON si.i = prods.i
         |JOIN sums sj ON sj.i = prods.j
         |ORDER BY i, j""".stripMargin,

    "sim10_mahalanobis" ->
      s"""WITH x AS (
         |  SELECT vec_id, t.i AS i, CAST(embedding[t.i + 1] AS DOUBLE) AS x
         |  FROM embeddings, generate_series(0, ${Dims - 1}) AS t(i)
         |),
         |mom AS (
         |  SELECT i,
         |         CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
         |           / CAST(count(*) AS DOUBLE) AS mu,
         |         CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)
         |           / CAST(count(*) AS DOUBLE)
         |         - (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE))
         |           * (CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE)) AS v
         |  FROM x GROUP BY i
         |)
         |SELECT vec_id,
         |       round(CAST(sum(CAST(
         |         CASE WHEN v > 0 THEN (x - mu) * (x - mu) / v ELSE 0.0 END
         |         AS DECIMAL(28,10))) AS DOUBLE), 6) AS mahalanobis
         |FROM x JOIN mom USING (i)
         |GROUP BY vec_id
         |ORDER BY mahalanobis DESC, vec_id ASC LIMIT $MahalTopK""".stripMargin
  )
}
