package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-layout clustering — the write-side half of the 100 TB story
  * (the read side being partition pruning + min-max skipping, §2.1 /
  * BucketingSpec): Z-ORDER the fact table on two join/filter keys by
  * bit-interleaving them into one sort key, then show the payoff
  * directly — per-output-file min/max spans that are tight on BOTH
  * dimensions at once, which is what lets a scan skip files for
  * predicates on either key (the Delta/Iceberg OPTIMIZE ZORDER
  * mechanism, built from first principles).
  *
  * Everything is exact integer math (shifts/masks — identical in both
  * engines), and the file assignment is the ds03/ds04 two-phase
  * distributed prefix sum over zval range-buckets (bucket = top 5
  * bits, monotone in zval), so no window ever sees more than one
  * bucket where the oracle's naive global `row_number() OVER (ORDER
  * BY zval)` sorts on one reducer.
  */
object Layout {
  type Q = (SparkSession, String) => DataFrame

  /** Bits interleaved per key (l_partkey < 2^15, l_suppkey < 2^10 on
    * every fixture — 16 covers both with headroom). */
  val ZBits = 16

  /** Output files the clustered table is notionally split into. */
  val ZFiles = 32L

  /** Range-bucket prefix width for the two-phase distributed sort:
    * bucket = top ZBucketBits of zval (monotone, so per-bucket ranks
    * + bucket offsets = the global rank and the OUTPUT is identical
    * for ANY width). This is the parallelism/memory knob: per-window
    * rows ≈ n / 2^ZBucketBits, so width grows with the table —
    * round-5 measurement at 100× (60M rows): 5 bits (32 buckets,
    * ~1.9M rows/sort) cost 68.5 s; 9 bits (512 buckets, ~120K
    * rows/sort) cost 26.6 s. At 100 TB, size so a bucket sort fits
    * an executor core's memory (the same rule as
    * spark.sql.shuffle.partitions). */
  val ZBucketBits = 9

  /** Spark SQL text of the [[ZBits]]-level Hilbert index of (`a`,
    * `b`) — the classic xy2d fold (Wikipedia "Hilbert curve",
    * convert (x,y) to d): per level from the top, the quadrant id
    * (3·rx)⊕ry contributes s² steps and the frame rotates/reflects.
    * ONE `aggregate` HOF with a struct accumulator, NOT an unrolled
    * withColumn chain: each level reads the previous (x, y) several
    * times, so static unrolling would duplicate subtrees
    * multiplicatively under CollapseProject while the runtime fold
    * stays linear. All three struct fields read `st.*` (the PRE-
    * rotation state) — the d-update must see the un-rotated coords.
    * Exact integer math throughout; the oracle unrolls the same
    * levels as CTEs (DuckDB's list_reduce cannot seed a struct). */
  def hilbertExpr(a: String, b: String): String =
    s"""aggregate(
       |  sequence(${ZBits - 1}, 0, -1),
       |  struct(CAST($a AS BIGINT) AS x, CAST($b AS BIGINT) AS y, CAST(0 AS BIGINT) AS d),
       |  (st, i) -> struct(
       |    CASE WHEN (shiftright(st.y, i) & 1) = 0
       |         THEN CASE WHEN (shiftright(st.x, i) & 1) = 1
       |                   THEN shiftleft(CAST(1 AS BIGINT), i) - 1 - st.y ELSE st.y END
       |         ELSE st.x END AS x,
       |    CASE WHEN (shiftright(st.y, i) & 1) = 0
       |         THEN CASE WHEN (shiftright(st.x, i) & 1) = 1
       |                   THEN shiftleft(CAST(1 AS BIGINT), i) - 1 - st.x ELSE st.x END
       |         ELSE st.y END AS y,
       |    st.d + shiftleft(CAST(1 AS BIGINT), 2 * i)
       |         * CAST((3 * (shiftright(st.x, i) & 1)) ^ (shiftright(st.y, i) & 1) AS BIGINT) AS d),
       |  st -> st.d)""".stripMargin

  /** DuckDB mirror of [[hilbertExpr]]: the same fold unrolled as one
    * CTE per level (x$i/y$i/d$i name the state AFTER level i runs —
    * per-level names, never shadowed aliases). `seedFrom` supplies
    * the relation and the two key columns. */
  private def hilbertCtesSql(src: String, a: String, b: String,
      carry: Seq[String]): String = {
    val carryCols = carry.mkString(", ")
    val seed =
      s"""hl$ZBits AS (
         |  SELECT $carryCols,
         |         CAST($a AS BIGINT) AS x$ZBits, CAST($b AS BIGINT) AS y$ZBits,
         |         CAST(0 AS BIGINT) AS d$ZBits
         |  FROM $src
         |)""".stripMargin
    val levels = ((ZBits - 1) to 0 by -1).map { i =>
      val p = i + 1
      val (x, y, dd) = (s"x$p", s"y$p", s"d$p")
      val s = 1L << i
      s"""hl$i AS (
         |  SELECT $carryCols,
         |    CASE WHEN (($y >> $i) & 1) = 0
         |         THEN CASE WHEN (($x >> $i) & 1) = 1 THEN $s - 1 - $y ELSE $y END
         |         ELSE $x END AS x$i,
         |    CASE WHEN (($y >> $i) & 1) = 0
         |         THEN CASE WHEN (($x >> $i) & 1) = 1 THEN $s - 1 - $x ELSE $x END
         |         ELSE $y END AS y$i,
         |    $dd + ${s * s} * xor(3 * (($x >> $i) & 1), ($y >> $i) & 1) AS d$i
         |  FROM hl$p
         |)""".stripMargin
    }
    (seed +: levels).mkString(",\n")
  }

  /** Spark SQL text of the bit-interleave of `a` (even bit lanes) and
    * `b` (odd lanes). */
  def zvalExpr(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"shiftleft(shiftright(CAST($a AS BIGINT), $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright(CAST($b AS BIGINT), $i) & 1, ${2 * i + 1})"
    }.mkString(" + ")

  /** DuckDB SQL text of the same interleave. */
  private def zvalSql(a: String, b: String): String =
    (0 until ZBits).map { i =>
      s"(((CAST($a AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
        s"(((CAST($b AS BIGINT) >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  val queries: Map[String, Q] = Map(
    // Z-order lineitem on (l_partkey, l_suppkey), split into ZFiles
    // equal-row files, report each file's key spans. Tight spans on
    // BOTH columns = skippable files for predicates on EITHER.
    "z01_zorder_layout" -> ((s, d) => {
      // zvalExpr reads only the low ZBits of each key — a wider key
      // would interleave WRONG (key 2^16+1 clusters with key 1) with
      // no error. assert_true turns that silent corruption into a
      // loud failure: the 1-row bounds frame rides a broadcast, and
      // the guard lives in a FILTER (returns null = keep-all when the
      // precondition holds) so column pruning cannot drop it.
      val lim = 1L << ZBits
      val bounds = Tables.lineitem(s, d)
        .agg(max(col("l_partkey")).as("mx_p"), max(col("l_suppkey")).as("mx_s"))
      val rows = Tables.lineitem(s, d)
        .crossJoin(broadcast(bounds))
        .filter(assert_true(col("mx_p") < lim && col("mx_s") < lim,
          lit(s"z01: key exceeds $ZBits bits — widen Layout.ZBits")).isNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          expr(zvalExpr("l_partkey", "l_suppkey")).as("zval"))
        .withColumn("bucket", expr("zval DIV " + (1L << (2 * ZBits - ZBucketBits))))
      val offs = rows.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .withColumn("boff",
          coalesce(sum(col("bn")).over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .withColumn("n_total", sum(col("bn")).over(
          Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select("bucket", "boff", "n_total")
      val wIn = Window.partitionBy("bucket")
        .orderBy("zval", "l_orderkey", "l_linenumber")
      rows.join(broadcast(offs), "bucket")
        .withColumn("pos", col("boff") + row_number().over(wIn).cast("long"))
        .withColumn("file_id",
          expr(s"CAST(((pos - 1) * $ZFiles) DIV n_total AS INT)"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          (max(col("l_partkey")) - min(col("l_partkey"))).as("partkey_span"),
          (max(col("l_suppkey")) - min(col("l_suppkey"))).as("suppkey_span"),
          min(col("zval")).as("z_min"), max(col("zval")).as("z_max"))
        .orderBy("file_id")
    }),

    // HILBERT-order the same table — z01's sibling with the better
    // locality guarantee: consecutive curve positions are always
    // grid-adjacent (Z-order jumps at quadrant seams), so per-file
    // key spans tighten further at the same file count. Same
    // two-phase range-bucket sort (bucket = hval prefix, monotone),
    // same manifest shape; LayoutSpec proves the index bijective and
    // step-adjacent on a full small grid, and the oracle recomputes
    // the fold level by level in DuckDB.
    "z02_hilbert_layout" -> ((s, d) => {
      val lim = 1L << ZBits
      val bounds = Tables.lineitem(s, d)
        .agg(max(col("l_partkey")).as("mx_p"), max(col("l_suppkey")).as("mx_s"))
      val rows = Tables.lineitem(s, d)
        .crossJoin(broadcast(bounds))
        .filter(assert_true(col("mx_p") < lim && col("mx_s") < lim,
          lit(s"z02: key exceeds $ZBits bits — widen Layout.ZBits")).isNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          // the fused codegen loop, not the interpreted HOF fold
          // (16.9 s → see SCALE_NOTES; LayoutSpec pins bit-equality)
          expr("hilbert_index(l_partkey, l_suppkey)").as("hval"))
        .withColumn("bucket", expr("hval DIV " + (1L << (2 * ZBits - ZBucketBits))))
      val offs = rows.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .withColumn("boff",
          coalesce(sum(col("bn")).over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .withColumn("n_total", sum(col("bn")).over(
          Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select("bucket", "boff", "n_total")
      val wIn = Window.partitionBy("bucket")
        .orderBy("hval", "l_orderkey", "l_linenumber")
      rows.join(broadcast(offs), "bucket")
        .withColumn("pos", col("boff") + row_number().over(wIn).cast("long"))
        .withColumn("file_id",
          expr(s"CAST(((pos - 1) * $ZFiles) DIV n_total AS INT)"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          (max(col("l_partkey")) - min(col("l_partkey"))).as("partkey_span"),
          (max(col("l_suppkey")) - min(col("l_suppkey"))).as("suppkey_span"),
          min(col("hval")).as("h_min"), max(col("hval")).as("h_max"))
        .orderBy("file_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // The one-reducer global sort IS the oracle form (ds03/ds04/ds05
    // stance: the engine plan is the scalable variant).
    "z01_zorder_layout" ->
      s"""WITH z AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |         ${zvalSql("l_partkey", "l_suppkey")} AS zval
         |  FROM lineitem
         |),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY zval, l_orderkey, l_linenumber) AS pos,
         |         count(*) OVER () AS n_total
         |  FROM z
         |)
         |SELECT CAST(((pos - 1) * $ZFiles) // n_total AS INT) AS file_id,
         |       count(*) AS n_rows,
         |       max(l_partkey) - min(l_partkey) AS partkey_span,
         |       max(l_suppkey) - min(l_suppkey) AS suppkey_span,
         |       min(zval) AS z_min, max(zval) AS z_max
         |FROM r GROUP BY 1 ORDER BY file_id""".stripMargin,

    "z02_hilbert_layout" ->
      s"""WITH ${hilbertCtesSql("lineitem", "l_partkey", "l_suppkey",
             Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))},
         |h AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, d0 AS hval
         |  FROM hl0
         |),
         |r AS (
         |  SELECT *, row_number() OVER (ORDER BY hval, l_orderkey, l_linenumber) AS pos,
         |         count(*) OVER () AS n_total
         |  FROM h
         |)
         |SELECT CAST(((pos - 1) * $ZFiles) // n_total AS INT) AS file_id,
         |       count(*) AS n_rows,
         |       max(l_partkey) - min(l_partkey) AS partkey_span,
         |       max(l_suppkey) - min(l_suppkey) AS suppkey_span,
         |       min(hval) AS h_min, max(hval) AS h_max
         |FROM r GROUP BY 1 ORDER BY file_id""".stripMargin
  )
}
