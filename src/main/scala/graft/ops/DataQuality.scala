package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.Tables

/** Data-quality expectations — the validation gate a pipeline runs on
  * every ingested batch before publishing it downstream (the
  * Deequ/Great-Expectations operator shape, re-expressed as plain
  * declarative Spark).
  *
  * Engine design, sized for 100 TB:
  *   - ALL row-level rules over one table fuse into a SINGLE scan —
  *     `expect` turns N predicates into N conditional-sum aggregates
  *     in one `agg`, so rule count never multiplies I/O. The
  *     wide 1-row result is then `stack`ed to the long
  *     (rule, checked, violations) report shape; both steps stay
  *     inside whole-stage codegen.
  *   - Cross-table rules (referential integrity, key uniqueness) are
  *     the standard join-shaped checks: a left-anti join against the
  *     parent's key projection (broadcast when the parent is small,
  *     shuffled-hash otherwise — Catalyst's choice), and a
  *     count-vs-count-distinct partial aggregate.
  *   - The report is a handful of rows regardless of input size; the
  *     only full-data work is the fused scans and the one anti-join.
  *
  * A clean dataset yields zero-violation rows — those rows ARE the
  * signal (the suite proves the invariants hold); the two policy
  * rules fire on the synthetic data to exercise non-zero counting.
  */
object DataQuality {
  type Q = (SparkSession, String) => DataFrame

  /** One row-level expectation: `violation` is a SQL boolean over the
    * table's columns, true where the row VIOLATES the rule. */
  final case class Expectation(name: String, violation: String)

  /** Fuse all row-level rules over one table into a single scan:
    * one conditional sum per rule + the row count, then stack the
    * 1-row wide result into (rule, checked, violations) rows. */
  def expect(df: DataFrame, rules: Seq[Expectation]): DataFrame = {
    require(rules.nonEmpty, "expect() needs at least one rule")
    // coalesce: sum over an EMPTY batch is NULL, and a validation
    // gate must report 0 violations / 0 checked there, not null
    val aggs = count(lit(1)).cast("long").as("checked") +:
      rules.map(r => coalesce(sum(when(expr(r.violation), 1L).otherwise(0L)), lit(0L))
        .cast("long").as(r.name))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.map(r => s"'${r.name}', ${r.name}").mkString(", ")
    wide.selectExpr(s"stack(${rules.size}, $stackArgs) AS (rule, violations)",
        "checked")
      .select("rule", "checked", "violations")
  }

  /** Referential-integrity check: child rows whose `childKey` has no
    * match in the parent's `parentKey` (left-anti join). */
  def expectFk(name: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child
      .join(parent.select(parentKey), col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).cast("long").as("violations"))
    child.agg(count(lit(1)).cast("long").as("checked"))
      .crossJoin(orphans)
      .select(lit(name).as("rule"), col("checked"), col("violations"))
  }

  /** Key-uniqueness check: rows beyond the first per key value. */
  def expectUnique(name: String, df: DataFrame, key: String): DataFrame =
    df.agg(count(lit(1)).cast("long").as("checked"),
        (count(lit(1)) - countDistinct(col(key))).cast("long").as("violations"))
      .select(lit(name).as("rule"), col("checked"), col("violations"))

  /** Column profiler (the ANALYZE-TABLE shape): per column, null
    * count, exact distinct count, and numeric min/max.
    *
    * Plan shape: nulls/min/max for ALL columns fuse into ONE
    * Expand-free scan (cheap conditional sums); the exact distinct
    * counts run as one per-column aggregate branch each, because the
    * single-pass alternative — multi-column `count(distinct)` — plans
    * an Expand that multiplies every row (cols+1)× before the first
    * combine (measured 2.4× slower on a 10-column profile), while a
    * per-column branch reads ONLY its own column off columnar
    * parquet and its partial distinct combines map-side. At 100 TB
    * the documented relaxation is `approx_count_distinct` (a15's HLL
    * sketch) — one scan, no branches — not used here because the
    * oracle needs exact counts. */
  def profile(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String]): DataFrame = {
    val cols = numericCols ++ stringCols
    require(cols.nonEmpty, "profile() needs at least one column")
    val aggs = count(lit(1)).cast("long").as("n_rows") +:
      cols.flatMap { c =>
        val minMax =
          if (numericCols.contains(c))
            Seq(min(col(c)).cast("double").as(s"${c}__mn"),
              max(col(c)).cast("double").as(s"${c}__mx"))
          else // strings carry no numeric range; aggregate a typed null
            Seq(max(lit(null).cast("double")).as(s"${c}__mn"),
              max(lit(null).cast("double")).as(s"${c}__mx"))
        Seq(coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as(s"${c}__nn")) ++ minMax
      }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c => s"'$c', ${c}__nn, ${c}__mn, ${c}__mx").mkString(", ")
    val stacked = wide.selectExpr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_null, min_d, max_d)",
        "n_rows")
    val distincts = cols.map { c =>
      df.select(col(c).as("v"))
        .agg(countDistinct(col("v")).cast("long").as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_distinct"))
    }.reduce(_.unionByName(_))
    stacked.join(distincts, "col_name")
      .select("col_name", "n_rows", "n_null", "n_distinct", "min_d", "max_d")
  }

  /** The lineitem columns behind dq02 (l_shipdate excluded: a
    * timestamp min/max would hang parity on cross-engine timestamp
    * TEXT formatting, which the parity rules forbid relying on). */
  val ProfileNumericCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val ProfileStringCols = Seq("l_returnflag", "l_linestatus")

  /** The lineitem/orders expectation suite behind dq01. */
  val LineitemRules = Seq(
    Expectation("l01_quantity_range",
      "l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50"),
    Expectation("l02_discount_range",
      "l_discount IS NULL OR l_discount < 0 OR l_discount > CAST('0.1' AS DOUBLE)"),
    Expectation("l03_price_positive",
      "l_extendedprice IS NULL OR l_extendedprice <= 0"),
    // policy rules — fire on the synthetic data (non-zero counting path)
    Expectation("l04_unit_price_floor",
      "l_extendedprice < l_quantity * CAST(1000 AS DOUBLE)"),
    Expectation("l05_promo_discount",
      "l_discount >= CAST('0.08' AS DOUBLE) AND l_quantity < 5"))

  val OrdersRules = Seq(
    Expectation("o01_status_domain",
      "o_orderstatus IS NULL OR o_orderstatus NOT IN ('F', 'O', 'P')"),
    Expectation("o02_totalprice_positive",
      "o_totalprice IS NULL OR o_totalprice <= 0"))

  // ------------------------------------------------------------------
  // Corrupt-file policy (round-10 production depth)
  // ------------------------------------------------------------------

  /** Result of a salvage scan: the readable rows, plus the exact
    * files the reader skipped as corrupt — never a silent count. */
  final case class SalvageResult(rows: DataFrame, corruptFiles: Seq[String])

  /** Salvage-read a parquet directory that may contain corrupt
    * (truncated / bit-rotted) files — at 100 TB, a weekly reality.
    *
    * POLICY, deliberate and two-sided:
    *   - the DEFAULT engine read path fails loudly (Spark's own
    *     default): a corrupt file is an incident, not a row-count
    *     dip, and `ignoreCorruptFiles` as a global conf is the
    *     classic silent-data-loss footgun;
    *   - this op is the explicit salvage lane for reprocessing: it
    *     reads with `ignoreCorruptFiles=true` SCOPED to the one scan
    *     (per-read option, not session conf) and returns the skipped
    *     files BY NAME — computed as listing ANTI JOIN the scan's
    *     distinct `input_file_name()` frame, entirely plan-side — so
    *     the caller can quarantine them and account for the loss. A
    *     scan that skips nothing returns an empty list, making
    *     "nothing was lost" assertable.
    *
    * Cost: one extra distinct + anti-join over file names (shuffle
    * bounded by file count, never rows); ONLY the corrupt-candidate
    * set — expected near-empty — is ever collected to the driver
    * (round-10 VERDICT item 5: the old form collected one string per
    * READABLE file, a driver-memory shape at 10⁵–10⁶ files). */
  def salvageScanParquet(spark: SparkSession, path: String): SalvageResult = {
    val listed = {
      val dir = java.nio.file.Paths.get(path)
      val walk = java.nio.file.Files.walk(dir)
      try {
        val it = walk.iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet") &&
              !n.startsWith(".") && !n.startsWith("_"))
            buf += p.toAbsolutePath.toString
        }
        buf.toSeq
      } finally walk.close()
    }
    // Schema must come from a READABLE footer: plain inference walks
    // every footer and dies on the corrupt one before the per-read
    // ignoreCorruptFiles option is consulted (observed: schema-merge
    // stage throws first). Probe listed files until one yields a
    // schema; the scan then carries it explicitly.
    val schema = listed.view
      .map(f => try Some(spark.read.parquet(f).schema)
      catch { case NonFatal(_) => None })
      .collectFirst { case Some(s) => s }
      .getOrElse(throw new IllegalArgumentException(
        s"salvageScanParquet: no readable parquet file under $path"))
    val rows = spark.read
      .schema(schema)
      .option("ignoreCorruptFiles", "true")
      .parquet(path)
    // listing ⟕ readable (anti-join), both as DataFrames: the
    // readable side is distinct'd (map-side partial agg keeps the
    // shuffle file-count-bounded) and never touches the driver;
    // listing minus readable leaves corrupt files AND valid-but-empty
    // ones; disambiguate with a per-candidate footer read (bounded by
    // the candidate count — a handful of files, never rows)
    val listedDf = spark
      .createDataset(listed)(org.apache.spark.sql.Encoders.STRING).toDF("f")
    val readableDf = rows
      .select(regexp_replace(input_file_name(), "^file:", "").as("f"))
      .distinct()
    val candidates = listedDf.join(readableDf, Seq("f"), "left_anti")
      .collect().map(_.getString(0))
    val corrupt = candidates.toSeq
      .filter { f =>
        try { spark.read.parquet(f).count(); false }
        catch { case NonFatal(_) => true }
      }
      .sorted
    SalvageResult(rows, corrupt)
  }

  val queries: Map[String, Q] = Map(
    "dq01_expectations" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      expect(li, LineitemRules)
        .unionByName(expect(ord, OrdersRules))
        .unionByName(expectFk("x01_lineitem_order_fk",
          li, "l_orderkey", ord, "o_orderkey"))
        .unionByName(expectUnique("x02_orderkey_unique", ord, "o_orderkey"))
        .orderBy("rule")
    }),

    "dq02_profile" -> ((s, d) =>
      profile(Tables.lineitem(s, d), ProfileNumericCols, ProfileStringCols)
        .orderBy("col_name")),

    // Statistical anomaly gate: flag events whose value sits more than
    // 3 sample-σ (Bessel, n−1) from its event-type mean — the per-batch outlier
    // sweep that runs next to the rule gate (dq01) in a production
    // ingest. Two passes: a per-type moment aggregate (5 rows,
    // broadcast back), then one narrow scan computing z. The moments
    // are decimal-exact (Tables.dsum of value and value² — never the
    // builtin stddev, whose merge order differs across engines), so
    // mean/sd/z are identical IEEE doubles on both sides and the
    // |z| > 3 boundary cannot flake. At 100 TB both passes are one
    // map-side-combinable exchange + one broadcast join — the scan
    // dominates, as it should.
    "dq03_anomaly" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        col("event_id"), trim(col("event_type")).as("line"), col("value"))
      val st = e.groupBy("line").agg(
        count(lit(1)).cast("double").as("n"),
        Tables.dsum(col("value"), 6).as("s1"),
        Tables.dsum(col("value") * col("value"), 6).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("variance",
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1.0))
        // degenerate-group guard: n=1 yields variance=NaN (÷(n−1)=0)
        // and a constant group yields 0 (or a tiny float negative) →
        // z=NaN/±Inf, and Spark's comparisons treat NaN as LARGER
        // than any double, so |z|>3 would pass garbage rows. The
        // guard compares the variance (not sqrt of it) so NaN never
        // reaches a cross-engine comparison: DuckDB mirrors the same
        // `var > 0` predicate. A group too small or too flat to
        // define a z-score emits nothing.
        .filter(col("n") > 1.0 && col("variance") > 0.0)
        .withColumn("sd", sqrt(col("variance")))
        .select("line", "mean", "sd")
      e.join(broadcast(st), "line")
        .withColumn("z", (col("value") - col("mean")) / col("sd"))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("line"), col("value"), round(col("z"), 6).as("z"))
        .orderBy("event_id")
    }),

    // Order-independent table fingerprint — the reconciliation
    // primitive for migrations/backfills at 100 TB: per month, a row
    // count plus a bit_xor fold of a 60-bit row digest. XOR is
    // commutative/associative, so the checksum is identical under ANY
    // partitioning, shuffle order, or parallelism — two pipelines
    // agree iff their row multisets agree per group (XOR cancels
    // duplicate pairs; the count catches even-multiplicity edits) —
    // and it aggregates map-side like any sum. The digest covers the
    // payload columns with the double cast through DECIMAL(18,2)
    // first: double→string formatting is engine-specific, fixed-scale
    // decimal→string is not (the dsum rationale, applied to hashing).
    "dq04_table_checksum" -> ((s, d) => orderFingerprint(Tables.orders(s, d))),

    // Distribution-drift monitor — per-token KL(A||B) between two
    // hash-halves of the corpus, the shift detector a training
    // pipeline runs between crawl snapshots / data sources before
    // trusting a mixture (here the halves are hash-derived so the
    // operator is deterministic and the expected drift is ~0 — the
    // null-hypothesis calibration). Add-one smoothing over the JOINT
    // vocab keeps every term defined when a token is absent from one
    // half. Two map-side-combinable aggregates (token counts, then
    // the 1-row totals broadcast back); token-level terms let the
    // report name the drivers instead of one opaque divergence
    // number. lm01's parity rules: integer counts, identical double
    // division trees, ln parity, round at the projection.
    "dq05_dist_drift" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("half", expr(
          s"${graft.functions.Portable.phashExpr("concat('h2|', CAST(doc_id AS STRING))")} % 2"))
        .withColumn("tokens", expr(TextAnalysis.tokensExpr))
        .select(col("half"), explode(col("tokens")).as("token"))
      val counts = toks.groupBy("token").agg(
        sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
      val tot = counts.agg(sum(col("n_a")).as("na"), sum(col("n_b")).as("nb"),
        count(lit(1)).as("v"))
      counts.crossJoin(broadcast(tot))
        .withColumn("p_a",
          (col("n_a") + 1L).cast("double") / (col("na") + col("v")).cast("double"))
        .withColumn("p_b",
          (col("n_b") + 1L).cast("double") / (col("nb") + col("v")).cast("double"))
        .select(col("token"), col("n_a"), col("n_b"),
          round(col("p_a") * log(col("p_a") / col("p_b")), 8).as("kl_term"))
        .orderBy("token")
    }),

    // Referential-integrity audit — the FK sweep a warehouse
    // ingestion gate runs before publishing a snapshot: one row per
    // foreign-key edge with its child cardinality and orphan count
    // (child keys with no parent). Each edge is ONE pass: child keys
    // left-join the parent's DISTINCT key set (an RI check is
    // against the key SET, so a duplicated parent row can't multiply
    // child rows), orphans counted as null-parent hits. NULL FKs are
    // not violations (SQL RI semantics). At 100 TB each edge is a
    // plain hash join on the key — the parent key sets here are
    // dimension-sized (planner broadcasts them); a fact→fact edge
    // (lineitem→orders) shuffles both sides on the key, the join
    // you'd co-bucket in production. Clean TPC-H data yields zero
    // orphans — the PASS baseline the gate alarms against.
    "dq06_referential_integrity" -> ((s, d) => {
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame =
        child.filter(col(ck).isNotNull).select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k")).distinct()
            .withColumn("hit", lit(1)), Seq("k"), "left")
          .agg(count(lit(1)).as("child_rows"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("orphans"))
          .select(lit(name).as("fk_edge"), col("child_rows"), col("orphans"))
      Seq(
        edge("customer.c_nationkey->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey"),
        edge("lineitem.l_orderkey->orders", Tables.lineitem(s, d),
          "l_orderkey", Tables.orders(s, d), "o_orderkey"),
        edge("lineitem.l_partkey->part", Tables.lineitem(s, d),
          "l_partkey", Tables.part(s, d), "p_partkey"),
        edge("lineitem.l_suppkey->supplier", Tables.lineitem(s, d),
          "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
        edge("orders.o_custkey->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d), "c_custkey"),
        edge("supplier.s_nationkey->nation", Tables.supplier(s, d),
          "s_nationkey", Tables.nation(s, d), "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy("fk_edge")
    })
  )

  /** dq04's fingerprint transform over an orders-shaped frame —
    * shared with the spec's repartitioned/mutated variants so the
    * invariance tests exercise the exact shipped digest. */
  private[graft] def orderFingerprint(df: DataFrame): DataFrame = {
    val payload = "concat_ws('|', CAST(o_orderkey AS STRING), " +
      "CAST(o_custkey AS STRING), o_orderstatus, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING), o_orderpriority)"
    df.select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        expr(graft.functions.Portable.phashExpr(payload)).as("h"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
      .orderBy("month")
  }

  val oracle: Map[String, String] = Map(
    "dq01_expectations" -> {
      def rowRule(table: String, r: Expectation): String =
        s"""SELECT '${r.name}' AS rule, count(*) AS checked,
           |  CAST(coalesce(sum(CASE WHEN ${r.violation} THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
           |FROM $table""".stripMargin
      val rows =
        LineitemRules.map(rowRule("lineitem", _)) ++
          OrdersRules.map(rowRule("orders", _)) ++
          Seq(
            """SELECT 'x01_lineitem_order_fk' AS rule,
              |  (SELECT count(*) FROM lineitem) AS checked,
              |  (SELECT count(*) FROM lineitem l
              |   WHERE NOT EXISTS (SELECT 1 FROM orders o
              |                     WHERE o.o_orderkey = l.l_orderkey)) AS violations""".stripMargin,
            """SELECT 'x02_orderkey_unique' AS rule, count(*) AS checked,
              |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
              |FROM orders""".stripMargin)
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY rule")
    },

    "dq02_profile" -> {
      def colRow(c: String, numeric: Boolean): String = {
        val mn = if (numeric) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (numeric) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $mn AS min_d, $mx AS max_d
           |FROM lineitem""".stripMargin
      }
      val rows = ProfileNumericCols.map(colRow(_, numeric = true)) ++
        ProfileStringCols.map(colRow(_, numeric = false))
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "dq03_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, trim(event_type) AS line, value FROM events
        |),
        |st AS (
        |  SELECT line, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM e GROUP BY line
        |),
        |m AS (
        |  SELECT line, s1 / n AS mean,
        |         sqrt((s2 - s1 * s1 / n) / (n - 1.0)) AS sd
        |  FROM st
        |  WHERE n > 1.0 AND (s2 - s1 * s1 / n) / (n - 1.0) > 0.0
        |)
        |SELECT event_id, e.line, value, round((value - mean) / sd, 6) AS z
        |FROM e JOIN m USING (line)
        |WHERE abs((value - mean) / sd) > 3.0
        |ORDER BY event_id""".stripMargin,

    "dq04_table_checksum" -> {
      val payload = "concat_ws('|', CAST(o_orderkey AS VARCHAR), " +
        "CAST(o_custkey AS VARCHAR), o_orderstatus, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), o_orderpriority)"
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
         |       count(*) AS n_rows,
         |       bit_xor(${graft.functions.Portable.phashSql(payload)}) AS checksum
         |FROM orders GROUP BY 1 ORDER BY month""".stripMargin
    },

    // `+ 0.0` on kl_term: a token slightly MORE likely in B rounds to
    // zero from below; Spark's round drops the -0.0 sign, DuckDB's
    // keeps it (the sim09/tx09 precedent)
    "dq05_dist_drift" ->
      s"""WITH tok AS (
         |  SELECT ${graft.functions.Portable.phashSql("'h2|' || CAST(doc_id AS VARCHAR)")} % 2 AS half,
         |         unnest(${TextAnalysis.tokensSql}) AS token
         |  FROM documents
         |),
         |counts AS (
         |  SELECT token,
         |         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |  FROM tok GROUP BY token
         |),
         |tot AS (
         |  SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
         |         count(*) AS v
         |  FROM counts
         |)
         |SELECT token, n_a, n_b,
         |       round((CAST(n_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
         |             * ln((CAST(n_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
         |                  / (CAST(n_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE))), 8)
         |         + 0.0 AS kl_term
         |FROM counts, tot ORDER BY token""".stripMargin,

    "dq06_referential_integrity" -> {
      def edgeSql(name: String, child: String, ck: String,
          parent: String, pk: String): String =
        s"""SELECT '$name' AS fk_edge,
           |       count(*) AS child_rows,
           |       CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans
           |FROM (SELECT $ck AS k FROM $child WHERE $ck IS NOT NULL) c
           |LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parent) p USING (k)""".stripMargin
      Seq(
        edgeSql("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edgeSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edgeSql("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edgeSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edgeSql("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edgeSql("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
    }
  )
}
