package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Join and set-operation catalog — extensions beyond the reference
  * (SURVEY.md §2.7: the reference pipeline is single-table end to
  * end), exercised over the TPC-H-ish testdata per SURVEY.md §7.4.
  *
  * Scale notes (100 TB posture):
  *   - dimension joins broadcast explicitly (`broadcast(customer)` —
  *     dims stay far under the driver limit even at SF100k);
  *   - fact-fact joins (lineitem ⋈ orders) shuffle on the join key;
  *     AQE handles unknown skew at runtime, and for KNOWN hot keys
  *     `Salting.skewSplitJoin` measures ~2× faster than AQE's split
  *     (blanket salting is 16× WORSE — see SCALE_NOTES "Skew join");
  *     at cluster scale these tables would be co-bucketed on
  *     orderkey to eliminate the exchange entirely;
  *   - aggregates run partial (map-side) before the exchange — the
  *     groupBy keys keep cardinality small, so the shuffle carries
  *     pre-reduced rows.
  */
object Joins {
  type Q = (SparkSession, String) => DataFrame

  /** bf01 bloom layout: 2^17 bits (16 KB broadcast) × 4 probes. At the
    * build cardinality this sizes to (~15k keys at sf0.1) the FP rate
    * is (1 − e^(−kn/m))^k ≈ 2%; at cluster scale m is sized from an
    * n estimate (count or HLL sketch) to hold the same rate — the
    * filter stays KBs–MBs while the key set it replaces is GBs. */
  val BloomBits = 1L << 17
  val BloomK = 4
  val HotOrderPrice = 450000.0

  /** j13: dim-side replication factor for the salted join. */
  val SaltFactor = 8

  /** The k bit positions for `key` — ONE SQL fragment shared by the
    * bloom build (fed to `BloomAgg`) and the probe (`bloomProbeExpr`),
    * so the hash family cannot drift between sides. Double hashing
    * (Kirsch–Mitzenmacher): pos_i = h1 + i·h2 mod m; overflow wraps,
    * pmod keeps positions non-negative. */
  // Double hashing h1 + i·h2 reduced mod BloomBits BEFORE the
  // multiply-add: bit-identical to reducing after 64-bit wraparound
  // (BloomBits = 2^17 divides 2^64, so 2^64 ≡ 0 mod BloomBits), and
  // the intermediate values stay ≤ BloomK·BloomBits — no overflow, so
  // the SAME expression is legal under ANSI mode (the wraparound form
  // threw ARITHMETIC_OVERFLOW in the AnsiProbe lane).
  def bloomPosExpr(key: String): String =
    s"transform(sequence(0, ${BloomK - 1}), i -> " +
      s"pmod(pmod(xxhash64($key), ${BloomBits}L) + i * pmod(xxhash64($key, 1L), ${BloomBits}L), ${BloomBits}L))"

  /** Membership probe: every position's bit set in the `bf` bitset. */
  def bloomProbeExpr(bf: String, key: String): String =
    s"forall(${bloomPosExpr(key)}, p -> " +
      s"(shiftright(element_at($bf, CAST(p DIV 64 AS INT) + 1), CAST(p % 64 AS INT)) & 1) = 1)"

  val queries: Map[String, Q] = Map(
    // Broadcast hash equi-join: fact ⋈ small dim
    "j01_broadcast_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(Tables.dsum(col("o_totalprice"), 2).as("segment_revenue"),
          count(lit(1)).as("order_cnt"))
        .orderBy("c_mktsegment")
    }),

    // Shuffle (sort-merge) equi-join: fact ⋈ fact
    "j02_sortmerge_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(Tables.dsum(col("l_extendedprice"), 2).as("priority_revenue"),
          count(lit(1)).as("line_cnt"))
        .orderBy("o_orderpriority")
    }),

    // Left-semi join (EXISTS)
    "j03_semi_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, d).join(urgent, Seq("c_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // Left-anti join (NOT EXISTS)
    "j04_anti_join" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, d).join(urgent, Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // TPC-H Q3-shaped 3-way join with selective filters + top-k
    "j05_top_orders" -> ((s, d) => {
      val cutoff = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit(cutoff))
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > lit(cutoff))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"))
        .agg(Tables.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5-shaped 6-way join (region→nation→{supplier,customer}→
    // orders→lineitem), local-supplier condition, revenue per nation
    "j06_regional_revenue" -> ((s, d) => {
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
      val n = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      val li = Tables.lineitem(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(c),
          o("o_custkey") === c("c_custkey") &&
            c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(Tables.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // Full outer join with coalesced counts
    "j07_full_outer" -> ((s, d) => {
      val custPerNation = Tables.customer(s, d)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("customers"))
      val supPerNation = Tables.supplier(s, d)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("suppliers"))
      custPerNation.join(supPerNation, Seq("nationkey"), "full_outer")
        .select(col("nationkey").cast(IntegerType).as("nationkey"),
          coalesce(col("customers"), lit(0L)).as("customers"),
          coalesce(col("suppliers"), lit(0L)).as("suppliers"))
        .orderBy("nationkey")
    }),

    // As-of join (time-series point-in-time correctness): each
    // purchase gets the latest click of the same user at-or-before
    // its timestamp. Composed from built-ins per the preference
    // order — a tagged union + running `last(ignoreNulls)` window —
    // which shuffles ONCE on user_id instead of doing a range join;
    // the oracle uses DuckDB's native ASOF JOIN, so this also
    // cross-checks the composition against a reference
    // implementation of the semantics.
    "j08_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), lit(1).as("side"),
          col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("side").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionAll(purchases)
        .withColumn("click_ts",
          last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
        .withColumn("click_value",
          last(when(col("side") === 0, col("value")), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts_s"),
          col("click_value"))
        .orderBy("event_id")
    }),

    // Forward as-of join — j08's mirror and the LABEL-GENERATION
    // primitive: each click gets the user's NEXT purchase at-or-after
    // its timestamp ("did this click convert, and to what"). Same
    // tagged-union + one-user-shuffle shape as j08, with the running
    // `last` flipped to a `first(ignoreNulls)` over the FORWARD frame
    // (currentRow → unboundedFollowing); a same-instant purchase
    // sorts after the click (side ordering), so "at-or-after"
    // includes it on both sides. Oracle: DuckDB's native ASOF with
    // the <= direction.
    "j12_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"), lit(0).as("side"),
          col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), lit(1).as("side"),
          lit(null).cast("long").as("event_id"))
      // `value` as third sort key: (ts, side) alone is not a total
      // order over purchase rows, so two same-instant purchases would
      // make first() arbitrary — no such tie exists in the fixtures,
      // but determinism should not depend on that
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("side").asc, col("value").asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionAll(purchases)
        .withColumn("purchase_ts",
          first(when(col("side") === 1, col("ts")), ignoreNulls = true).over(w))
        .withColumn("purchase_value",
          first(when(col("side") === 1, col("value")), ignoreNulls = true).over(w))
        .filter(col("side") === 0)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts_s"),
          col("purchase_value"))
        .orderBy("event_id")
    }),

    // Range join (point-in-interval): count lineitems shipped inside
    // each promo window, with NO key relation between the sides — a
    // pure theta join. Spark's native plan for ts BETWEEN lo AND hi
    // is a broadcast-nested-loop (O(n·m)); the scale path is INTERVAL
    // BINNING + AGGREGATE PUSHDOWN below the join:
    //  1. Both measures (count, decimal sum) are distributive and the
    //     range predicate reads only l_shipdate, so lineitem first
    //     collapses to one partial-aggregate row per DISTINCT
    //     l_shipdate — exact regardless of timestamp alignment, and
    //     bounded by the calendar (rows-per-day density growth stacks
    //     into the partials instead of multiplying into the join).
    //  2. Windows are ≤ 7 days, so each window overlaps ≤ 2 week-bins
    //     (explode); each shipdate partial hashes to exactly 1 bin,
    //     and the join is a plain shuffled equi-join on the bin plus
    //     a residual BETWEEN — candidate pairs ≤ promos × (8 + bin
    //     width in days), immune to per-day row counts, no broadcast
    //     needed (both sides may be fact-sized at 100 TB).
    // Summing the per-day decimal partials re-sums exact decimals, so
    // the result is bit-identical to the direct dsum over all rows.
    "j09_range_join" -> ((s, d) => {
      val week = 604800L
      val promo = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("promo_key"),
          col("o_orderdate").as("win_start"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("win_end"))
      val promoBins = promo.withColumn("bin",
        explode(sequence(
          floor(unix_timestamp(col("win_start")) / week).cast(LongType),
          floor((unix_timestamp(col("win_end")) - 1) / week).cast(LongType))))
      val liDaily = Tables.lineitem(s, d)
        .groupBy(col("l_shipdate"))
        .agg(count(lit(1)).as("day_cnt"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("day_qty"))
        .withColumn("bin", floor(unix_timestamp(col("l_shipdate")) / week).cast(LongType))
      promoBins.join(liDaily, Seq("bin"))
        .filter(col("l_shipdate") >= col("win_start") &&
          col("l_shipdate") < col("win_end"))
        .groupBy("promo_key")
        .agg(sum(col("day_cnt")).as("n_shipped"),
          sum(col("day_qty")).cast(DoubleType).as("qty"))
        .orderBy("promo_key")
    }),

    // Left outer join: every customer, order stats where they exist,
    // explicit zero-fill for the null side
    "j10_left_outer" -> ((s, d) => {
      val orderAgg = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          Tables.dsum(col("o_totalprice"), 2).as("spend"))
      Tables.customer(s, d).join(orderAgg, Seq("c_custkey"), "left_outer")
        .select(col("c_custkey"),
          col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spend"), lit(0.0)).as("spend"))
        .orderBy("c_custkey")
    }),

    // Stream-stream INTERVAL join, oracle-checked through its BATCH
    // execution: Streams.intervalJoin runs unchanged on batch frames
    // (withWatermark is a no-op outside streaming), so the exact
    // operator code that runs under watermarked state-pruning in a
    // StreamingQuery (StreamingSpec's attribution test) is
    // hash-checked here against a DuckDB range-predicate join.
    // Attribution shape: every click in the hour before a purchase,
    // rolled up per purchase.
    "j11_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.streaming.Streams.intervalJoin(clicks, purchases,
          key = "user_id", leftTs = "click_ts", rightTs = "ts",
          windowSec = 3600L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_clicks"),
          Tables.dsum(col("click_value"), 2).as("click_value"))
        .orderBy("event_id")
    }),

    // UNION (distinct set semantics)
    "x01_union" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").cast(IntegerType).as("key"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").cast(IntegerType).as("key")))
        .distinct().orderBy("key")),

    // EXCEPT (distinct)
    "x02_except" -> ((s, d) => {
      val urgentCust = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("key"))
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("key"))
      urgentCust.except(building).orderBy("key")
    }),

    // INTERSECT (distinct)
    "x03_intersect" -> ((s, d) => {
      val urgentCust = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("key"))
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("key"))
      urgentCust.intersect(building).orderBy("key")
    }),

    // UNION ALL (bag semantics — no dedup shuffle) summarized
    "x04_union_all" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").cast(IntegerType).as("key"))
        .unionAll(Tables.supplier(s, d).select(col("s_nationkey").cast(IntegerType).as("key")))
        .groupBy("key").agg(count(lit(1)).as("n"))
        .orderBy("key")),

    // EXCEPT ALL (multiset difference — keeps surplus multiplicity)
    "x05_except_all" -> ((s, d) => {
      val urgentCust = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("key"))
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("key"))
      urgentCust.exceptAll(building)
        .groupBy("key").agg(count(lit(1)).as("n"))
        .orderBy("key")
    }),

    // Bloom-filter pre-filtered semi-join — the sketch-based shuffle
    // reducer every warehouse engine ships as "runtime filters", here
    // explicit and library-controlled. The build side's keys fold into
    // a 16 KB mergeable bitset (functions/BloomAgg: map-side partial
    // filters, bitwise-OR merge — the exchange carries bitsets, never
    // keys), which is BROADCAST onto the probe side as a 1-row frame;
    // the probe is a narrow codegen'd filter. Only rows surviving the
    // bloom (true matches + ~2% FPs) enter the exact semi-join, whose
    // shuffle shrinks by the filter's selectivity — at 100 TB that is
    // the difference between shuffling the full probe table and
    // shuffling just the candidate rows. The exact semi-join then
    // removes FPs, so the result is EXACTLY the plain semi-join (the
    // oracle): the bloom is a transparent physical optimization, never
    // a semantic one.
    "bf01_bloom_semi" -> ((s, d) => {
      val bloomAgg = udaf(new graft.functions.BloomAgg((BloomBits / 64).toInt),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
      val hot = Tables.orders(s, d)
        .filter(col("o_totalprice") > HotOrderPrice)
        .select(col("o_custkey"))
      val bloom = hot.select(expr(bloomPosExpr("o_custkey")).as("ps"))
        .agg(bloomAgg(col("ps")).as("bf"))
      val pre = Tables.customer(s, d)
        .crossJoin(broadcast(bloom)) // 1-row, 16 KB: broadcast-tiny
        .filter(expr(bloomProbeExpr("bf", "c_custkey")))
        .drop("bf")
      pre.join(hot.withColumnRenamed("o_custkey", "c_custkey"),
          Seq("c_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_hot_customers"),
          Tables.dsum(col("c_acctbal"), 2).as("hot_acctbal"))
        .orderBy("c_mktsegment")
    }),

    // Skew-SALTED shuffle join — the manual skew weapon beside AQE's
    // runtime partition split (tools/SkewBench measures when each
    // wins): the dim side replicates SaltFactor×, the fact side picks
    // a deterministic salt from a row-unique key, the join key
    // becomes (key, salt), and a hot key's rows spread over
    // SaltFactor reducers instead of hammering one. The join is
    // hinted sort-merge (a broadcast would dissolve the skew the
    // technique targets — at 100 TB the dim that needs salting is
    // exactly the one too big to broadcast). Salting is TRANSPARENT:
    // the aggregate over the salted join equals the plain join
    // exactly — the oracle IS the unsalted join, making the rewrite's
    // correctness (not just its speed) a checked fact.
    "j13_salted_join" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("dsalt", explode(array((0 until SaltFactor).map(lit(_)): _*)))
      val fact = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"),
          (expr(graft.functions.Portable.phashExpr(
            "concat('sj:', CAST(o_orderkey AS STRING))")) % SaltFactor)
            .cast("int").as("fsalt"))
      fact.hint("merge")
        .join(dim, col("o_custkey") === col("c_custkey") && col("fsalt") === col("dsalt"))
        .groupBy("c_mktsegment")
        .agg(Tables.dsum(col("o_totalprice"), 2).as("segment_revenue"),
          count(lit(1)).as("order_cnt"))
        .orderBy("c_mktsegment")
    }),

    // SKETCH-DRIVEN skew-split join — the composition SkewBench's
    // numbers point at: blanket salting (j13's shape applied to a
    // fact-sized dim) measured 6-9× WORSE than doing nothing, while
    // salting ONLY known-hot keys beat AQE's runtime split ~2× — and
    // hh01's Misra-Gries pass is exactly the hot-key detector. Here
    // they're wired end-to-end with no driver round-trip: one
    // mg_sketch aggregate over the fact's join key yields ≤ k
    // candidates (provably a superset of every key above n/(k+1)),
    // the candidate frame broadcasts as a membership marker, marked
    // rows take the salted path, the cold majority the plain
    // equi-join (ops/Salting.skewSplitJoinByFrame). Sketch FALSE
    // POSITIVES cost only `SaltFactor` small-side replicas of that
    // key, so the candidate set needs no exact recount — semantics
    // equal the plain join for ANY hot set, which is why the oracle
    // is the unsalted join (the rewrite's invisibility is the checked
    // fact, as with j13). Join hinted merge: at 100 TB the dim that
    // needs this is too big to broadcast.
    "j14_sketch_skew_join" -> ((s, d) => {
      val fact = Tables.events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("user_id").as("k"), col("event_id"), col("value"))
      // localCheckpoint: the hot frame is referenced FOUR times in the
      // split-join plan (marker join onto each side × hot/cold branch)
      // and exchange reuse does not fire across those subtrees
      // (SCALE_NOTES "Skew join: AQE vs salting": 0 ReusedExchange, 8
      // ObjectHashAggregate = 4 sketch passes). Materializing the
      // ≤ HeavyK-row candidate frame once caps detection at ONE scan
      // of the fact — the cost a 100 TB run actually pays. Memoized
      // per (session, dir) (round-9 ADVICE): the checkpoint is an
      // eager Spark job and pins an RDD, so running it on every PLAN
      // CONSTRUCTION (PlanLint sweeps, Verify, each bench sweep) both
      // surprised lazy callers and leaked one pinned RDD per
      // invocation — the memo caps it at one per session+dir, like
      // every other shared frame.
      val hot = Dedup.memoFrame(s, d, "j14_hot_keys")(fact
        .agg(expr("mg_sketch(CAST(k AS STRING))").as("sk"))
        .select(explode(col("sk.items")).as("ks"))
        .select(col("ks").cast("long").as("k"))
        .localCheckpoint())
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      graft.ops.Salting.skewSplitJoinByFrame(
        fact.hint("merge"), dim, "k", hot,
        buckets = SaltFactor, saltSource = "event_id")
        .groupBy("c_mktsegment")
        .agg(Tables.dsum(col("value"), 4).as("segment_value"),
          count(lit(1)).as("event_cnt"))
        .orderBy("c_mktsegment")
    })
  )

  val oracle: Map[String, String] = Map(
    "j01_broadcast_join" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue,
        |  count(*) AS order_cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "j02_sortmerge_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS priority_revenue,
        |  count(*) AS line_cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "j03_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "j04_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "j05_top_orders" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate_s
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "j06_regional_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "j07_full_outer" ->
      """SELECT CAST(nationkey AS INT) AS nationkey,
        |       COALESCE(customers, 0) AS customers,
        |       COALESCE(suppliers, 0) AS suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS suppliers
        |      FROM supplier GROUP BY 1) s USING (nationkey)
        |ORDER BY nationkey""".stripMargin,

    "j08_asof_join" ->
      """SELECT p.event_id, p.user_id,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, p.value,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts_s,
        |       c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "j12_asof_forward" ->
      """SELECT c.event_id, c.user_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, c.value,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s,
        |       p.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "j09_range_join" ->
      """WITH promo AS (
        |  SELECT o_orderkey AS promo_key, o_orderdate AS win_start,
        |         o_orderdate + INTERVAL 7 DAY AS win_end
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 100 = 0
        |)
        |SELECT promo_key, count(*) AS n_shipped,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM promo JOIN lineitem
        |  ON l_shipdate >= win_start AND l_shipdate < win_end
        |GROUP BY promo_key ORDER BY promo_key""".stripMargin,

    "j10_left_outer" ->
      """WITH oa AS (
        |  SELECT o_custkey AS c_custkey, count(*) AS n_orders,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1
        |)
        |SELECT c.c_custkey, c.c_mktsegment,
        |       coalesce(oa.n_orders, 0) AS n_orders,
        |       coalesce(oa.spend, 0.0) AS spend
        |FROM customer c LEFT OUTER JOIN oa USING (c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "j11_interval_join" ->
      """SELECT p.event_id, count(*) AS n_clicks,
        |       CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 3600 SECOND
        | AND c.ts <= p.ts
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin,

    "x01_union" ->
      """SELECT CAST(c_nationkey AS INT) AS key FROM customer
        |UNION
        |SELECT CAST(s_nationkey AS INT) AS key FROM supplier
        |ORDER BY key""".stripMargin,

    "x02_except" ->
      """SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY key""".stripMargin,

    "x03_intersect" ->
      """SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY key""".stripMargin,

    "x04_union_all" ->
      """SELECT key, count(*) AS n FROM (
        |  SELECT CAST(c_nationkey AS INT) AS key FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INT) AS key FROM supplier
        |) u GROUP BY key ORDER BY key""".stripMargin,

    "x05_except_all" ->
      """SELECT key, count(*) AS n FROM (
        |  SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT ALL
        |  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
        |) e GROUP BY key ORDER BY key""".stripMargin,

    // the bloom prefilter is physically transparent: the oracle is the
    // plain EXISTS semi-join
    "bf01_bloom_semi" ->
      s"""SELECT c_mktsegment,
         |       count(*) AS n_hot_customers,
         |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS hot_acctbal
         |FROM customer c
         |WHERE EXISTS (SELECT 1 FROM orders o
         |              WHERE o.o_custkey = c.c_custkey
         |                AND o.o_totalprice > $HotOrderPrice)
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,

    // the UNSALTED join — salting must be invisible in the result
    "j13_salted_join" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS segment_revenue,
        |  count(*) AS order_cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the plain join again: the sketch-detected split must be
    // invisible in the result (any hot-candidate set yields the same
    // rows; only the shuffle layout differs)
    "j14_sketch_skew_join" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS segment_value,
        |  count(*) AS event_cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  )
}
