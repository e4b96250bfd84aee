package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Behavioral-analytics operators over the `events` stream table —
  * the classic product-analytics trio (cohort retention, ordered
  * funnel, gap sessionization) that any complete engine's users
  * reach for next after the reference's per-line reports
  * (/root/reference/gtfsGold.py — daily aggregates are the same
  * shape one level up).
  *
  * Scale posture (100 TB): all three operators shuffle exactly once
  * on `user_id` (the window/group key) and then once more on the
  * tiny result key (cohort week / stage / session). User-keyed state
  * is the textbook partitionable dimension — no skew (users are
  * hash-distributed), no broadcast, no driver state. The per-user
  * partition sort the windows need is exactly what Spark's
  * WindowExec does after the single exchange; AQE coalesces the
  * small result-side shuffles.
  */
object Analytics {
  type Q = (SparkSession, String) => DataFrame

  /** Session gap: a quiet stretch of more than 6 event-time hours
    * ends the session (events are ~1/user/11h on the synthetic
    * table; 30 min would degenerate to singletons).
    */
  val SessionGapSec = 21600L

  /** at01: a purchase is credited to the user's last click at most
    * this many event-time seconds before it (7 days — the standard
    * attribution lookback). */
  val AttribWindowSec = 604800L

  /** hh01: Misra-Gries counter budget. φ = 1/(HeavyK+1) is the exact
    * heavy-hitter threshold the entry answers (count > n/128).
    * Deliberately SMALLER than the fixture's 150-user cardinality so
    * the sketch really evicts and the n/(k+1) bound is exercised —
    * not a "k covers everything" degenerate. Production sizes k to
    * the wanted φ, not to cardinality: state stays k entries/task at
    * any corpus size. */
  val HeavyK = 127

  /** qs01: equal-width histogram resolution. Error bound is
    * range/QuantBins; per-task sketch state is QuantBins counters
    * independent of row count or value cardinality. */
  val QuantBins = 128

  /** qs01: the quantiles read off the histogram. */
  val Quantiles = Seq("0.25", "0.5", "0.75", "0.9", "0.99")

  /** events with the columns the three operators share. `epoch_s` is
    * floor-seconds (matches DuckDB `floor(epoch(ts))` — see
    * Breadth.a14), so gap arithmetic is exact integer math in both
    * engines.
    */
  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("event_type"), col("ts"),
      floor(col("ts").cast(DoubleType)).cast(LongType).as("epoch_s"))

  val queries: Map[String, Q] = Map(
    // Cohort retention: cohort = user's first ISO week (Monday
    // date_trunc), weeks_since = (activity week - cohort week)/7,
    // cell = distinct active users. One user-partition window min
    // computes the cohort without a self-join.
    "r01_retention" -> ((s, d) => {
      val wu = Window.partitionBy("user_id")
      ev(s, d)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"))
        .withColumn("cohort", min(col("wk")).over(wu))
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7).cast(LongType).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("users"))
        .select(col("cohort").cast(StringType).as("cohort_week"),
          col("weeks_since"), col("users"))
        .orderBy("cohort_week", "weeks_since")
    }),

    // Ordered funnel view → click → purchase: stage k counts users
    // whose earliest stage-k event at-or-after their stage-(k-1)
    // entry exists. Chained user-partition window mins (each select
    // is a separate Window pass over the SAME partitioning, so the
    // exchange is planned once) — no self-joins, no collect.
    "f01_funnel" -> ((s, d) => {
      val wu = Window.partitionBy("user_id")
      ev(s, d)
        .withColumn("t1",
          min(when(col("event_type") === "view", col("epoch_s"))).over(wu))
        .withColumn("t2",
          min(when(col("event_type") === "click" &&
            col("epoch_s") >= col("t1"), col("epoch_s"))).over(wu))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" &&
            col("epoch_s") >= col("t2"), col("epoch_s"))).over(wu))
        .agg(
          countDistinct(when(col("t1").isNotNull, col("user_id"))).as("users_view"),
          countDistinct(when(col("t2").isNotNull, col("user_id"))).as("users_click"),
          countDistinct(when(col("t3").isNotNull, col("user_id"))).as("users_purchase"))
    }),

    // Gap sessionization (batch analog of st03's session window):
    // session break = gap > SessionGapSec; session ordinal = running
    // sum of breaks; then per-session shape stats. lag + running sum
    // share one user-partition sort.
    "w04_sessionize" -> ((s, d) => {
      val wo = Window.partitionBy("user_id").orderBy(col("epoch_s"), col("event_id"))
      ev(s, d)
        .withColumn("brk",
          when(col("epoch_s") - lag(col("epoch_s"), 1).over(wo) > SessionGapSec, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("brk")).over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("epoch_s")).as("started_s"),
          (max(col("epoch_s")) - min(col("epoch_s"))).as("duration_s"))
        .orderBy("user_id", "session_id")
    }),

    // First-order Markov transition matrix over per-user event
    // sequences — the sequence-model summary (next-event priors,
    // funnel leakage, session-flow graphs) built from the same single
    // user-partition sort the other operators share: lead(1) pairs,
    // pair counts (map-side combinable), then row-normalization over
    // a per-from_type window (5 rows per partition — trivially
    // bounded since the event-type alphabet is small by definition).
    "r02_transitions" -> ((s, d) => {
      val wo = Window.partitionBy("user_id").orderBy(col("epoch_s"), col("event_id"))
      val pairs = ev(s, d)
        .withColumn("next_type", lead(col("event_type"), 1).over(wo))
        .filter(col("next_type").isNotNull)
        .groupBy(trim(col("event_type")).as("from_type"),
          trim(col("next_type")).as("to_type"))
        .agg(count(lit(1)).as("n"))
      val wf = Window.partitionBy("from_type")
      pairs
        .withColumn("p", round(
          col("n").cast(DoubleType) / sum(col("n")).over(wf).cast(DoubleType), 6))
        .orderBy("from_type", "to_type")
    }),

    // Last-touch conversion attribution — f01's funnel made
    // row-level: each purchase is credited to the user's most recent
    // click within the 7-day lookback (null = unattributed organic
    // conversion). ONE user-partition window pass: two LOCF columns
    // (click epoch + click id, both `last(..., ignoreNulls)` over the
    // same frame, so they always describe the same click row) carried
    // forward along the per-user timeline — never a purchases×clicks
    // self-join, which would be quadratic in per-user activity and a
    // second exchange. The window cut is applied AFTER the carry, so
    // an out-of-window click yields null rather than falling back to
    // an older one (last-touch semantics, not any-touch).
    "at01_attribution" -> ((s, d) => {
      val wo = Window.partitionBy("user_id").orderBy(col("epoch_s"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isClick = trim(col("event_type")) === "click"
      ev(s, d)
        // only clicks (sources) and purchases (targets) participate —
        // the pre-filter cuts the window exchange/sort by the other
        // event types' share (~3/5 of the table) with identical output
        .filter(trim(col("event_type")).isin("click", "purchase"))
        .withColumn("click_ep",
          last(when(isClick, col("epoch_s")), ignoreNulls = true).over(wo))
        .withColumn("click_id",
          last(when(isClick, col("event_id")), ignoreNulls = true).over(wo))
        .filter(trim(col("event_type")) === "purchase")
        .withColumn("gap", col("epoch_s") - col("click_ep"))
        .select(col("event_id"), col("user_id"),
          when(col("gap") <= AttribWindowSec, col("click_id")).as("click_event_id"),
          when(col("gap") <= AttribWindowSec, col("gap")).as("gap_s"))
        .orderBy("event_id")
    }),

    // Time-series regularization: hourly per-line counts on a COMPLETE
    // hour spine (empty hours zero-filled) with the hourly mean value
    // forward-filled across gaps (last observation carried forward) —
    // the resample step every downstream model/report needs before
    // treating event data as a regular series. The spine is built
    // in-plan from a 1-row min/max frame (sequence + explode — no
    // collect, no driver loop); the grid is spine × distinct lines
    // (tiny × tiny); the ffill is one window pass per line. At 100 TB
    // the spine stays calendar-bounded (a decade ≈ 90k hours) and the
    // heavy side — the hourly aggregate — is one map-side-combinable
    // exchange; leading nulls before a line's first observation stay
    // null by LOCF definition. Hourly means are decimal-exact
    // (Tables.davg) so the fill copies bit-identical doubles.
    "ts01_gapfill" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        trim(col("event_type")).as("line"),
        date_trunc("hour", col("ts")).as("h"), col("value"))
      val hourly = e.groupBy("line", "h").agg(
        count(lit(1)).as("n_events"),
        Tables.davg(col("value")).as("avg_v"))
      val spine = e.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
        .crossJoin(broadcast(e.select("line").distinct()))
      val w = Window.partitionBy("line").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("line", "h"), "left")
        .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
        .withColumn("ffill", last(col("avg_v"), ignoreNulls = true).over(w))
        .select(col("line"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("n_events"), round(col("ffill"), 6).as("avg_value_ffill"))
        .orderBy("line", "hour_ts")
    }),

    // Rolling 3-hour window stats over the per-line hourly series —
    // ts01's sibling with a RANGE frame instead of a spine: the frame
    // is bounded by the EVENT-TIME axis (epoch seconds in
    // [h-7200, h]), not by row offsets, so gaps in the series shrink
    // the window instead of silently stretching it across missing
    // hours — the semantic difference between RANGE and ROWS that
    // matters on irregular series. The heavy exchange is the hourly
    // pre-aggregate (map-side combinable); the window pass then sorts
    // only the tiny per-line hourly frame. Rolling sums stay DECIMAL
    // through the frame aggregation (both engines may evaluate
    // sliding frames with different add/evict orders — exact decimal
    // addition is order-immune where double addition is not) and cast
    // to double only at the final projection.
    "ts02_rolling" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        trim(col("event_type")).as("line"),
        date_trunc("hour", col("ts")).as("h"), col("value"))
      val hourly = e.groupBy("line", "h").agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).as("dec_v"),
        count(col("value")).as("n_v"))
      val w = Window.partitionBy("line").orderBy(col("epoch_s"))
        .rangeBetween(-7200L, 0L)
      hourly
        .withColumn("epoch_s", floor(col("h").cast(DoubleType)).cast(LongType))
        .withColumn("roll_hours", count(lit(1)).over(w))
        .withColumn("roll_events", sum(col("n_events")).over(w))
        .withColumn("roll_avg", round(
          sum(col("dec_v")).over(w).cast(DoubleType) /
            sum(col("n_v")).over(w).cast(DoubleType), 6))
        .select(col("line"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
          col("n_events"), col("roll_hours"), col("roll_events"), col("roll_avg"))
        .orderBy("line", "hour_ts")
    }),

    // Exact distributed heavy hitters (the "which keys dominate"
    // question every 100 TB pipeline asks before skew handling,
    // blocklisting, or per-key quotas): two passes, neither of which
    // shuffles the full distinct-key set. Pass 1 folds the stream
    // into a bounded Misra-Gries sketch ([[graft.functions
    // .MisraGries]], k counters/task, mergeable with the n/(k+1)
    // error bound intact), whose candidate set provably contains
    // every key with count > n/(k+1). Pass 2 recounts ONLY rows
    // matching the ≤ k broadcast candidates and applies the exact
    // threshold — so the result is bit-equal to the naive global
    // groupBy (hash-matches the plain HAVING oracle) while the heavy
    // exchange ships O(tasks·k) sketch state instead of one row per
    // distinct key. The 1-row sketch frame joins in-plan via
    // broadcast crossJoin (no driver collect).
    "hh01_heavy_hitters" -> ((s, d) => {
      val e = Tables.events(s, d)
        .filter(col("user_id").isNotNull).select(col("user_id"))
      val sk = e.agg(expr("mg_sketch(CAST(user_id AS STRING))").as("sk"))
        .select(col("sk.items").as("cands"), col("sk.n").as("n_total"))
      e.crossJoin(broadcast(sk))
        .filter(array_contains(col("cands"), col("user_id").cast(StringType)))
        .groupBy(col("user_id"), col("n_total"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * lit(HeavyK + 1L) > col("n_total"))
        .select(col("user_id"), col("cnt"))
        .orderBy(col("cnt").desc, col("user_id").asc)
    }),

    // Mergeable histogram quantiles (hh01's sibling: the "what does
    // the value distribution look like" sketch every 100 TB pipeline
    // keeps per partition/day): pass 1 is a 1-row min/max/count agg,
    // pass 2 bins every value into QuantBins equal-width buckets —
    // a map-side-combinable ≤QuantBins-key groupBy whose per-task
    // state is a fixed-size array regardless of cardinality, and
    // whose partial histograms MERGE BY ADDITION (the property that
    // lets production keep one histogram per day/partition and fold
    // them later). The quantile read-off walks the ≤QuantBins-row
    // cumulative frame: for each q it reports the first bin whose
    // cumulative count reaches ceil(q·n), i.e. a bracketing interval
    // [bin_lo, bin_hi] with deterministic error ≤ range/QuantBins.
    // Unlike t-digest/GK the answer is bit-reproducible under any
    // partitioning / merge order, so the DuckDB oracle hash-matches
    // exactly (a13 keeps the exact-percentile role; this is the
    // bounded-state scale path). Everything past the binning scan is
    // broadcast-tiny (≤QuantBins rows).
    "qs01_hist_quantiles" -> ((s, d) => {
      val v = Tables.events(s, d)
        .filter(col("value").isNotNull).select(col("value"))
      val bounds = v.agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"))
      val hist = v.crossJoin(broadcast(bounds))
        .withColumn("bin", expr(
          s"""CASE WHEN hi = lo THEN 0
             |ELSE least(${QuantBins - 1},
             |           CAST(floor((value - lo) / ((hi - lo) / $QuantBins.0)) AS INT))
             |END""".stripMargin))
        .groupBy("bin").agg(count(lit(1)).as("c"))
      val cum = hist.withColumn("n_le",
        sum(col("c")).over(Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val qf = s.sql(Quantiles
        .map(q => s"SELECT CAST($q AS DOUBLE) AS q").mkString("\n UNION ALL\n "))
      val chosen = qf.crossJoin(broadcast(bounds))
        .withColumn("target", expr("CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT)"))
        .join(cum, col("n_le") >= col("target"))
        .groupBy("q", "lo", "hi").agg(min(col("bin")).as("bin"))
      chosen.join(cum.select(col("bin"), col("n_le")), "bin")
        .select(col("q"), col("bin"),
          expr(s"lo + CAST(bin AS DOUBLE) * ((hi - lo) / $QuantBins.0)").as("bin_lo"),
          expr(s"lo + (CAST(bin AS DOUBLE) + 1.0) * ((hi - lo) / $QuantBins.0)").as("bin_hi"),
          col("n_le"))
        .orderBy("q")
    })
  )

  val oracle: Map[String, String] = Map(
    "r01_retention" ->
      """WITH wk AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
        |),
        |c AS (
        |  SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort FROM wk
        |)
        |SELECT CAST(cohort AS VARCHAR) AS cohort_week,
        |       CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS weeks_since,
        |       count(DISTINCT user_id) AS users
        |FROM c GROUP BY 1, 2 ORDER BY cohort_week, weeks_since""".stripMargin,

    "f01_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        |  FROM events
        |),
        |s1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN epoch_s END)
        |              OVER (PARTITION BY user_id) AS t1 FROM e
        |),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND epoch_s >= t1
        |                     THEN epoch_s END)
        |              OVER (PARTITION BY user_id) AS t2 FROM s1
        |),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND epoch_s >= t2
        |                     THEN epoch_s END)
        |              OVER (PARTITION BY user_id) AS t3 FROM s2
        |)
        |SELECT count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS users_view,
        |       count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS users_click,
        |       count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS users_purchase
        |FROM s3""".stripMargin,

    "w04_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id,
         |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
         |  FROM events
         |),
         |g AS (
         |  SELECT *, CASE WHEN epoch_s - lag(epoch_s) OVER w > ${SessionGapSec}
         |                 THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s, event_id)
         |),
         |sess AS (
         |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY epoch_s, event_id
         |                           ROWS UNBOUNDED PRECEDING) + 1 AS session_id
         |  FROM g
         |)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |       count(*) AS n_events,
         |       min(epoch_s) AS started_s,
         |       max(epoch_s) - min(epoch_s) AS duration_s
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "r02_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        |  FROM events
        |),
        |p AS (
        |  SELECT trim(event_type) AS from_type,
        |         trim(lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY epoch_s, event_id)) AS to_type
        |  FROM e
        |),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type
        |)
        |SELECT from_type, to_type, n,
        |       round(CAST(n AS DOUBLE)
        |             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "ts01_gapfill" ->
      """WITH e AS (
        |  SELECT trim(event_type) AS line, date_trunc('hour', ts) AS h, value
        |  FROM events
        |),
        |hourly AS (
        |  SELECT line, h, count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |           / CAST(count(value) AS DOUBLE) AS avg_v
        |  FROM e GROUP BY line, h
        |),
        |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
        |spine AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span
        |),
        |grid AS (
        |  SELECT l.line, s.h FROM spine s CROSS JOIN (SELECT DISTINCT line FROM e) l
        |),
        |j AS (
        |  SELECT g.line, g.h, coalesce(n_events, 0) AS n_events, avg_v
        |  FROM grid g LEFT JOIN hourly USING (line, h)
        |)
        |SELECT line, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts, n_events,
        |       round(last_value(avg_v IGNORE NULLS) OVER (
        |         PARTITION BY line ORDER BY h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS avg_value_ffill
        |FROM j ORDER BY line, hour_ts""".stripMargin,

    "ts02_rolling" ->
      """WITH e AS (
        |  SELECT trim(event_type) AS line, date_trunc('hour', ts) AS h, value
        |  FROM events
        |),
        |hourly AS (
        |  SELECT line, h, count(*) AS n_events,
        |         sum(CAST(value AS DECIMAL(18,4))) AS dec_v,
        |         count(value) AS n_v,
        |         CAST(floor(epoch(h)) AS BIGINT) AS epoch_s
        |  FROM e GROUP BY line, h
        |)
        |SELECT line, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts, n_events,
        |       count(*) OVER w AS roll_hours,
        |       CAST(sum(n_events) OVER w AS BIGINT) AS roll_events,
        |       round(CAST(sum(dec_v) OVER w AS DOUBLE)
        |             / CAST(sum(n_v) OVER w AS DOUBLE), 6) AS roll_avg
        |FROM hourly
        |WINDOW w AS (PARTITION BY line ORDER BY epoch_s
        |             RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW)
        |ORDER BY line, hour_ts""".stripMargin,

    "at01_attribution" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, trim(event_type) AS et,
         |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
         |  FROM events
         |  WHERE trim(event_type) IN ('click', 'purchase')
         |),
         |l AS (
         |  SELECT *,
         |         last_value(CASE WHEN et = 'click' THEN epoch_s END IGNORE NULLS)
         |           OVER w AS click_ep,
         |         last_value(CASE WHEN et = 'click' THEN event_id END IGNORE NULLS)
         |           OVER w AS click_id
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s, event_id
         |               ROWS UNBOUNDED PRECEDING)
         |)
         |SELECT event_id, user_id,
         |       CASE WHEN epoch_s - click_ep <= $AttribWindowSec THEN click_id END
         |         AS click_event_id,
         |       CASE WHEN epoch_s - click_ep <= $AttribWindowSec
         |            THEN epoch_s - click_ep END AS gap_s
         |FROM l WHERE et = 'purchase' ORDER BY event_id""".stripMargin,

    // The naive exact form — the MG-sketched plan must reproduce it
    // bit-for-bit (candidate superset + exact recount + threshold).
    "hh01_heavy_hitters" ->
      s"""WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
         |tot AS (SELECT count(*) AS n FROM e)
         |SELECT user_id, count(*) AS cnt
         |FROM e, tot
         |GROUP BY user_id, tot.n
         |HAVING count(*) * ${HeavyK + 1} > tot.n
         |ORDER BY cnt DESC, user_id""".stripMargin,

    // Same two-pass histogram walk; every double expression is
    // written with the identical operation order (IEEE-deterministic)
    // so the bracketing bin and its bounds hash-match.
    "qs01_hist_quantiles" ->
      s"""WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
         |bounds AS (SELECT min(value) AS lo, max(value) AS hi,
         |                  count(*) AS n FROM v),
         |hist AS (
         |  SELECT CASE WHEN hi = lo THEN 0
         |              ELSE least(${QuantBins - 1},
         |                         CAST(floor((value - lo) / ((hi - lo) / $QuantBins.0)) AS INT))
         |         END AS bin, count(*) AS c
         |  FROM v, bounds GROUP BY 1
         |),
         |cum AS (
         |  SELECT bin, c, CAST(sum(c) OVER (ORDER BY bin
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_le
         |  FROM hist
         |),
         |qf AS (${Quantiles.map(q => s"SELECT CAST($q AS DOUBLE) AS q").mkString("\n UNION ALL ")}),
         |chosen AS (
         |  SELECT q, lo, hi, min(bin) AS bin
         |  FROM qf, bounds, cum
         |  WHERE n_le >= CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT)
         |  GROUP BY q, lo, hi
         |)
         |SELECT ch.q, ch.bin,
         |       ch.lo + CAST(ch.bin AS DOUBLE) * ((ch.hi - ch.lo) / $QuantBins.0) AS bin_lo,
         |       ch.lo + (CAST(ch.bin AS DOUBLE) + 1.0) * ((ch.hi - ch.lo) / $QuantBins.0) AS bin_hi,
         |       cum.n_le
         |FROM chosen ch JOIN cum ON cum.bin = ch.bin
         |ORDER BY q""".stripMargin
  )
}
