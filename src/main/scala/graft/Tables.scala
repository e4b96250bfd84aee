package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every query builder goes through [[pin]], which fixes the session's
  * SQL semantics that the engine relies on (SURVEY.md §7.5). Functions
  * and the local file system come from [[GraftExtensions]], which every
  * session already carries.
  *
  *   - ANSI OFF by default (round-11 claw-back of the round-10
  *     ANSI-on flip): an ABBA lane sweep measured ANSI-on at a uniform
  *     **+9.2% warm** across the 69-query headline on a
  *     healthy-calibrated host (ABBA lane order, min-per-lane;
  *     SCALE_NOTES "Round-11: the ANSI lane tax") — the round-10
  *     drift the verdict flagged. Both lanes are proven
  *     row-identical (AnsiLaneSpec, tools/AnsiProbe 200/200 re-run
  *     under the round-11 default), so the
  *     lane choice is a THROUGHPUT knob, not a correctness one: the
  *     engine's malformed-input handling goes through try_* forms
  *     and overflow-free arithmetic in BOTH lanes, and its parity
  *     contract is the reference's pre-ANSI null-on-bad-cast
  *     semantics (/root/reference/gtfstransformerSilver.py:36-41).
  *     `spark.graft.ansiLane=true` opts into checked ANSI semantics
  *     for user SQL that wants throw-on-overflow;
  *   - UTC session timezone (zone-less `Time` strings);
  *   - nanosecond-parquet timestamps read as long and normalized, so
  *     the engine is deterministic across Parquet timestamp units;
  *   - adaptive query execution on.
  *
  * These are runtime-mutable session confs, safe to set even though the
  * caller owns the SparkSession.
  */
object Tables {

  def pin(spark: SparkSession): Unit = {
    // ANSI is OFF by default (round-11 claw-back; see the scaladoc
    // above — the +9.2% measured lane tax bought nothing: results are
    // lane-identical and the parity contract is pre-ANSI).
    // `spark.graft.ansiLane=true` opts into the checked-semantics lane.
    val ansiOn = spark.conf.getOption("spark.graft.ansiLane").contains("true")
    spark.conf.set("spark.sql.ansi.enabled", ansiOn.toString)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet stores ts as TIMESTAMP(NANOS,...): read the raw
    // int64 and truncate to micros ourselves (see events()) instead of
    // depending on version-specific nanos support.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    pin(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** `events` with `ts` normalized to TimestampType — microsecond
    * truncation of the stored nanoseconds, identical to how DuckDB's
    * TIMESTAMP (micros) cast of the same column behaves.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // integer division: double division would lose precision at
        // ~1.7e18 ns epoch values (> 2^53)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Exact, order-independent, engine-independent aggregation of a
    * double column: fix the scale per row (decimal cast), sum exactly,
    * return double. Matches the oracle pattern
    * `CAST(sum(CAST(x AS DECIMAL(18,s))) AS DOUBLE)` bit-for-bit,
    * immune to FP-summation-order differences between Spark's parallel
    * partial aggregates and DuckDB's sequential sum (SURVEY.md §7.3).
    */
  def dsum(c: org.apache.spark.sql.Column, scale: Int = 4): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Exact mean via dsum / count — deterministic double division. */
  def davg(c: org.apache.spark.sql.Column, scale: Int = 4): org.apache.spark.sql.Column =
    dsum(c, scale) / count(c).cast(DoubleType)
}
