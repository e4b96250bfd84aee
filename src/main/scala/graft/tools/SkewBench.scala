package graft.tools

import org.apache.spark.sql.functions._

/** Measures the three skew-join remedies against each other on a
  * synthetically skewed j02-shaped (fact ⋈ keys → agg) join, backing
  * the engine's 100 TB posture ("fact-fact joins rely on AQE for
  * skew", ops/Joins.scala) with numbers instead of an assertion.
  *
  * Shape: the x-replicated lineitem with every 4th orderkey remapped
  * to one hot key (~25% of the fact in a single join partition),
  * joined to a one-row-per-key orders projection, then aggregated.
  * Sort-merge is forced (autoBroadcastJoinThreshold=-1 — at 100 TB
  * both sides are fact-sized). Three configs, min-of-2 each:
  *
  *   aqe_skew_on  — AQE with skewJoin enabled, thresholds lowered to
  *                  fire at this data size (the defaults are tuned
  *                  for 256 MB+ partitions);
  *   aqe_skew_off — AQE coalescing only, the hot partition rides one
  *                  reducer end to end;
  *   salted       — ops/Salting.saltedInnerJoin ×32, AQE skew off.
  *
  * Usage: tools/run.sh graft.tools.SkewBench [repl]   (default 10 —
  * expects /tmp/graft-scale-x{repl} from a prior ScaleStress run)
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val repl = args.headOption.map(_.toInt).getOrElse(10)
    val dir = s"/tmp/graft-scale-x$repl"
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Session.local(cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val HotKey = 0L
    def fact() = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(
        when(col("l_orderkey") % 4 === 0, lit(HotKey))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_orderkey"), col("l_quantity"))
    def keys() = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") % 4 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .unionAll(spark.range(1).select(lit(HotKey).as("k"), lit(1.0).as("v")))

    def agg(joined: org.apache.spark.sql.DataFrame): Unit = {
      joined.agg(count(lit(1)), sum(col("l_quantity") * col("v"))).collect()
      ()
    }

    def timed(label: String)(body: => Unit): Unit = {
      def once(): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val best = math.min(once(), once())
      println(f"$label%-14s $best%7.2f s")
    }

    def setSkew(on: Boolean, thresholdMb: Int = 256, advisoryMb: Int = 64,
        factor: Int = 5): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        s"${thresholdMb}m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${advisoryMb}m")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        factor.toString)
    }

    println(s"skew bench over $dir (hot key = ~25% of fact)")
    setSkew(on = true) // stock defaults (256m/64m/5)
    timed("aqe_default") { agg(fact().join(keys(), "k")) }
    setSkew(on = true, thresholdMb = 8, advisoryMb = 4, factor = 2)
    // over-aggressive split: each hot-partition slice re-reads the
    // right side's whole matching partition — splits must be paid
    // for by the left-side win
    timed("aqe_aggressive") { agg(fact().join(keys(), "k")) }
    setSkew(on = false)
    timed("aqe_skew_off") { agg(fact().join(keys(), "k")) }
    timed("salt_blanket") {
      agg(graft.ops.Salting.saltedInnerJoin(fact(), keys(), "k",
        buckets = 32, saltSource = "l_orderkey"))
    }
    timed("salt_hot_only") {
      agg(graft.ops.Salting.skewSplitJoin(fact(), keys(), "k",
        hotKeys = Seq(HotKey), buckets = 32, saltSource = "l_orderkey"))
    }
    // the j14 composition: hot keys DETECTED in-plan by a Misra-Gries
    // sketch pass instead of hand-supplied — the price of detection
    // is one extra scan of the fact; the join itself should match
    // salt_hot_only (the candidate set contains the hot key, and
    // false positives only add a few replicated right rows)
    timed("salt_sketch") {
      val f = fact()
      // localCheckpoint caps detection at ONE fact scan (j14's note:
      // the hot frame is embedded 4× and exchange reuse doesn't fire)
      val hot = f.agg(expr("mg_sketch(CAST(k AS STRING))").as("sk"))
        .select(explode(col("sk.items")).as("ks"))
        .select(col("ks").cast("long").as("k"))
        .localCheckpoint()
      agg(graft.ops.Salting.skewSplitJoinByFrame(f, keys(), "k", hot,
        buckets = 32, saltSource = "l_orderkey"))
    }
    spark.stop()
  }
}
