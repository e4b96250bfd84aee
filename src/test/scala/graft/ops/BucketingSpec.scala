package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TempDirs}

/** Proves the 100 TB co-location story concretely: when both join
  * sides are bucketed on the join key, the sort-merge join runs with
  * NO shuffle exchange — the physical layout replaces the network
  * step. This is the layout the engine would use for fact-fact joins
  * (lineitem ⋈ orders) at cluster scale (SURVEY.md §7.6).
  */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val warehouse = TempDirs.create("graft-bucket").toString
    val sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    spark.conf.set("spark.sql.adaptive.enabled", "false") // stable plan text
    try {
      Tables.lineitem(spark, sf).write
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$warehouse/li_b").mode("overwrite").saveAsTable("li_b")
      Tables.orders(spark, sf).write
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$warehouse/o_b").mode("overwrite").saveAsTable("o_b")

      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // the JOIN itself must not shuffle: the only exchange allowed is
      // the one feeding the final small aggregation
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinSection.contains("Exchange hashpartitioning(o_orderkey"), plan)

      // and it still computes the right answer
      val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val direct = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBuckets === direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
