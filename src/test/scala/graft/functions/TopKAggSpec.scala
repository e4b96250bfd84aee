package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** TopKStructs = the window row_number top-k, under shuffles: the
  * aggregate's (update, merge, serialize) path must produce exactly
  * the rows `row_number() OVER (ORDER BY struct ASC) <= k` keeps,
  * per group, regardless of partitioning. Data is deterministic
  * pseudo-random (hash-derived), spread over many partitions so the
  * partial-merge path actually runs.
  */
class TopKAggSpec extends SparkSpec {

  test("topk_struct equals window top-k per group across partitions") {
    import org.apache.spark.sql.expressions.Window
    // 8 groups x 500 rows, values hash-derived; repartition(16) forces
    // cross-partition merges of partial top-k buffers
    val base = spark.range(4000).repartition(16)
      .select((col("id") % 8).as("g"),
        (hash(col("id")) % 1000).cast("double").as("v"),
        col("id").as("rid"))
      .select(col("g"), struct(col("v"), col("rid")).as("s"))
    val viaAgg = base.groupBy("g")
      .agg(expr("topk_struct(s, 5)").as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.v"), col("t.rid"))
      .collect().map(_.toSeq).toSet
    val viaWindow = base
      .select(col("g"), col("s.v").as("v"), col("s.rid").as("rid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(col("v").asc, col("rid").asc)))
      .filter(col("rn") <= 5).drop("rn")
      .collect().map(_.toSeq).toSet
    assert(viaAgg == viaWindow)

    // fewer rows than k: returns all, sorted
    val small = spark.range(3)
      .select(lit(0L).as("g"), struct(col("id").cast("double").as("v"),
        col("id").as("rid")).as("s"))
      .groupBy("g").agg(expr("topk_struct(s, 5)").as("top"))
      .select(size(col("top")).as("n")).head().getInt(0)
    assert(small == 3)
  }
}
