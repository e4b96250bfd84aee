package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.ops.{Analytics, Breadth, Curation, DataQuality, Dedup, Graph, Incremental, Joins, Layout, LexIndex, Multimodal, Pipeline, Relational, Similarity, TextAnalysis}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one named entry per implemented operator from
  * SURVEY.md §2 (plus extensions); `oracleSql` carries the equivalent
  * DuckDB SQL for the driver's correctness compare. Column names are
  * aliased identically on both sides (the compare sorts columns by
  * name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full reference pipeline analog: silver transform →
    * window-lag enrichment → daily per-line report (SURVEY.md §3.1).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.report(spark, "/root/testdata/sf0.001").orderBy("line")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Joins.queries ++ Breadth.queries ++ Dedup.queries ++
      Similarity.queries ++ TextAnalysis.queries ++ LexIndex.queries ++ Curation.queries ++
      Multimodal.queries ++ DataQuality.queries ++ Incremental.queries ++ Streams.queries ++
      Analytics.queries ++ Layout.queries ++ Graph.queries ++ Pipeline.queries

  def oracleSql: Map[String, String] =
    Relational.oracle ++ Joins.oracle ++ Breadth.oracle ++ Dedup.oracle ++
      Similarity.oracle ++ TextAnalysis.oracle ++ LexIndex.oracle ++ Curation.oracle ++
      Multimodal.oracle ++ DataQuality.oracle ++ Incremental.oracle ++ Streams.oracle ++
      Analytics.oracle ++ Layout.oracle ++ Graph.oracle ++ Pipeline.oracle
}
