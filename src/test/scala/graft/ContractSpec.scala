package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants over the catalog itself — guards
  * against drift as operators are added: every `queries` entry must
  * carry a DuckDB oracle (the t2 correctness gate) unless it is on
  * the explicit, justified exception list.
  */
class ContractSpec extends AnyFunSuite {

  /** Catalog entries deliberately without an oracle, each with the
    * reason recorded here so the exception is auditable. */
  // Empty since round 7: a15's HLL error bound is asserted in-plan
  // (`within_bound`) and oracled on the exact side, so every catalog
  // entry now carries a DuckDB oracle.
  private val noOracleByDesign = Map.empty[String, String]

  test("every catalog query has an oracle or a recorded exception") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val missing = q -- o -- noOracleByDesign.keySet
    assert(missing.isEmpty,
      s"catalog entries without oracle or recorded exception: ${missing.toSeq.sorted.mkString(", ")}")
    val stale = o -- q
    assert(stale.isEmpty,
      s"oracle entries with no catalog query: ${stale.toSeq.sorted.mkString(", ")}")
    val obsoleteExceptions = noOracleByDesign.keySet -- q
    assert(obsoleteExceptions.isEmpty,
      s"exception list names absent queries: ${obsoleteExceptions.mkString(", ")}")
  }

  test("catalog names follow the family_slug convention") {
    val re = "^[a-z]+[0-9]+[a-z0-9]*(_[a-z0-9]+)*$".r
    val bad = SparkEntry.queries.keySet.filterNot(n => re.matches(n))
    assert(bad.isEmpty, s"non-conforming names: ${bad.toSeq.sorted.mkString(", ")}")
  }

  test("no cross-module name collisions: Map ++ must not silently drop an entry") {
    // mirror SparkEntry's composition — a duplicate key across two
    // module maps would vanish in ++ (last map wins) with no failure
    val modules: Seq[(String, Map[String, _])] = Seq(
      "Relational" -> ops.Relational.queries, "Joins" -> ops.Joins.queries,
      "Breadth" -> ops.Breadth.queries, "Dedup" -> ops.Dedup.queries,
      "Similarity" -> ops.Similarity.queries, "TextAnalysis" -> ops.TextAnalysis.queries,
      "LexIndex" -> ops.LexIndex.queries,
      "Curation" -> ops.Curation.queries, "Multimodal" -> ops.Multimodal.queries,
      "DataQuality" -> ops.DataQuality.queries, "Incremental" -> ops.Incremental.queries,
      "Streams" -> streaming.Streams.queries, "Analytics" -> ops.Analytics.queries,
      "Layout" -> ops.Layout.queries, "Graph" -> ops.Graph.queries,
      "Pipeline" -> ops.Pipeline.queries)
    val all = modules.flatMap { case (m, q) => q.keys.map(_ -> m) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"duplicate catalog names across modules: ${dups.map { case (k, ms) => s"$k in ${ms.map(_._2).mkString("+")}" }.mkString("; ")}")
    assert(all.size === SparkEntry.queries.size,
      "SparkEntry.queries lost entries to Map ++ overwrites")
  }
}
