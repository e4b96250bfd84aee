package graft.tools

/** Scans every catalog query's physical plan for repeated EXPENSIVE
  * expression markers — the fingerprint of the alias-inlining /
  * inferred-filter double-evaluation pathologies (SCALE_NOTES History
  * #7 and the df01/dd09 materialization barriers). Prints any query
  * where a marker appears more often than its threshold; silence
  * means the catalog is clean.
  *
  * Usage: tools/run.sh graft.tools.PlanScan [sfDir]
  */
object PlanScan {
  // marker -> max benign occurrences in one plan (md5 appears once
  // per phash call site; several operators legitimately hash 2-3
  // distinct inputs, and minhash CTE-style pipelines reuse a cached
  // stage so their md5 shows once)
  private val markers: Seq[(String, Int)] = Seq(
    "tokenstats(" -> 1,
    "levenshtein(" -> 1,
    "regexp_extract_all(" -> 4,
    "simhash_mix(" -> 1,
    "minhash_mix(" -> 2,
    "array_distinct(" -> 4,
    "aggregate(" -> 6)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(4)
    // Effective plan text for counting: flat per-node verbose strings
    // of the plan tree (+ subqueries), with each DISTINCT cached
    // relation's build plan counted ONCE. treeString reprints a
    // cached subtree under every InMemoryTableScan consumer (runtime
    // computes it once), which false-flagged dd05's twice-consumed
    // posting cache as an 8× recompute.
    def effectiveText(p: org.apache.spark.sql.execution.SparkPlan,
        seen: scala.collection.mutable.Set[AnyRef]): String = {
      val own = p.collectWithSubqueries { case n => n.verboseString(Int.MaxValue) }
        .mkString("\n")
      val cached = p.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          s.relation
      }
      val extra = cached.flatMap { r =>
        if (seen.add(r.cacheBuilder)) Some(effectiveText(r.cachedPlan, seen)) else None
      }
      (own +: extra).mkString("\n")
    }

    var flagged = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = effectiveText(
          fn(spark, sfDir).queryExecution.executedPlan,
          scala.collection.mutable.Set.empty[AnyRef])
        val lower = plan.toLowerCase
        markers.foreach { case (m, limit) =>
          // word boundary: "aggregate(" must not match "HashAggregate("
          val re = ("(?<![a-z0-9_])" + java.util.regex.Pattern.quote(m)).r
          val n = re.findAllMatchIn(lower).length
          if (n > limit) {
            flagged += 1
            println(f"$name%-26s $m%-22s x$n (limit $limit)")
          }
        }
      } catch { case e: Throwable =>
        println(s"$name ERR ${e.getMessage.take(80)}")
      }
    }
    println(s"flagged: $flagged")
    spark.stop()
  }
}
