package graft.tools

import org.apache.spark.sql.functions.{col, lit, pmod}

/** Dev tool (round 17): print the SERVING-path physical plans of the
  * index-lifecycle catalog entries. Those entries return
  * localCheckpoint-pinned decision frames (so their catalog plan is
  * an opaque `Scan ExistingRDD`); the plan claims that matter — the
  * pushed impact cap, the fold visibility predicate, the
  * tombstone over-fetch + broadcast mask + re-cap, the bucket-pruned
  * band probe — live on the PROBE functions. This builds each
  * family's fixture state (persist → append → fold / retire) at the
  * given scale and explains the probe frame BEFORE any checkpoint.
  * The vector block explains every vector serving lane: the four batch
  * probes and the four streaming cores, the latter over the catalog's
  * static arrival frame.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *          tools/run.sh graft.tools.PlanServe > plans.txt
  */
object PlanServe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.local(8)
    import graft.ops.{BandIndex, IndexCore, LexIndex, VecIndex}
    import graft.streaming.Streams
    import graft.Tables

    val docs = Tables.documents(spark, dir)

    // ---- lexical: fresh index on 3/4, three stamped sub-tier
    // appends, one tiered fold → segmentProbe over base + merged
    // segment (tx23/tx26/tx27's serving lane)
    {
      val prefix = s"graft_lex_planserve_${Integer.toHexString(dir.hashCode)}"
      val path = IndexCore.newTempDir("planserve-lex")
      LexIndex.persist(spark, dir, path, prefix,
        Some(docs.filter(pmod(col("doc_id"), lit(4)) =!= lit(0))))
      Seq(0, 4, 8).foreach { r =>
        LexIndex.maintainBatch(spark, dir, prefix,
          docs.filter(pmod(col("doc_id"), lit(12)) === lit(r)), batchId = r.toLong)
      }
      LexIndex.tieredMerge(spark, prefix)
      println("========== serve:segmentProbe (tx23/tx26/tx27 lane: base + merged segment under the merge log) ==========")
      LexIndex.segmentProbe(spark, dir, prefix).explain("formatted")

      // pending tombstone → the masked impactProbe lane (tx25)
      LexIndex.mergeReindex(spark, prefix)
      LexIndex.retire(spark, prefix,
        docs.filter(col("doc_id") === 1L).select("doc_id"),
        corpus = Some(docs))
      println("========== serve:impactProbe+tombstones (tx25 lane: over-fetch, broadcast mask, re-cap) ==========")
      LexIndex.impactProbe(spark, dir, prefix).explain("formatted")
    }

    // ---- band: fresh index, three stamped appends, tiered fold →
    // probe under the merge-log visibility predicate (dd22 lane)
    {
      val prefix = BandIndex.ensurePersisted(spark, dir, "planserve")
      Seq(1L, 2L, 3L).foreach { b =>
        BandIndex.maintainBatch(spark, dir, prefix,
          docs.filter(col("source") === graft.ops.Dedup.IncBatchSrc)
            .filter(pmod(col("doc_id"), lit(3)) === lit(b - 1))
            .select("doc_id"), batchId = b)
      }
      BandIndex.tieredMerge(spark, prefix)
      println("========== serve:BandIndex.probe (dd22 lane: bucketed probe under the merge-log visibility predicate) ==========")
      BandIndex.probe(spark, dir, prefix).explain("formatted")
    }

    // ---- vector: persisted cells, three stamped appends, tiered
    // fold, one tombstone → every serving lane: the four batch probes,
    // then the four streaming cores over the catalog's static arrival
    // frame (st09/st12/st16/st17). Streams and batch read the same
    // masked frame, so each stream plan shows the batch plan's
    // visibility filter and tombstone anti-join.
    {
      val prefix = VecIndex.ensurePersisted(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      Seq(1L, 2L, 3L).foreach { b =>
        VecIndex.maintainBatch(spark, dir, prefix,
          emb.filter(pmod(col("vec_id"), lit(97)) === lit(b))
            .select("vec_id", "embedding"), batchId = 100 + b)
      }
      VecIndex.tieredMerge(spark, prefix)
      val covering = VecIndex.ensureCoveringPersisted(spark, dir)
      val pq = VecIndex.ensurePqPersisted(spark, dir)
      val retired = emb.filter(col("vec_id") === 1L).select("vec_id")
      VecIndex.retireTombstone(spark, prefix, retired)
      VecIndex.retireTombstone(spark, covering, retired)
      VecIndex.pqRetireTombstone(spark, pq, retired)
      val arrivals = Streams.arrivalQueries(spark, dir, withLabel = false)
      val labelled = Streams.arrivalQueries(spark, dir, withLabel = true)
      Seq(
        "VecIndex.probe (sim14/sim30 lane: cell-pruned probe under the merge-log visibility predicate)" ->
          VecIndex.probe(spark, dir, prefix),
        "VecIndex.filteredProbe (sim22 lane: label dimension join)" ->
          VecIndex.filteredProbe(spark, dir, prefix),
        "VecIndex.coveringFilteredProbe (sim23 lane: label from the covering cell row)" ->
          VecIndex.coveringFilteredProbe(spark, dir, covering),
        "VecIndex.pqProbe (sim18 lane: ADC through the per-query distance table)" ->
          VecIndex.pqProbe(spark, dir, pq),
        "VecIndex.annTopK (st09 stream core)" ->
          VecIndex.annTopK(spark, dir, prefix, arrivals),
        "VecIndex.filteredAnnTopK (st16 stream core)" ->
          VecIndex.filteredAnnTopK(spark, dir, prefix, labelled),
        "VecIndex.coveringFilteredAnnTopK (st17 stream core)" ->
          VecIndex.coveringFilteredAnnTopK(spark, dir, covering, labelled),
        "VecIndex.pqAnnTopK (st12 stream core: ADC through the static codebook join)" ->
          VecIndex.pqAnnTopK(spark, dir, pq, arrivals)
      ).foreach { case (lane, df) =>
        println(s"========== serve:$lane ==========")
        df.explain("formatted")
      }
    }

    spark.stop()
  }
}
