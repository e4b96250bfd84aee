package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Superseded-checkpoint hygiene for iterative dataflows (PageRank,
  * BPE training): each eager `localCheckpoint` pins an RDD in block
  * storage, and once the NEXT checkpoint materializes, the previous
  * one is unreachable — a deep loop would otherwise accumulate one
  * dead frame per round (measured as GC-pressure drift; SCALE_NOTES
  * "Round-8: PageRank depth — the checkpoint cadence measured").
  *
  * The released RDD is identified FROM THE CHECKPOINTED FRAME'S OWN
  * PLAN (the LogicalRDD the checkpoint returns), never by diffing the
  * session-global persistent-RDD set: on a cold session the
  * checkpoint job can also be the first action to materialize
  * session-wide memo caches, and a keyset diff would capture those
  * InMemoryRelation buffers as "added" and destroy them on the next
  * roll (round-8 ADVICE, medium).
  */
private[graft] object Ckpt {

  /** Eagerly localCheckpoint `df`, release the RDDs pinned by the
    * PREVIOUS roll, and return (checkpointed frame, its RDD ids) for
    * the next roll. */
  def roll(s: SparkSession, df: DataFrame,
      prev: scala.collection.Set[Int]): (DataFrame, scala.collection.Set[Int]) = {
    val out = df.localCheckpoint()
    val ids = out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    prev.foreach(id =>
      s.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    (out, ids)
  }
}
