package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

import graft.{SparkSpec, TempDirs}

/** The 100 TB ANN-serving proof: the IVF assignment persists as a
  * cluster-bucketed cell table, and the probe's read path contains no
  * corpus-wide re-scoring pass — the corpus is touched exactly once,
  * through the persisted table; every raw-embeddings scan left in the
  * plan is a bounded (vec_id < K, filter-pushed) centroid or query
  * frame. Decisions stay row-identical to sim04's derived-assignment
  * output (also pinned by the shared DuckDB oracle).
  */
class VecIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("persisted IVF probe equals sim04 and never re-scores the corpus") {
    val prefix = VecIndex.ensurePersisted(spark, sf)
    assert(VecIndex.ensurePersisted(spark, sf) == prefix,
      "second call must reuse the persisted index")

    val viaIndex = VecIndex.probe(spark, sf, prefix)
    val derived = Similarity.queries("sim04_ivf_ann")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaIndex.collect().map(_.toString).toSeq == derived,
      "persisted-index decisions diverge from sim04")

    // plan property — AQE off for a traversable tree. Set AFTER frame
    // construction (Tables.pin re-enables AQE on every table load);
    // the physical plan reads the conf at executedPlan time.
    val probeFrame = VecIndex.probe(spark, sf, prefix)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = probeFrame.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val (cellScans, rawScans) = scans.partition(
        _.relation.location.rootPaths.exists(_.toString.contains("graft-bandidx-vecsim14")))
      // the corpus moves through the probe EXACTLY once — one scan of
      // the persisted cell table, zero assignment recompute
      assert(cellScans.size == 1,
        s"expected exactly one persisted-cell scan:\n$plan")
      // every remaining embeddings scan is a bounded frame with its
      // vec_id bound PUSHED to parquet (centroids ×2, query batch)
      assert(rawScans.nonEmpty, s"probe lost its query/centroid scans:\n$plan")
      rawScans.foreach { s =>
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("LessThan(vec_id"),
          s"unbounded raw-embeddings scan in the probe plan:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** The sim14 plan property, re-assertable against any index prefix:
    * exactly one persisted-cell scan (identified by the index's temp
    * path marker), every raw-embeddings scan bounded with a pushed
    * vec_id filter. */
  private def assertProbePlan(probeFrame: DataFrame, pathMarker: String): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = probeFrame.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val (cellScans, rawScans) = scans.partition(
        _.relation.location.rootPaths.exists(_.toString.contains(pathMarker)))
      assert(cellScans.size == 1, s"expected exactly one persisted-cell scan:\n$plan")
      assert(rawScans.nonEmpty, s"probe lost its query/centroid scans:\n$plan")
      rawScans.foreach { s =>
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("LessThan(vec_id"),
          s"unbounded raw-embeddings scan in the probe plan:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def emb(dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")

  private def isNew = pmod(hash(col("vec_id")), lit(4)) === lit(0)

  test("append: a sliced build plus append equals the full build; plan and layout survive") {
    val path = TempDirs.create("graft-vecidx-specapp").toString
    val prefix = s"graft_vec_specapp_${System.nanoTime()}"
    try {
      VecIndex.persist(spark, sf, path, prefix, Some(emb(sf).filter(!isNew)))
      val filesBefore = IndexCore.tableFiles(spark, VecIndex.cellsTable(prefix)).size
      VecIndex.append(spark, sf, emb(sf).filter(isNew), prefix)
      assert(IndexCore.tableFiles(spark, VecIndex.cellsTable(prefix)).size > filesBefore,
        "append laid down no new file set")
      val viaAppend = VecIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq
      val full = Similarity.queries("sim04_ivf_ann")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(viaAppend == full, "appended index diverges from the full build")
      assertProbePlan(VecIndex.probe(spark, sf, prefix), "graft-vecidx-specapp")
    } finally VecIndex.drop(spark, prefix)
  }

  test("compact: one file per bucket; decisions and plan property survive") {
    val path = TempDirs.create("graft-vecidx-speccomp").toString
    val prefix = s"graft_vec_speccomp_${System.nanoTime()}"
    try {
      VecIndex.persist(spark, sf, path, prefix, Some(emb(sf).filter(!isNew)))
      Seq(0, 4, 8).foreach { r =>
        VecIndex.append(spark, sf,
          emb(sf).filter(pmod(hash(col("vec_id")), lit(12)) === lit(r)), prefix)
      }
      val grown = IndexCore.tableFiles(spark, VecIndex.cellsTable(prefix)).size
      assert(grown > VecIndex.Buckets,
        s"appends did not grow the file count ($grown) — fixture too small?")
      val before = VecIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq

      VecIndex.compact(spark, prefix)

      val files = IndexCore.tableFiles(spark, VecIndex.cellsTable(prefix))
      assert(files.size <= VecIndex.Buckets,
        s"cells not compacted: ${files.size} files\n${files.mkString("\n")}")
      val after = VecIndex.probe(spark, sf, prefix).collect().map(_.toString).toSeq
      assert(after == before, "compaction changed the decisions")
      assertProbePlan(VecIndex.probe(spark, sf, prefix), "graft-vecidx-speccomp")
    } finally VecIndex.drop(spark, prefix)
  }

  test("retire: retired vectors vanish; the index equals one that never held them") {
    val path = TempDirs.create("graft-vecidx-specret").toString
    val path2 = TempDirs.create("graft-vecidx-specref").toString
    val prefix = s"graft_vec_specret_${System.nanoTime()}"
    val refPrefix = s"graft_vec_specref_${System.nanoTime()}"
    try {
      VecIndex.persist(spark, sf, path, prefix)
      val dec0 = VecIndex.probe(spark, sf, prefix).localCheckpoint()
      val expired = dec0.select(col("neighbor_id").as("vec_id")).distinct()
      val expiredIds = expired.collect().map(_.getLong(0)).toSet
      assert(expiredIds.nonEmpty, "phase-0 probe returned no neighbors")

      VecIndex.retire(spark, prefix, expired)

      val after = VecIndex.probe(spark, sf, prefix).collect()
      after.foreach { r =>
        assert(!expiredIds(r.getLong(1)), s"retired vector still returned: $r")
      }
      // equals an index BUILT on the corpus minus the retired set
      VecIndex.persist(spark, sf, path2, refPrefix,
        Some(emb(sf).join(expired, Seq("vec_id"), "left_anti")))
      val never = VecIndex.probe(spark, sf, refPrefix).collect().map(_.toString).toSeq
      assert(after.map(_.toString).toSeq == never,
        "post-retire decisions diverge from a never-indexed corpus")
      // retention is also a compaction: one file per (non-empty) bucket
      val files = IndexCore.tableFiles(spark, VecIndex.cellsTable(prefix))
      assert(files.size <= VecIndex.Buckets,
        s"retire did not rewrite to one file per bucket: ${files.size}")
      assertProbePlan(VecIndex.probe(spark, sf, prefix), "graft-vecidx-specret")
    } finally {
      VecIndex.drop(spark, prefix)
      VecIndex.drop(spark, refPrefix)
    }
  }

  test("filtered ANN: label predicate inside the probed cells, dim scan column-pruned (sim22)") {
    val prefix = VecIndex.ensurePersisted(spark, sf)
    val rows = VecIndex.filteredProbe(spark, sf, prefix).collect()
    assert(rows.nonEmpty, "filtered probe returned no rows")
    // every neighbor shares its query's label — the predicate the
    // entry exists for
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(labels(r.getLong(1)) == labels(r.getLong(0)),
        s"neighbor label diverges from query label: $r")
    }
    // the filter narrows sim14's candidate set, never widens it: each
    // (query, neighbor) must come from a probed cell of that query
    val unfilteredCells = VecIndex.probe(spark, sf, prefix).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val probedCells = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    // (cluster ids agree with sim14's probed clusters for shared queries)
    assert(probedCells.map(_._1).subsetOf(unfilteredCells.map(_._1)),
      "filtered probe answered a query sim14 did not")
    // plan: the label dimension rides in COLUMN-PRUNED — a raw
    // embeddings scan without the embedding column — and the
    // persisted cells are still read exactly once
    val frame = VecIndex.filteredProbe(spark, sf, prefix)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = frame.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val cellScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("graft-bandidx")))
      assert(cellScans.size == 1,
        s"expected exactly one persisted-cell scan:\n$plan")
      val rawScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("embeddings.parquet")))
      assert(rawScans.exists(s => !s.schema.fieldNames.contains("embedding")),
        s"label dimension scan was not column-pruned:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("covering index: filtered probe loses the label dim join, decisions unchanged (sim23)") {
    val base = VecIndex.ensurePersisted(spark, sf)
    val cov = VecIndex.ensureCoveringPersisted(spark, sf)
    // decisions are DEFINED identical to the dim-join form's
    val viaDim = VecIndex.filteredProbe(spark, sf, base)
      .collect().map(_.toString).toSeq
    val viaCov = VecIndex.coveringFilteredProbe(spark, sf, cov)
      .collect().map(_.toString).toSeq
    assert(viaCov == viaDim, "covering layout changed the decisions")
    assert(viaCov.nonEmpty, "covering probe returned no rows")
    // round 14: the DEFAULT serving entry point resolves to the
    // covering layout (and reuses the registered index — no rebuild)
    val viaDefault = VecIndex.filteredServing(spark, sf)
      .collect().map(_.toString).toSeq
    assert(viaDefault == viaCov, "filteredServing does not serve the covering layout")
    assert(VecIndex.ensureCoveringPersisted(spark, sf) == cov,
      "filteredServing rebuilt the covering index instead of reusing it")
    // THE plan property: exactly one corpus-sized scan (the covering
    // cells, label included); every remaining raw-embeddings scan is
    // a bounded query/centroid frame with its vec_id bound PUSHED —
    // the (vec_id, label) dimension scan is gone
    val frame = VecIndex.coveringFilteredProbe(spark, sf, cov)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = frame.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val cellScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("vecsim23")))
      assert(cellScans.size == 1,
        s"expected exactly one covering-cell scan:\n$plan")
      assert(cellScans.head.schema.fieldNames.contains("label"),
        "covering-cell scan does not carry the colocated label")
      val rawScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("embeddings.parquet")))
      assert(rawScans.nonEmpty, s"probe lost its query/centroid scans:\n$plan")
      rawScans.foreach { s =>
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("LessThan(vec_id"),
          s"unbounded raw-embeddings scan — the dim join is back:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("IVF-PQ probe serves from code cells: raw corpus vectors are off the read path") {
    // sim18's plan property: the ADC serving plan reads the persisted
    // CODE cells once (cluster, vec_id, c0..cM-1 — no embedding
    // column at all) plus the broadcast codebook table; the only
    // raw-embeddings scans left are the bounded query/centroid
    // frames with their vec_id bound pushed. This is the layout's
    // point — at 100 TB the serving tier never moves or even stores
    // the 256-byte vectors, only M-int codes.
    val prefix = VecIndex.ensurePqPersisted(spark, sf)
    assert(VecIndex.ensurePqPersisted(spark, sf) == prefix,
      "second call must reuse the persisted PQ index")
    val frame = VecIndex.pqProbe(spark, sf, prefix)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = frame.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val cellScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("pqcells")))
      assert(cellScans.size == 1,
        s"expected exactly one code-cell scan:\n$plan")
      assert(!cellScans.head.schema.fieldNames.contains("embedding"),
        "code-cell scan reads a raw vector column")
      val rawScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("embeddings.parquet")))
      assert(rawScans.nonEmpty, s"probe lost its query/centroid scans:\n$plan")
      rawScans.foreach { s =>
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("LessThan(vec_id"),
          s"unbounded raw-embeddings scan in the serving plan:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** sim18's read-path property, re-assertable against any PQ prefix:
    * exactly one code-cell scan with NO embedding column, every
    * raw-embeddings scan bounded with a pushed vec_id filter. */
  private def assertPqProbePlan(frame: DataFrame): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = frame.queryExecution.executedPlan
      val scans = plan.collect { case s: FileSourceScanExec => s }
      val cellScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("pqcells")))
      assert(cellScans.size == 1, s"expected exactly one code-cell scan:\n$plan")
      assert(!cellScans.head.schema.fieldNames.contains("embedding"),
        "code-cell scan reads a raw vector column")
      val rawScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("embeddings.parquet")))
      assert(rawScans.nonEmpty, s"probe lost its query/centroid scans:\n$plan")
      rawScans.foreach { s =>
        val pushed = s.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("LessThan(vec_id"),
          s"unbounded raw-embeddings scan in the serving plan:\n$s")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("PQ lifecycle: persisted-codebook append equals the full build; compact and retire hold") {
    // Round 12 (VERDICT r11 item 2): the serving index's three verbs
    // + the read-path property POST-append. The appended generation
    // must serve decisions identical to sim18's full build — i.e.
    // appends encoded against the PERSISTED generation codebook,
    // never a retrained one (the codebook-generation contract).
    val path = TempDirs.create("graft-vecidx-specpq").toString
    val path2 = TempDirs.create("graft-vecidx-specpqref").toString
    val prefix = s"graft_vec_specpq_${System.nanoTime()}"
    val refPrefix = s"graft_vec_specpqref_${System.nanoTime()}"
    try {
      VecIndex.pqPersist(spark, sf, path, prefix, Some(emb(sf).filter(!isNew)))
      val filesBefore = IndexCore.tableFiles(spark, VecIndex.pqCellsTable(prefix)).size
      Seq(0, 4, 8).foreach { r =>
        VecIndex.pqAppend(spark, sf,
          emb(sf).filter(pmod(hash(col("vec_id")), lit(12)) === lit(r)), prefix)
      }
      val grown = IndexCore.tableFiles(spark, VecIndex.pqCellsTable(prefix)).size
      assert(grown > filesBefore, "pqAppend laid down no new file sets")
      val viaAppend = VecIndex.pqProbe(spark, sf, prefix).collect().map(_.toString).toSeq
      val full = Similarity.queries("sim18_ivfpq_probe")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(viaAppend == full, "appended PQ generation diverges from the full build")
      assertPqProbePlan(VecIndex.pqProbe(spark, sf, prefix))

      VecIndex.pqCompact(spark, prefix)
      val files = IndexCore.tableFiles(spark, VecIndex.pqCellsTable(prefix))
      assert(files.size <= VecIndex.Buckets,
        s"code cells not compacted: ${files.size} files")
      assert(VecIndex.pqProbe(spark, sf, prefix).collect().map(_.toString).toSeq == full,
        "compaction changed the ADC decisions")

      // retire: the index equals a generation that never encoded them
      val dec0 = VecIndex.pqProbe(spark, sf, prefix).localCheckpoint()
      val expired = dec0.select(col("neighbor_id").as("vec_id")).distinct()
      val expiredIds = expired.collect().map(_.getLong(0)).toSet
      assert(expiredIds.nonEmpty, "probe returned no neighbors to retire")
      VecIndex.pqRetire(spark, prefix, expired)
      val after = VecIndex.pqProbe(spark, sf, prefix).collect()
      after.foreach { r =>
        assert(!expiredIds(r.getLong(1)), s"retired vector still served: $r")
      }
      VecIndex.pqPersist(spark, sf, path2, refPrefix,
        Some(emb(sf).join(expired, Seq("vec_id"), "left_anti")))
      val never = VecIndex.pqProbe(spark, sf, refPrefix).collect().map(_.toString).toSeq
      assert(after.map(_.toString).toSeq == never,
        "post-retire ADC decisions diverge from a never-encoded generation")
      assertPqProbePlan(VecIndex.pqProbe(spark, sf, prefix))
    } finally {
      VecIndex.drop(spark, prefix)
      VecIndex.drop(spark, refPrefix)
    }
  }

  test("PQ tombstone retention: masked serve equals eager retire; compaction purges") {
    // The O(retired) delete on the SERVING layout (round 12): the
    // tombstone write must leave the code-cell files untouched, the
    // masked ADC serve must equal an eager pqRetire immediately, and
    // the next pqCompact must purge the rows and clear the set.
    val path = TempDirs.create("graft-vecidx-pqtomb").toString
    val path2 = TempDirs.create("graft-vecidx-pqtombeager").toString
    val prefix = s"graft_vec_pqtomb_${System.nanoTime()}"
    val refPrefix = s"graft_vec_pqtombeager_${System.nanoTime()}"
    try {
      VecIndex.pqPersist(spark, sf, path, prefix)
      val dec0 = VecIndex.pqProbe(spark, sf, prefix).localCheckpoint()
      val expired = dec0.select(col("neighbor_id").as("vec_id")).distinct()
      val expiredIds = expired.collect().map(_.getLong(0)).toSet
      assert(expiredIds.nonEmpty, "serve returned no neighbors to retire")

      // eager reference on an identical generation
      VecIndex.pqPersist(spark, sf, path2, refPrefix)
      VecIndex.pqRetire(spark, refPrefix, expired)
      val expected = VecIndex.pqProbe(spark, sf, refPrefix)
        .collect().map(_.toString).toSeq

      val filesBefore =
        IndexCore.tableFiles(spark, VecIndex.pqCellsTable(prefix)).sorted
      VecIndex.pqRetireTombstone(spark, prefix, expired)
      assert(IndexCore.tableFiles(spark, VecIndex.pqCellsTable(prefix)).sorted
        == filesBefore, "tombstone retention touched the code-cell files")
      assert(VecIndex.pqProbe(spark, sf, prefix).collect().map(_.toString).toSeq
        == expected, "tombstone-masked ADC serve diverges from eager retire")

      VecIndex.pqCompact(spark, prefix)
      assert(IndexCore.state(spark, VecIndex.pqCellsTable(prefix)).retired.isEmpty,
        "pqCompact did not clear the tombstone set")
      val survivors = spark.table(VecIndex.pqCellsTable(prefix))
        .filter(col("vec_id").isin(expiredIds.toSeq: _*)).count()
      assert(survivors == 0, s"$survivors tombstoned code rows survive the purge")
      assert(VecIndex.pqProbe(spark, sf, prefix).collect().map(_.toString).toSeq
        == expected, "post-purge ADC serve diverges from eager retire")
    } finally {
      VecIndex.drop(spark, prefix)
      VecIndex.drop(spark, refPrefix)
    }
  }

  test("drift-triggered retrain: a new generation swaps in atomically and serves the full build") {
    // The codebook-generation contract's remedy, end to end (round
    // 12): generation 0 serves from a PARTIAL corpus (the 3/4 slice —
    // the state a drifted deployment is in); dq07's KL monitor over
    // cell occupancies fires; the remedy is pqPersist of a FULL new
    // generation under a fresh prefix and pqSwapGeneration — after
    // which the ORIGINAL serving prefix must serve exactly sim18's
    // full-build decisions, with the generation's codebook and cells
    // swapped together (never mixed across generations).
    val path0 = TempDirs.create("graft-vecidx-gen0").toString
    val path1 = TempDirs.create("graft-vecidx-gen1").toString
    val serving = s"graft_vec_gen0_${System.nanoTime()}"
    val gen1 = s"graft_vec_gen1_${System.nanoTime()}"
    try {
      VecIndex.pqPersist(spark, sf, path0, serving, Some(emb(sf).filter(!isNew)))
      val before = VecIndex.pqProbe(spark, sf, serving).collect().map(_.toString).toSeq
      val full = Similarity.queries("sim18_ivfpq_probe")(spark, sf)
        .collect().map(_.toString).toSeq
      assert(before != full, "fixture must start from a drifted (partial) generation")

      // the trigger exists and decides (engine-level sanity; the
      // decision dataflow itself is oracle-gated as dq07)
      val drift = Similarity.queries("dq07_cell_drift")(spark, sf)
        .filter(col("cluster") === -1L).collect()
      assert(drift.length == 1 && !drift.head.isNullAt(4),
        "dq07 summary row missing")

      VecIndex.pqPersist(spark, sf, path1, gen1)
      VecIndex.pqSwapGeneration(spark, serving, gen1)

      val after = VecIndex.pqProbe(spark, sf, serving).collect().map(_.toString).toSeq
      assert(after == full,
        "post-swap serving diverges from the new generation's full build")
      assert(!spark.catalog.tableExists(VecIndex.pqCellsTable(gen1)) &&
        !spark.catalog.tableExists(VecIndex.codebookTable(gen1)),
        "generation-1 names must be consumed by the swap")
    } finally {
      VecIndex.drop(spark, serving)
      VecIndex.drop(spark, gen1)
    }
  }

  test("probe shuffle BYTES track the query batch, not the corpus (10x corpus, ~1x bytes)") {
    // The ANN analog of BandIndexSpec's bytes gate (round-10 VERDICT
    // item 8): the SAME-SIZED query batch (KnnQueries=5 in both dirs)
    // probes a cell index over the sf0.001 corpus and one over the
    // ~10× sf0.01 corpus; total shuffle write bytes must stay within
    // 2× while the corpus grows 10×. This holds because the only
    // exchange in the probe is the per-query top-k, and Spark's
    // window-group-limit runs in PARTIAL mode below it — each map
    // task forwards at most K rows per query, so the shuffled volume
    // is (queries × K × partitions)-bounded, never cell-proportional.
    // The st09 streaming path is bounded the same way by TopKStructs'
    // partial aggregation.
    //
    // The raw embeddings table holds 500 vectors at BOTH small scale
    // factors, so the 10× corpus is synthesized: ten vec_id-shifted
    // copies of the table indexed under one cell table (identical
    // embeddings per copy — decisions are not under test here, bytes
    // are; queries and centroids stay the raw bounded frames).
    val small = VecIndex.ensurePersisted(spark, sf, "shufsmall")
    val bigPath = TempDirs.create("graft-vecidx-shufbig").toString
    val big = s"graft_vec_shufbig_${System.nanoTime()}"
    val e10 = (0 until 10).map(i =>
        emb(sf).select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)
    VecIndex.persist(spark, sf, bigPath, big, Some(e10))
    try {
      val corpusRatio =
        spark.table(VecIndex.cellsTable(big)).count().toDouble /
          spark.table(VecIndex.cellsTable(small)).count()
      assert(corpusRatio >= 5.0, s"fixture corpora not ~10x apart: $corpusRatio")
      def probeBytes(prefix: String): Long = {
        val run = () => VecIndex.probe(spark, sf, prefix).count()
        run() // warm: neither measurement pays first-run codegen
        graft.Metrics.record(spark)(run())._2.shuffleWriteBytes
      }
      val smallBytes = probeBytes(small)
      val bigBytes = probeBytes(big)
      assert(smallBytes > 0, "listener captured no shuffle writes")
      assert(bigBytes.toDouble / smallBytes < 2.0,
        s"ANN probe shuffle bytes scaled with the corpus: $smallBytes -> $bigBytes " +
          s"(corpus x$corpusRatio) — a cell-proportional exchange leaked into the plan")
    } finally VecIndex.drop(spark, big)
  }

  test("catalog quantizers share the index's cells: sim04, ds12 and dq07 agree with the cell table") {
    // sim04, ds12 and dq07 assign in-session through the same
    // nearest-centroid kernel that builds the persisted cell table, so
    // every cell they report must be the vector's persisted cell
    val cells = spark.table(VecIndex.cellsTable(VecIndex.ensurePersisted(spark, sf)))
      .select(col("vec_id"), col("cluster").as("cell"))
    val cellOf = cells.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cellOf.nonEmpty, "persisted cell table is empty")
    Seq("sim04_ivf_ann", "ds12_diverse_topk").foreach { name =>
      val rows = Similarity.queries(name)(spark, sf)
        .select("neighbor_id", "cluster").collect()
      assert(rows.nonEmpty, s"$name returned no neighbors")
      rows.foreach { r =>
        assert(cellOf.get(r.getLong(0)).contains(r.getLong(1)),
          s"$name puts neighbor ${r.getLong(0)} in cell ${r.getLong(1)}, " +
            s"the index in ${cellOf.get(r.getLong(0))}")
      }
    }
    val occupancy = cellOf.values.groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    val drift = Similarity.queries("dq07_cell_drift")(spark, sf)
      .filter(col("cluster") >= 0)
      .select(col("cluster"), (col("old_n") + col("new_n")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drift == occupancy,
      s"dq07 per-cell counts $drift differ from the cell table's occupancy $occupancy")
  }
}
