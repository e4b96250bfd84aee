package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** The one lifecycle shared by the persisted index families
  * ([[BandIndex]], [[VecIndex]], [[LexIndex]]). A family file holds
  * only what is specific to it — how a batch is encoded into rows, how
  * the tables are probed, its fixture cycles and its oracles. Layout
  * and lifecycle live here.
  *
  * **What a family declares.**
  *   - One [[TableSpec]] per bucketed table: name suffix (the table is
  *     `<prefix>_<suffix>`, stored at `<index path>/<suffix>`), bucket
  *     key and within-bucket sort columns.
  *   - One [[Family]]: the prefix stem, the temp-dir tag and every
  *     table suffix it registers, from which `drop` is derived (the
  *     shared side tables — tombstones, ledger, merge log — are
  *     added here).
  *
  * **Shared verbs.**
  *   - Writes: [[writeTable]] (build at a path, or append) over the
  *     single bucket-aligned writer [[writeBucketed]]
  *     (`repartition(b, key)` → `bucketBy(b, key)` → `sortBy`, one
  *     file per bucket per write). Build-time bucket counts come from
  *     the caller (default [[DefaultBuckets]]); every later write
  *     reads the count back from the catalog ([[bucketsOf]]).
  *   - Rewrites: [[compactTable]] (per-bucket local rewrite, optional
  *     broadcast anti-join purge) and every other full rewrite go
  *     through [[swapTable]] — write beside the live table at a
  *     location that does not exist yet, then the rename-aside swap
  *     [[renameSwap]], the only place that renames tables.
  *   - Side tables: [[appendSide]] (append, or create at the index
  *     root) and [[dropWithFiles]] for tombstones, ledger, merge log.
  *   - Size-tiered folds: [[tieredMerge]] — one footer sweep, GC, tier
  *     pick, reserved output stamp, per-table rewrite, one atomic
  *     merge-log commit ([[commitFold]]), post-commit GC. Readers
  *     filter rows through [[visibleUnder]], so every crash point
  *     serves exactly the pre- or post-fold content.
  *   - Build-once indexes ([[ensurePersisted]]) and fresh per-run
  *     fixture indexes ([[cycle]]) share one registry, one serial and
  *     one lock.
  *
  * **Exactly-once fence order** ([[maintainOnce]]), per batch id:
  *   1. the id is ≥ 0 (negative stamps are reserved: [[BaseBatch]]
  *      for builds and ad-hoc appends, ≤ [[MergeStampCeil]] for fold
  *      outputs);
  *   2. ledger fast path — a ledgered batch is done;
  *   3. the certifying table (written last) carries the stamp — the
  *      batch landed; the ledger row is backfilled. Single-table
  *      families have no ledger: their stamp IS the ledger, extended
  *      by [[foldedUnder]] because a fold re-stamps a batch's rows;
  *   4. otherwise the batch runs, and each earlier table is written
  *      only if its own stamp is absent ([[batchPresent]]).
  * Rewrites that re-stamp rows first call [[requireLedgered]]: no
  * stamped batch may be mid-commit when its stamps are destroyed.
  *
  * Footer-derived answers ([[segStats]]) are cached in a per-table
  * `_segstats_<col>.json` manifest validated against the live file
  * listing; the manifest is a cache, never a source of truth, and a
  * footer that cannot be read counts as "maybe present".
  */
object IndexCore {

  /** Batch stamp of the base build and of ad-hoc appends. Maintenance
    * appends stamp their (non-negative) micro-batch id; each appended
    * file holds a single stamp, so "did batch N land?" prunes to
    * footer reads, and a replaying probe excludes its own in-flight
    * batch with a pushed `ingest_batch != N` filter. */
  val BaseBatch: Long = -1L

  /** Default bucket count for index builds that don't choose one.
    * `SPARK_GRAFT_INDEX_BUCKETS` overrides it process-wide (how the
    * oracle sweep is re-run at a different width). */
  val DefaultBuckets: Int = sys.env.get("SPARK_GRAFT_INDEX_BUCKETS")
    .flatMap(_.toIntOption).filter(_ > 0).getOrElse(8)

  /** One bucketed index table — see the object doc. */
  private[ops] final case class TableSpec(suffix: String, key: String,
      sort: Seq[String]) {
    def name(prefix: String): String = s"${prefix}_$suffix"
  }

  /** One index family — see the object doc. */
  private[ops] final case class Family(stem: String, dirTag: String,
      tables: Seq[String]) {
    def drop(spark: SparkSession, prefix: String): Unit =
      (tables ++ Seq("tombstones", "ledger", "mergelog"))
        .foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$s"))
  }

  private def meta(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The bucket count `table` was BUILT with — every post-build write
    * must use it: a mismatched bucketBy on append fails with
    * "Specified bucketing does not match", and a mismatched rewrite
    * would silently change the probe layout. */
  private[ops] def bucketsOf(spark: SparkSession, table: String): Int =
    meta(spark, table).bucketSpec.map(_.numBuckets).getOrElse(DefaultBuckets)

  /** JVM-wide serial for index prefixes, rewrite locations and aside
    * names. Sessions from `spark.newSession()` share one catalog, so
    * prefixes must be unique per JVM, not per session. */
  private[ops] val serial = new java.util.concurrent.atomic.AtomicLong(0)

  private[ops] def deleteDir(path: String): Unit =
    try {
      val root = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(root)) {
        val walk = java.nio.file.Files.walk(root)
        try {
          walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } finally walk.close()
      }
    } catch { case NonFatal(_) => () }

  // Every index directory the families create is registered here and
  // deleted by a JVM shutdown hook, so test and bench runs leave no
  // orphan graft-*idx-* dirs; dirs superseded mid-run are deleted
  // eagerly instead.
  private val tempDirs = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.keySet().forEach(p => deleteDir(p))
    }, "graft-idxcore-cleanup"))
  }

  private[ops] def newTempDir(tag: String): String = {
    val p = java.nio.file.Files
      .createTempDirectory(s"graft-bandidx-$tag").toString
    tempDirs.put(p, true)
    p
  }

  private[ops] def retireTempDir(path: String): Unit = {
    tempDirs.remove(path)
    deleteDir(path)
  }

  // ------------------------------------------------------------------
  // Build-once and per-run index registries
  // ------------------------------------------------------------------

  private val lock = new Object
  private val persistedFor =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), String]
  private val lastCycle = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (Family, String, String)]

  /** Run `build` once per (session, dir, key) and return its result on
    * every later call. Builds are serialized behind one lock so racing
    * callers never double-write an index. */
  private[ops] def once(spark: SparkSession, dir: String, key: String)(
      build: => String): String =
    persistedFor.getOrElse((spark, dir, key), lock.synchronized {
      persistedFor.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      persistedFor.getOrElseUpdate((spark, dir, key), build)
    })

  private def newIndex(fam: Family, dir: String, tag: String): (String, String) = {
    val prefix = s"${fam.stem}_${tag}_${Integer.toHexString(dir.hashCode)}" +
      s"_s${serial.incrementAndGet()}"
    (prefix, newTempDir(fam.dirTag + tag))
  }

  /** A durable index built once per (session, dir, key) in a fresh
    * temp dir: the catalog entries that serve from it re-time the
    * probe, not the build. `persist(path, prefix)` lays it down. */
  private[ops] def ensurePersisted(spark: SparkSession, dir: String, fam: Family,
      key: String, tag: String)(persist: (String, String) => Unit): String =
    once(spark, dir, s"${fam.stem}:$key") {
      val (prefix, path) = newIndex(fam, dir, tag)
      persist(path, prefix)
      prefix
    }

  /** One fixture cycle's handle: its index prefix and the timed phases
    * recorded under its tag (the bench artifact's `phases` map). */
  private[ops] final class Cycle(tag: String, val prefix: String) {
    def phase[T](name: String)(body: => T): T = graft.Phases.time(tag, name)(body)

    /** A timed probe, materialized here so the phases sum to the
      * cycle's wall time and the result outlives the cycle's tables. */
    def probe(name: String)(df: => DataFrame): DataFrame =
      phase(name)(df.localCheckpoint())
  }

  /** Run one fixture cycle on a FRESH index: retire the previous
    * cycle's index for (session, dir, tag) — tables and files — then
    * persist a new one (phase "persist") and run `body` on it. The new
    * index is retired by the next cycle with the same tag, or by the
    * shutdown hook. */
  private[ops] def cycle(spark: SparkSession, dir: String, tag: String,
      fam: Family)(persist: (String, String) => Unit)(
      body: Cycle => DataFrame): DataFrame = {
    val key = (spark, dir, tag)
    val (prefix, path) = graft.Phases.time(tag, "persist") {
      lock.synchronized {
        lastCycle.remove(key).foreach { case (f, p, d) =>
          f.drop(spark, p)
          retireTempDir(d)
        }
        lastCycle.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      }
      val (prefix, path) = newIndex(fam, dir, tag)
      persist(path, prefix)
      (prefix, path)
    }
    try body(new Cycle(tag, prefix))
    finally lock.synchronized { lastCycle(key) = (fam, prefix, path) }
  }

  // ------------------------------------------------------------------
  // Bucketed writes and rewrites
  // ------------------------------------------------------------------

  /** The one bucketed writer. A bucketed write emits one file per
    * (task, bucket), so write tasks are aligned 1:1 with buckets by
    * the batch-sized hash exchange — one file per bucket per write, a
    * file count independent of cluster width. Over a bucketed scan
    * of the same table the exchange is elided (the scan already has
    * the partitioning), which is what makes [[compactTable]] a
    * zero-exchange per-bucket rewrite. `at = Some(location)` lays the
    * table down there (overwriting a stale registration); None
    * appends. */
  private[ops] def writeBucketed(rows: DataFrame, spec: TableSpec, table: String,
      at: Option[String], buckets: Int): Unit = {
    val w = rows.repartition(buckets, col(spec.key)).write
      .bucketBy(buckets, spec.key).sortBy(spec.sort.head, spec.sort.tail: _*)
    at.fold(w.mode(SaveMode.Append))(loc =>
      w.option("path", loc).mode(SaveMode.Overwrite)).saveAsTable(table)
  }

  /** Write `rows` into `spec`'s table under `prefix`: `build =
    * Some((indexPath, buckets))` builds it at `<indexPath>/<suffix>`,
    * None appends with the table's own bucket count. */
  private[ops] def writeTable(rows: DataFrame, spec: TableSpec, prefix: String,
      build: Option[(String, Int)]): Unit = {
    val t = spec.name(prefix)
    build match {
      case Some((path, b)) => writeBucketed(rows, spec, t, Some(s"$path/${spec.suffix}"), b)
      case None => writeBucketed(rows, spec, t, None, bucketsOf(rows.sparkSession, t))
    }
  }

  /** The files currently backing `table` (append growth and
    * compaction are asserted on this count). */
  def tableFiles(spark: SparkSession, table: String): Seq[String] =
    tableFilesSized(spark, table).map(_._1)

  /** [[tableFiles]] with sizes, in ONE filesystem pass — the live
    * listing every footer-derived answer validates against. Skips
    * `_temporary` subtrees (an in-flight write's task files must not
    * be footer-probed) and tolerates files deleted mid-walk. Sorted
    * for stable memo keys. */
  private[ops] def tableFilesSized(spark: SparkSession,
      table: String): Seq[(String, Long)] = {
    val dir = java.nio.file.Paths.get(meta(spark, table).location)
    if (!java.nio.file.Files.exists(dir)) Seq.empty
    else {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      java.nio.file.Files.walkFileTree(dir,
        new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
          override def preVisitDirectory(d: java.nio.file.Path,
              attrs: java.nio.file.attribute.BasicFileAttributes)
              : java.nio.file.FileVisitResult =
            if (d.getFileName != null && d.getFileName.toString == "_temporary")
              java.nio.file.FileVisitResult.SKIP_SUBTREE
            else java.nio.file.FileVisitResult.CONTINUE
          override def visitFile(f: java.nio.file.Path,
              attrs: java.nio.file.attribute.BasicFileAttributes)
              : java.nio.file.FileVisitResult = {
            if (attrs.isRegularFile && f.getFileName.toString.endsWith(".parquet"))
              buf += ((f.toString, attrs.size()))
            java.nio.file.FileVisitResult.CONTINUE
          }
          override def visitFileFailed(f: java.nio.file.Path,
              e: java.io.IOException): java.nio.file.FileVisitResult =
            java.nio.file.FileVisitResult.CONTINUE
        })
      buf.sortBy(_._1).toSeq
    }
  }

  /** The index's storage root, derived from an anchor table's
    * location — the side tables live WITH the index (same durability
    * domain), so a restarted query sees exactly what the index
    * absorbed. */
  private[ops] def indexRootOf(spark: SparkSession, anchorTable: String): String = {
    val loc = meta(spark, anchorTable).location.toString.stripSuffix("/")
    loc.substring(0, loc.lastIndexOf('/'))
  }

  /** Bucket-preserving compaction: rewrite every current file of
    * `spec`'s table into ONE file per bucket, same bucket and sort
    * spec, then swap it in ([[swapTable]]). `minus` purges rows whose
    * `minusIdCol` is in that (bounded) frame with a broadcast
    * anti-join, which streams the bucketed side and keeps the
    * per-bucket rewrite. The sort spec is part of the table's
    * bucketing metadata: a rewrite that dropped a sort column would
    * wedge every later append and loosen the footer bounds probes
    * prune on. */
  private[ops] def compactTable(spark: SparkSession, spec: TableSpec, prefix: String,
      minus: Option[DataFrame], minusIdCol: String): Unit = {
    val table = spec.name(prefix)
    // the last writer may have been ANOTHER session (a streaming
    // foreachBatch runs in the query's session clone, whose appends
    // don't invalidate this session's cached file listing) — without
    // the refresh the rewrite silently drops every file this session
    // hasn't seen
    spark.catalog.refreshTable(table)
    val b = bucketsOf(spark, table)
    swapTable(spark, table, "compact") { (tmpT, loc) =>
      // A bucketed scan yields exactly one bucket per task, so the
      // write lays each bucket back down as one file with no
      // exchange. Two planner settings keep that scan: with
      // autoBucketedScan on, DisableUnnecessaryBucketedScan downgrades
      // it to size-based chunks (the writer's exchange was already
      // elided against it, so nothing "needs" the distribution); AQE's
      // local-read rewrite would likewise re-chunk the read.
      val aqe = "spark.sql.adaptive.enabled"
      val abs = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val was = Seq(aqe, abs).map(k => k -> spark.conf.get(k, "true"))
      Seq(aqe, abs).foreach(spark.conf.set(_, "false"))
      try {
        val t = spark.table(table)
        val source = minus.fold(t) { ex =>
          val expired = broadcast(ex.select(col(ex.columns.head).as("__expired_id")))
          t.join(expired, t(minusIdCol) === col("__expired_id"), "left_anti")
        }
        writeBucketed(source, spec, tmpT, Some(loc), b)
      } finally was.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  /** Replace `table` with a rewrite: `write(tmpTable, location)` lays
    * the replacement down at a sibling location that does not exist
    * yet (serials restart per JVM, so a counter alone could name an
    * earlier JVM's leftover directory), then [[renameSwap]] promotes
    * it and the old files are deleted. A failed promotion leaves the
    * original registration in place and removes the temp table AND its
    * files, so a retry cannot hit TableAlreadyExists. */
  private[ops] def swapTable(spark: SparkSession, table: String, tag: String)(
      write: (String, String) => Unit): Unit = {
    val oldLoc = meta(spark, table).location.toString
    val newLoc = Iterator.continually(
        oldLoc.stripSuffix("/") + s"_$tag${serial.incrementAndGet()}")
      .find(l => !java.nio.file.Files.exists(java.nio.file.Paths.get(l.stripPrefix("file:"))))
      .get
    val tmpT = s"${table}_$tag"
    write(tmpT, newLoc)
    try renameSwap(spark, table, tmpT)
    catch {
      case NonFatal(e) =>
        try spark.sql(s"DROP TABLE IF EXISTS $tmpT")
        catch { case NonFatal(_) => () }
        deleteDir(newLoc.stripPrefix("file:"))
        throw e
    }
    deleteDir(oldLoc.stripPrefix("file:"))
  }

  /** The crash-safe rename swap — the only place index tables are
    * renamed. A bare DROP-then-RENAME has a window where NO table is
    * registered; instead the live table is renamed ASIDE first, then
    * `incoming` takes its name, then the aside registration is
    * dropped (its files stay; external tables keep their location).
    * At every single-failure point either the original registration
    * is intact or a complete aside-named table remains recoverable. A
    * failed promotion restores the original name before rethrowing; a
    * failed rollback is reported, not swallowed. */
  private[ops] def renameSwap(spark: SparkSession, table: String,
      incoming: String): Unit = {
    val aside = s"${table}_old${serial.incrementAndGet()}"
    spark.sql(s"ALTER TABLE $table RENAME TO $aside")
    try spark.sql(s"ALTER TABLE $incoming RENAME TO $table")
    catch {
      case NonFatal(e) =>
        try spark.sql(s"ALTER TABLE $aside RENAME TO $table")
        catch {
          case NonFatal(r) => System.err.println(
            s"[indexcore] ROLLBACK FAILED for $table (recover manually from " +
              s"$aside): ${r.getMessage}")
        }
        throw e
    }
    spark.sql(s"DROP TABLE $aside")
  }

  // ------------------------------------------------------------------
  // Side tables
  // ------------------------------------------------------------------

  /** Append `rows` to a side table, creating it at
    * `<index root>/<dirName>` on first use. */
  private[ops] def appendSide(spark: SparkSession, table: String, anchorTable: String,
      dirName: String, rows: DataFrame): Unit = {
    val w = rows.write.mode(SaveMode.Append)
    if (spark.catalog.tableExists(table)) w.saveAsTable(table)
    else w.option("path", s"${indexRootOf(spark, anchorTable)}/$dirName").saveAsTable(table)
  }

  /** Drop a side table AND its files: a later [[appendSide]]
    * re-creates it at the same location, and surviving files would
    * resurrect what the drop cleared. */
  private[ops] def dropWithFiles(spark: SparkSession, table: String): Unit =
    if (spark.catalog.tableExists(table)) {
      val loc = meta(spark, table).location.toString
      spark.sql(s"DROP TABLE $table")
      deleteDir(loc.stripPrefix("file:"))
    }

  // ------------------------------------------------------------------
  // Persisted segment-stats manifest: footer data is immutable per
  // file, so it is cached in a `_segstats_<col>.json` side file next to
  // the table's data (leading underscore: invisible to Spark's file
  // listing), validated entry by entry against one live listing (path
  // + size). Footers are read only for files the manifest has not
  // seen — O(arrivals) footer reads per verb instead of O(files). A
  // missing, stale or torn manifest only causes re-reads; writes are
  // atomic (tmp + rename). Updating lazily on READ covers ad-hoc
  // appends, streaming session clones and external rewrites without
  // trusting any writer to maintain it.
  // ------------------------------------------------------------------

  /** One file's footer-derived stats for a single long column.
    * `mn > mx` encodes "no usable statistics"; `complete` means every
    * non-empty row group carried valid stats for the column — only a
    * complete file can PROVE a value absent. `failed` marks a footer
    * that could not be read: its row count is unknown, so it is
    * never proven empty. */
  private[ops] final case class SegStat(path: String, size: Long, rows: Long,
      mn: Long, mx: Long, complete: Boolean, failed: Boolean) {
    def hasStats: Boolean = mn <= mx
    def provenEmpty: Boolean = rows == 0L && !failed
  }

  /** Session memo over [[segStats]], keyed by the live listing — a
    * verb chain re-probing the same unchanged table pays one directory
    * walk, zero manifest/footer reads. */
  private val segStatsMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (Seq[(String, Long)], Seq[SegStat])]

  private def manifestPathFor(spark: SparkSession, table: String,
      col: String): java.nio.file.Path =
    java.nio.file.Paths.get(meta(spark, table).location).resolve(s"_segstats_$col.json")

  private def readManifest(p: java.nio.file.Path): Map[String, SegStat] =
    try {
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        val objPat = java.util.regex.Pattern.compile("\\{[^{}]*\\}")
        val m = objPat.matcher(s)
        val buf = scala.collection.mutable.Map.empty[String, SegStat]
        def fld(o: String, k: String): Option[String] = {
          val fm = java.util.regex.Pattern
            .compile("\"" + k + "\":\"?([^\",}]+)\"?").matcher(o)
          if (fm.find()) Some(fm.group(1)) else None
        }
        while (m.find()) {
          val o = m.group()
          for {
            name <- fld(o, "p")
            size <- fld(o, "s").flatMap(_.toLongOption)
            rows <- fld(o, "r").flatMap(_.toLongOption)
          } buf(name) = SegStat(name, size, rows,
            fld(o, "mn").flatMap(_.toLongOption).getOrElse(Long.MaxValue),
            fld(o, "mx").flatMap(_.toLongOption).getOrElse(Long.MinValue),
            fld(o, "c").contains("1"), failed = false)
        }
        buf.toMap
      }
    } catch { case NonFatal(_) => Map.empty }

  /** Write the manifest atomically. Temp siblings a crashed writer
    * left behind are deleted first, so they cannot accumulate (a
    * concurrent writer's temp may go too; its move then fails, which
    * only costs a later footer re-read). */
  private def writeManifest(p: java.nio.file.Path, stats: Seq[SegStat]): Unit =
    try {
      val stray = java.nio.file.Files.newDirectoryStream(p.getParent,
        p.getFileName.toString + ".tmp*")
      try stray.forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally stray.close()
      val body = stats.map { st =>
        val name = p.getParent.relativize(java.nio.file.Paths.get(st.path))
        val mnmx = if (st.hasStats) s""","mn":${st.mn},"mx":${st.mx}""" else ""
        s"""{"p":"$name","s":${st.size},"r":${st.rows}$mnmx,"c":${if (st.complete) 1 else 0}}"""
      }.mkString("""{"files":[""", ",", "]}\n")
      val tmp = p.resolveSibling(p.getFileName.toString + s".tmp${serial.incrementAndGet()}")
      java.nio.file.Files.write(tmp,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case NonFatal(_) => () }

  /** Opens one file's parquet footer. A var so a spec can substitute a
    * failing opener and prove an unreadable footer is "maybe
    * present". */
  @volatile private[ops] var openFooter
      : (SparkSession, String) => org.apache.parquet.hadoop.metadata.ParquetMetadata =
    (spark, path) => {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
      try reader.getFooter finally reader.close()
    }

  /** Read one file's footer stats for `col`. A failed read returns a
    * stats-less, incomplete, `failed` row (⇒ "maybe present"
    * everywhere) that is never persisted or memoized, so the next
    * verb retries it. */
  private def readFooterStat(spark: SparkSession, path: String, size: Long,
      col: String): SegStat =
    try {
      val blocks = openFooter(spark, path).getBlocks
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var rows = 0L
      var complete = true
      var i = 0
      while (i < blocks.size()) {
        val blk = blocks.get(i)
        rows += blk.getRowCount
        if (blk.getRowCount > 0L) {
          var found = false
          var j = 0
          while (j < blk.getColumns.size()) {
            val c = blk.getColumns.get(j)
            if (c.getPath.toDotString == col && c.getStatistics != null &&
                !c.getStatistics.isEmpty && c.getStatistics.hasNonNullValue) {
              val st = c.getStatistics
                .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
              mn = math.min(mn, st.genericGetMin)
              mx = math.max(mx, st.genericGetMax)
              found = true
            }
            j += 1
          }
          if (!found) complete = false
        }
        i += 1
      }
      SegStat(path, size, rows, mn, mx, complete, failed = false)
    } catch {
      case NonFatal(_) =>
        SegStat(path, size, 0L, Long.MaxValue, Long.MinValue, complete = false, failed = true)
    }

  /** Footer stats for every live file of `table`, through the memo →
    * manifest → footer-read fallback chain. The single entry point
    * behind [[footerProvenAbsent]], [[fileSegments]] and
    * [[stampSetFromFooters]]. */
  private[ops] def segStats(spark: SparkSession, table: String,
      col: String): Seq[SegStat] = {
    val listing = tableFilesSized(spark, table)
    val memoKey = (spark, table, col)
    segStatsMemo.get(memoKey) match {
      case Some((k, stats)) if k == listing => stats
      case _ =>
        segStatsMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
        val mPath = manifestPathFor(spark, table, col)
        val manifest = if (listing.isEmpty) Map.empty[String, SegStat]
          else readManifest(mPath)
        val parent = mPath.getParent
        var fresh = 0
        var failed = 0
        val stats = listing.map { case (p, sz) =>
          val rel = parent.relativize(java.nio.file.Paths.get(p)).toString
          manifest.get(rel).filter(_.size == sz) match {
            case Some(st) => st.copy(path = p)
            case None =>
              val st = readFooterStat(spark, p, sz, col)
              if (st.failed) failed += 1 else fresh += 1
              st
          }
        }
        if (failed == 0) {
          if (fresh > 0) writeManifest(mPath, stats)
          segStatsMemo.put(memoKey, (listing, stats))
        }
        stats
    }
  }

  /** The EXACT set of `col` values present in `table`, from footers
    * alone — `Some(set)` only when every live file is proven empty or
    * has complete, single-valued stats (mn == mx), which every append,
    * fold and rewrite file in these families satisfies (one stamp per
    * file). Any spanning, stats-less or unreadable file ⇒ `None`, and
    * the caller falls back to the exact distinct-collect. */
  private[ops] def stampSetFromFooters(spark: SparkSession, table: String,
      col: String): Option[Set[Long]] = {
    val stats = segStats(spark, table, col)
    if (stats.forall(st => st.provenEmpty ||
        (st.complete && st.hasStats && st.mn == st.mx)))
      Some(stats.filter(_.rows > 0L).map(_.mn).toSet)
    else None
  }

  /** Did batch `batchId` land in `table`? The table is REFRESHED
    * before the exact read: the appends it fences may have executed
    * through a DIFFERENT session over the same catalog (a streaming
    * foreachBatch writes through the query's session clone, whose
    * cache invalidation does not reach this session), and a stale
    * listing would report the batch absent and let a replay
    * double-append it. */
  private[ops] def batchPresent(spark: SparkSession, table: String,
      batchId: Long): Boolean =
    spark.catalog.tableExists(table) &&
      !footerProvenAbsent(spark, table, "ingest_batch", batchId) && {
        spark.catalog.refreshTable(table)
        !spark.table(table).filter(col("ingest_batch") === batchId).isEmpty
      }

  /** FOOTER-PROVEN absence: `id` cannot appear in `longCol` when every
    * live file's [min, max] statistics exclude it — answered from
    * driver-side footer reads over the LIVE file listing (immune to
    * session-clone cache staleness), with NO Spark job. The fast path
    * for a fresh batch, the common case on every maintenance cycle.
    * Conservative by construction: a missing statistics object, an
    * unreadable footer, or a block whose column is absent all return
    * "maybe present", and the caller falls through to the exact
    * check. */
  private[ops] def footerProvenAbsent(spark: SparkSession, table: String,
      longCol: String, id: Long): Boolean =
    segStats(spark, table, longCol).forall { st =>
      st.provenEmpty || (st.complete && st.hasStats && (id < st.mn || id > st.mx))
    }

  // ------------------------------------------------------------------
  // Tombstones — O(retired) retention, shared by all three families
  // ------------------------------------------------------------------

  def tombstonesTable(prefix: String): String = s"${prefix}_tombstones"

  /** Record expired ids (first column of `expired`) in the index's
    * tombstone table — the O(retired) retention write. coalesce(1):
    * the set is bounded by contract (it must broadcast at probe time),
    * and without it the write's file count would scale with the
    * deriving frame's task count, not with the retired set. */
  private[ops] def recordTombstones(spark: SparkSession, prefix: String,
      anchorTable: String, expired: DataFrame): Unit =
    appendSide(spark, tombstonesTable(prefix), anchorTable, "tombstones",
      expired.select(col(expired.columns.head).cast("long").as("retired_id")).coalesce(1))

  /** The current tombstone set as a broadcast-hinted frame, or None.
    * Refreshed before the read (same rationale as [[batchPresent]]).
    * The broadcast hint keeps the anti-join a broadcast-hash join
    * even with auto-broadcast disabled, so the masked scan keeps its
    * bucketed output partitioning. */
  private[ops] def tombstoneFrame(spark: SparkSession,
      prefix: String): Option[DataFrame] = {
    val t = tombstonesTable(prefix)
    if (!spark.catalog.tableExists(t)) None
    else {
      spark.catalog.refreshTable(t)
      Some(broadcast(spark.table(t).select("retired_id")))
    }
  }

  /** Drop the tombstones after a compaction purged the masked rows. */
  private[ops] def clearTombstones(spark: SparkSession, prefix: String): Unit =
    dropWithFiles(spark, tombstonesTable(prefix))

  // ------------------------------------------------------------------
  // Exactly-once maintenance — the append ledger and the fence
  // ------------------------------------------------------------------

  def ledgerTable(prefix: String): String = s"${prefix}_ledger"

  private[ops] def ledgerDoneIn(spark: SparkSession, ledgerTbl: String,
      batchId: Long): Boolean =
    spark.catalog.tableExists(ledgerTbl) &&
      // a fresh batch is proven un-ledgered from footers — no refresh,
      // no job; only a possibly-present id pays the exact check, which
      // refreshes first: the ledger row may have been written through
      // a streaming session clone
      !footerProvenAbsent(spark, ledgerTbl, "batch_id", batchId) && {
        spark.catalog.refreshTable(ledgerTbl)
        !spark.table(ledgerTbl).filter(col("batch_id") === batchId).isEmpty
      }

  private[ops] def ledgerRecordIn(spark: SparkSession, ledgerTbl: String,
      anchorTable: String, batchId: Long): Unit =
    appendSide(spark, ledgerTbl, anchorTable, "ledger",
      spark.range(1).select(lit(batchId).as("batch_id")))

  /** The exactly-once fence shared by every `maintainBatch` — the
    * order in the object doc. `certifying` is the table written LAST,
    * so its stamp proves the whole batch landed. With `ledgered` the
    * ledger is the fast path and is (back)filled; without it the stamp
    * is the ledger and [[foldedUnder]] extends it across folds. `write`
    * runs the batch, given `landed(table)` so it can skip any earlier
    * table a crashed attempt already wrote; it must write the
    * certifying table. Returns None when the batch had landed. */
  private[ops] def maintainOnce[T](spark: SparkSession, verb: String, prefix: String,
      certifying: String, ledgered: Boolean, batchId: Long)(
      write: (String => Boolean) => T): Option[T] = {
    require(batchId >= 0,
      s"$verb batchId must be >= 0, got $batchId (ids < 0 are " +
        "reserved for the base-build/ad-hoc stamp)")
    val ledger = ledgerTable(prefix)
    def record(): Unit = if (ledgered) ledgerRecordIn(spark, ledger, certifying, batchId)
    if (ledgered && ledgerDoneIn(spark, ledger, batchId)) None
    else if (batchPresent(spark, certifying, batchId) ||
        (!ledgered && foldedUnder(spark, certifying, batchId))) {
      record()
      None
    } else {
      val out = write(t => batchPresent(spark, t, batchId))
      record()
      Some(out)
    }
  }

  /** Refuse a rewrite that destroys batch stamps (fold, re-base,
    * re-stamp) while any stamped batch in `stamped` is mid-commit
    * (stamped but not ledgered): its replay fence would be gone and a
    * checkpoint restart would double-append it. Indexes without a
    * ledger never went through maintainBatch and are exempt. Both
    * stamp sets come from footers when every file holds one stamp;
    * otherwise from two exact distinct-collects. */
  private[ops] def requireLedgered(spark: SparkSession, prefix: String,
      stamped: String, verb: String): Unit = {
    val lt = ledgerTable(prefix)
    if (spark.catalog.tableExists(lt)) {
      val unledgered = (stampSetFromFooters(spark, lt, "batch_id"),
          stampSetFromFooters(spark, stamped, "ingest_batch")) match {
        case (Some(ledgered), Some(stamps)) =>
          stamps.filter(b => b >= 0 && !ledgered.contains(b)).toSeq
        case _ =>
          spark.catalog.refreshTable(lt)
          spark.catalog.refreshTable(stamped)
          val ledgered = spark.table(lt).select("batch_id").distinct()
            .collect().map(_.getLong(0)).toSet
          spark.table(stamped).select("ingest_batch").distinct()
            .collect().map(_.getLong(0))
            .filter(b => b >= 0 && !ledgered.contains(b)).toSeq
      }
      require(unledgered.isEmpty,
        s"$verb($prefix): batch(es) ${unledgered.mkString(",")} are " +
          "mid-commit (stamped but not ledgered) — replay them through " +
          "maintainBatch before any maintenance rewrite, or their replay " +
          "fence is destroyed and a restart double-appends them")
    }
  }

  // ------------------------------------------------------------------
  // Segment merge log — crash-safe size-tiered folds
  // ------------------------------------------------------------------

  /** Merge outputs are stamped from a RESERVED range (≤ this value,
    * descending): real batches are ≥ 0 and the base build is
    * [[BaseBatch]], so a reserved stamp never collides with a real
    * batch — and an UNCOMMITTED merge output (crash before the log
    * append) is invisible by default. */
  val MergeStampCeil: Long = -2L

  def mergeLogTable(prefix: String): String = s"${prefix}_mergelog"

  /** The committed merge history: `folded` = every stamp some fold
    * consumed (its rows are dead); `outputs` = every stamp a committed
    * fold produced (live unless later folded — cascaded tiers).
    * Cleared on every full re-stamping rewrite, so both stay tiny. */
  final case class MergeLog(folded: Set[Long], outputs: Set[Long]) {
    def nextStamp: Long =
      math.min(MergeStampCeil, outputs.minOption.getOrElse(MergeStampCeil + 1) - 1)
  }

  /** Decoded merge logs keyed by the log table's LIVE file listing:
    * the log only changes when a fold commits or a rewrite clears it,
    * both of which change the listing — from any session, so the key
    * also covers the cross-session staleness a refresh guards. */
  private val mergeLogMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Seq[(String, Long)], MergeLog)]

  private[ops] def readMergeLog(spark: SparkSession, prefix: String): MergeLog = {
    val t = mergeLogTable(prefix)
    if (!spark.catalog.tableExists(t)) MergeLog(Set.empty, Set.empty)
    else {
      val key = tableFilesSized(spark, t)
      mergeLogMemo.get((spark, t)) match {
        case Some((k, log)) if k == key => log
        case _ =>
          mergeLogMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
          spark.catalog.refreshTable(t)
          val rows = spark.table(t).select("out_stamp", "folded_stamp").collect()
          val log = MergeLog(rows.map(_.getLong(1)).toSet, rows.map(_.getLong(0)).toSet)
          mergeLogMemo.put((spark, t), (key, log))
          log
      }
    }
  }

  /** Row-visibility predicate under the merge log, on `ingest_batch`:
    *   - unstamped rows (legacy tables) are visible;
    *   - real stamps (≥ -1) are visible unless a committed fold
    *     consumed them;
    *   - reserved stamps (≤ -2) are visible only when a committed
    *     fold PRODUCED them and no later fold consumed them.
    * Literal comparisons and IN-lists on one long column — pushed and
    * footer-pruned. Readers apply it even with an EMPTY log: a fold
    * that crashed before its first commit leaves reserved-stamp rows
    * on disk with no log table at all. */
  private[ops] def visibleUnder(log: MergeLog): Column = {
    val b = col("ingest_batch")
    val notFolded =
      if (log.folded.isEmpty) lit(true) else !b.isin(log.folded.toSeq: _*)
    val liveOutput =
      if (log.outputs.isEmpty) lit(false) else b.isin(log.outputs.toSeq: _*)
    b.isNull || (notFolded && (b >= lit(-1L) || liveOutput))
  }

  /** Append the commit rows for one fold — `folded` stamps consumed,
    * `out` produced — as ONE atomic job commit. The log is stored
    * under its own table name, so table-scoped logs never collide
    * under one index root. */
  private[ops] def commitFold(spark: SparkSession, prefix: String,
      anchorTable: String, folded: Seq[Long], out: Long): Unit = {
    import spark.implicits._
    val t = mergeLogTable(prefix)
    appendSide(spark, t, anchorTable, t,
      folded.map(f => (out, f)).toDF("out_stamp", "folded_stamp").coalesce(1))
  }

  /** Was `batchId` consumed by a committed fold under `scope`'s log?
    * A fold re-stamps a batch's rows and GC deletes its files, so for
    * a stamp-is-the-ledger table the log row is the durable evidence
    * the batch landed. */
  private[ops] def foldedUnder(spark: SparkSession, scope: String,
      batchId: Long): Boolean =
    spark.catalog.tableExists(mergeLogTable(scope)) &&
      readMergeLog(spark, scope).folded.contains(batchId)

  /** Drop the merge log after a full re-stamping rewrite (the stamps
    * it names no longer exist). Every session's memo entry goes too:
    * a re-created log must never serve the old decode. */
  private[ops] def clearMergeLog(spark: SparkSession, prefix: String): Unit = {
    val t = mergeLogTable(prefix)
    mergeLogMemo.filterInPlace((k, _) => k._2 != t)
    dropWithFiles(spark, t)
  }

  /** One fold in flight: the consumed stamps, the output stamp, and
    * the consumed row count (exact, from footers). */
  private[ops] final case class Fold(stamps: Seq[Long], out: Long, rows: Long)

  /** SIZE-TIERED segment merge over `specs`' tables (the last one's
    * footers measure segment size), logged under `scope`: fold ONLY
    * the batch-stamped segments of at most `maxTierRows` rows into one
    * segment under a fresh reserved stamp, leaving the base tier's
    * files byte-untouched. One footer sweep per table feeds GC, the
    * tier pick and the stamp pick. `rewrite(spec, input, fold)` writes
    * the merged rows, given the folded rows re-stamped to `fold.out`;
    * the commit is one merge-log append, and the inputs' files are
    * GC'd after it (their rows are already invisible). Returns true
    * when a fold ran (≥ 2 sub-tier segments). */
  private[ops] def tieredMerge(spark: SparkSession, prefix: String, scope: String,
      specs: Seq[TableSpec], maxTierRows: Long)(
      rewrite: (TableSpec, DataFrame, Fold) => Unit): Boolean = {
    val tables = specs.map(_.name(prefix))
    tables.foreach(spark.catalog.refreshTable)
    val log = readMergeLog(spark, scope)
    // GC any prior fold's leftovers FIRST: a crashed attempt's orphan
    // files must go before its stamp could be reused
    val segs = tables.map { t =>
      val all = fileSegments(spark, t)
      val gone = gcDeadFilesOf(spark, t, log, all).toSet
      all.filterNot(s => gone.contains(s._1))
    }
    val sizes = segmentSizesOf(segs.last, log)
    val stamps = sizes.collect {
      case (stamp, (rows, _)) if stamp != BaseBatch && rows <= maxTierRows => stamp
    }.toSeq.sorted
    if (stamps.size < 2) false
    else {
      // fresh against both the log's outputs and any stamp physically
      // present (belt-and-braces against a partial GC)
      val usedMin = (segs.flatten.map(_._2) ++ log.outputs :+ (MergeStampCeil + 1)).min
      val fold = Fold(stamps, math.min(log.nextStamp, usedMin - 1),
        stamps.map(s => sizes(s)._1).sum)
      specs.zip(tables).foreach { case (spec, t) =>
        rewrite(spec, spark.table(t).filter(col("ingest_batch").isin(stamps: _*))
          .withColumn("ingest_batch", lit(fold.out)), fold)
      }
      commitFold(spark, scope, tables.head, stamps, fold.out)
      // under the just-committed log the dead set is exactly the
      // folded stamps' files, already in hand from the sweep
      val log2 = MergeLog(log.folded ++ stamps, log.outputs + fold.out)
      tables.zip(segs).foreach { case (t, s) =>
        gcDeadFilesOf(spark, t, log2, s.filter(x => stamps.contains(x._2)))
      }
      true
    }
  }

  /** Fixture-cycle check around a tiered fold: the fold ran, left the
    * base tier's files of `table` byte-untouched, and left exactly the
    * base segment plus one merged segment. */
  private[ops] def checkedFold(spark: SparkSession, tag: String, table: String,
      scope: String)(fold: => Boolean): Unit = {
    def baseFiles = fileSegments(spark, table)
      .filter(f => f._2 == BaseBatch && f._3 == BaseBatch).map(f => (f._1, f._5)).toSet
    val before = baseFiles
    if (!fold) sys.error(s"$tag: sub-tier segments present but no fold ran")
    if (baseFiles != before) sys.error(s"$tag: the fold touched the base tier's files")
    val segs = segmentSizes(spark, table, readMergeLog(spark, scope))
    if (segs.size != 2) sys.error(s"$tag: expected base + merged segment, got ${segs.keySet}")
  }

  // ------------------------------------------------------------------
  // Parquet-footer segment metadata — the tier picker's size source
  // ------------------------------------------------------------------

  /** Per-file (path, ingest_batch min, max, rows, bytes) from parquet
    * FOOTERS only — no data I/O. Every append/fold file holds a
    * single stamp (min == max). */
  private[ops] def fileSegments(spark: SparkSession,
      table: String): Seq[(String, Long, Long, Long, Long)] =
    segStats(spark, table, "ingest_batch").collect {
      case st if st.hasStats => (st.path, st.mn, st.mx, st.rows, st.size)
    }

  /** Visible segments and their sizes: stamp → (rows, bytes), folded
    * and orphaned stamps excluded. */
  private[ops] def segmentSizes(spark: SparkSession, table: String,
      log: MergeLog): Map[Long, (Long, Long)] =
    segmentSizesOf(fileSegments(spark, table), log)

  /** Pure form over a precomputed [[fileSegments]] listing. Files whose
    * stamp range spans several batches are excluded, so a spanning
    * file can never be half-consumed by a fold. */
  private[ops] def segmentSizesOf(segs: Seq[(String, Long, Long, Long, Long)],
      log: MergeLog): Map[Long, (Long, Long)] =
    segs
      .filter { case (_, mn, mx, _, _) =>
        mn == mx && !log.folded.contains(mn) &&
          (mn >= -1L || log.outputs.contains(mn))
      }
      .groupBy(_._2)
      .map { case (stamp, fs) =>
        stamp -> (fs.map(_._4).sum, fs.map(_._5).sum)
      }

  /** Physically delete the files whose every row is DEAD under the
    * log — folded stamps and orphaned (uncommitted) merge outputs.
    * Pure GC: a crash mid-way changes nothing observable. */
  private[ops] def gcDeadFiles(spark: SparkSession, table: String,
      log: MergeLog): Int =
    gcDeadFilesOf(spark, table, log, fileSegments(spark, table)).size

  /** [[gcDeadFiles]] over a precomputed listing; returns only the paths
    * actually GONE, so a caller subtracting them from its sweep keeps
    * a dead reserved-stamp file that survived a failed delete (reusing
    * its stamp would make the crashed attempt's rows visible after the
    * next commit). */
  private[ops] def gcDeadFilesOf(spark: SparkSession, table: String,
      log: MergeLog, segs: Seq[(String, Long, Long, Long, Long)]): Seq[String] = {
    val dead = segs.filter { case (_, mn, mx, _, _) =>
      mn == mx &&
        (log.folded.contains(mn) || (mn <= MergeStampCeil && !log.outputs.contains(mn)))
    }
    val deleted = dead.filter { case (f, _, _, _, _) =>
      val p = java.nio.file.Paths.get(f)
      try { java.nio.file.Files.deleteIfExists(p); () }
      catch { case NonFatal(_) => () }
      !java.nio.file.Files.exists(p)
    }
    if (deleted.nonEmpty) spark.catalog.refreshTable(table)
    deleted.map(_._1)
  }
}
