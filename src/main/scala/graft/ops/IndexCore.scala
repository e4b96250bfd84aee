package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
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
  *     `<prefix>_<suffix>`, stored at `<index root>/<suffix>`), bucket
  *     key and within-bucket sort columns.
  *   - One [[Family]]: the prefix stem, the temp-dir tag and every
  *     table suffix it registers, from which `drop` is derived.
  *
  * **The commit log.** Every index keeps one append-only directory
  * `<index root>/_log/` of numbered JSON commits ([[State]]). Each
  * commit holds the index's WHOLE state — the verb and batch that made
  * it, the committed batch ids, each fold scope's folded and produced
  * stamps, the retired ids (with Lex's `dl`), Lex's needs-reindex
  * flag, and each table's location, row and file count — so resolving
  * the state ([[state]]) reads the newest file on the driver, with no
  * Spark job. A commit is written to a temp file and hard-linked to the
  * next version number ([[commit]]): the link fails when that version
  * exists, so a commit is complete or absent, and of two racing
  * committers exactly one wins. Only the bucketed data tables (plus
  * Lex's stats and dfcorr and Vec's codebook) live in the catalog,
  * under their logical names.
  *
  * **Shared verbs.**
  *   - Writes: [[writeTable]] (build at a path, or append) over the
  *     single bucket-aligned writer [[writeBucketed]]
  *     (`repartition(b, key)` → `bucketBy(b, key)` → `sortBy`, one
  *     file per bucket per write). Build-time bucket counts come from
  *     the caller (default [[DefaultBuckets]]); every later write
  *     reads the count back from the catalog ([[bucketsOf]]). A build
  *     ends with [[commitBuild]], which starts the index's state over.
  *   - Rewrites ([[rewrite]]; [[compacted]] is the per-bucket local
  *     rewrite with an optional broadcast anti-join purge) never rename
  *     a table: each new table is written through a temporary
  *     registration to a fresh versioned location beside the old one,
  *     ONE commit records every new location with the rest of the state
  *     change, then `ALTER TABLE … SET LOCATION` points the catalog at
  *     it and the old directory is deleted. [[state]] re-points any
  *     table whose catalog location lags the commit (a crash between
  *     commit and re-point), and the next rewrite of a table deletes
  *     the versioned locations no commit took.
  *   - Size-tiered folds: [[tieredMerge]] — one footer sweep, GC, tier
  *     pick, reserved output stamp, per-table rewrite, one commit of
  *     the scope's fold stamps, post-commit GC. Readers filter rows
  *     through [[visibleUnder]], so every crash point serves exactly
  *     the pre- or post-fold content.
  *   - Retention: [[recordTombstones]] commits retired ids; probes
  *     mask them with a broadcast anti-join against a local relation
  *     ([[retiredFrame]]); a compaction purges them and clears the set
  *     in the commit that publishes the purged tables.
  *   - Build-once indexes ([[ensurePersisted]]) and fresh per-run
  *     fixture indexes ([[cycle]]) share one registry, one serial and
  *     one lock.
  *
  * **Exactly-once fence** ([[maintainOnce]]), per batch id:
  *   1. the id is ≥ 0 (negative stamps are reserved: [[BaseBatch]]
  *      for builds and ad-hoc appends, ≤ [[MergeStampCeil]] for fold
  *      outputs);
  *   2. a batch id in the newest commit is done;
  *   3. otherwise the batch runs, each table is written only if its
  *      own stamp is absent ([[batchPresent]]), and one commit adds
  *      the id.
  * Rewrites that re-stamp rows first call [[requireLedgered]]: no
  * stamp in the footers may be missing from the log, or its replay
  * fence would be destroyed with it.
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
      tables.foreach(s => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$s"))
  }

  private def meta(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The catalog location of `table`, as a `file:` URI string. */
  private[ops] def location(spark: SparkSession, table: String): String =
    meta(spark, table).location.toString.stripSuffix("/")

  private def dirOf(loc: String): Path = Paths.get(new java.net.URI(loc))

  /** The bucket count `table` was BUILT with — every post-build write
    * must use it: a mismatched bucketBy on append fails with
    * "Specified bucketing does not match", and a mismatched rewrite
    * would silently change the probe layout. */
  private[ops] def bucketsOf(spark: SparkSession, table: String): Int =
    meta(spark, table).bucketSpec.map(_.numBuckets).getOrElse(DefaultBuckets)

  /** JVM-wide serial for index prefixes and temp names. Sessions from
    * `spark.newSession()` share one catalog, so prefixes must be
    * unique per JVM, not per session. */
  private[ops] val serial = new java.util.concurrent.atomic.AtomicLong(0)

  private[ops] def deleteDir(path: String): Unit =
    try {
      val root = Paths.get(path)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try {
          walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
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

  /** A fresh `graft-bandidx-<tag>*` temp directory, deleted at JVM
    * exit (or earlier by [[retireTempDir]]). */
  private[graft] def newTempDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-bandidx-$tag").toString
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
    def phase[T](name: String)(body: => T): T = graft.Metrics.span(tag, name)(body)

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
    val (prefix, path) = graft.Metrics.span(tag, "persist") {
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
  // The commit log
  // ------------------------------------------------------------------

  /** One table as a commit records it: its location and the rows and
    * parquet files on disk there when the commit was made. */
  final case class TableState(location: String, rows: Long, files: Int)

  /** The whole state of one index as of one commit (see the object
    * doc). `retired` maps each retired id to its `dl` (Lex; None
    * elsewhere). */
  final case class State(version: Long, verb: String, batch: Long,
      batches: Set[Long], folds: Map[String, MergeLog],
      retired: Map[Long, Option[Long]], reindex: Boolean,
      tables: Map[String, TableState]) {
    def log(scope: String): MergeLog = folds.getOrElse(scope, MergeLog(Set.empty, Set.empty))
  }

  private val Empty = State(-1L, "", BaseBatch, Set.empty, Map.empty, Map.empty,
    reindex = false, Map.empty)

  /** The one JSON codec of the index metadata (the commit log and the
    * segment-stats manifest): Jackson, from Spark's classpath. */
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def fields(n: com.fasterxml.jackson.databind.JsonNode) =
    n.properties().asScala.map(e => e.getKey -> e.getValue)

  private def longs(n: com.fasterxml.jackson.databind.JsonNode): Set[Long] =
    n.elements().asScala.map(_.asLong).toSet

  private def decode(bytes: Array[Byte]): State = {
    val n = json.readTree(bytes)
    State(n.get("version").asLong, n.get("verb").asText, n.get("batch").asLong,
      longs(n.get("batches")),
      fields(n.get("folds")).map { case (k, v) =>
        k -> MergeLog(longs(v.get("folded")), longs(v.get("outputs")))
      }.toMap,
      fields(n.get("retired")).map { case (k, v) =>
        k.toLong -> Option.unless(v.isNull)(v.asLong)
      }.toMap,
      n.get("reindex").asBoolean,
      fields(n.get("tables")).map { case (k, v) => k -> json.treeToValue(v, classOf[TableState]) }.toMap)
  }

  /** A test seam: called with a step name at each durable step of a
    * verb — `wrote <table>` after a table write, `commit <verb>` before
    * a commit, `committed <verb>` between a rewrite's commit and its
    * re-point. A spec substitutes a throwing hook to crash a verb
    * there. */
  @volatile private[ops] var step: String => Unit = _ => ()

  private def logDir(spark: SparkSession, anchor: String): Path =
    dirOf(location(spark, anchor)).getParent.resolve("_log")

  private def commitFile(dir: Path, version: Long): Path = dir.resolve(f"$version%020d.json")

  private def newest(dir: Path): Option[Path] =
    if (!Files.isDirectory(dir)) None
    else {
      val ls = Files.list(dir)
      try ls.iterator.asScala.map(_.getFileName.toString)
        .filter(_.matches("\\d{20}\\.json")).maxOption.map(dir.resolve)
      finally ls.close()
    }

  private def readState(dir: Path): State =
    newest(dir).fold(Empty)(p => decode(Files.readAllBytes(p)))

  /** The newest commit file of the index `anchor` belongs to. */
  private[graft] def lastCommit(spark: SparkSession, anchor: String): Option[Path] =
    newest(logDir(spark, anchor))

  /** A location this index's builds and rewrites own for the table
    * committed at `committed`: the build location `<root>/<suffix>` or
    * a versioned sibling `<root>/<suffix>_v<N>[_<k>]`. */
  private def ownedSibling(loc: String, committed: String): Boolean =
    Seq(loc, committed).map(dirOf).map(p => (p.getParent, versionBase(p))).distinct.size == 1

  private def versionBase(p: Path): String =
    p.getFileName.toString.replaceAll("_v\\d+(_\\d+)?$", "")

  /** Point `table` at `to` and delete `from`, the location it leaves. */
  private def relocate(spark: SparkSession, table: String, from: String, to: String): Unit = {
    spark.sql(s"ALTER TABLE $table SET LOCATION '$to'")
    spark.catalog.refreshTable(table)
    deleteDir(dirOf(from).toString)
  }

  /** The index's state as of its newest commit, with every table the
    * commit relocated pointed at its committed location (idempotent:
    * it only acts after a crash between a rewrite's commit and its
    * re-point). `anchor` is any of the index's tables — they share one
    * root. Driver-only: reads one small file, runs no Spark job. */
  private[ops] def state(spark: SparkSession, anchor: String): State = {
    val st = readState(logDir(spark, anchor))
    for ((t, ts) <- st.tables if spark.catalog.tableExists(t); loc = location(spark, t)
        if loc != ts.location && ownedSibling(loc, ts.location))
      relocate(spark, t, loc, ts.location)
    st
  }

  /** Commit the next version of the index's state: `change` applied to
    * the newest commit, stamped with `verb` and `batch`, with each
    * table in `wrote` (name → location) recorded with its footer row
    * and file counts (read through the manifest and memo, but never
    * written to them — those stay the readers' cache). Fails when a
    * racing committer took the version. */
  private[ops] def commit(spark: SparkSession, anchor: String, verb: String, batch: Long,
      wrote: Seq[(String, String)])(change: State => State): State = {
    val dir = logDir(spark, anchor)
    val prev = readState(dir)
    val base = change(prev)
    val next = base.copy(version = prev.version + 1, verb = verb, batch = batch,
      tables = base.tables ++ wrote.map { case (t, loc) =>
        val st = segStatsAt(spark, loc, "ingest_batch", persist = false)
        t -> TableState(loc, st.map(_.rows).sum, st.size)
      })
    step(s"commit $verb")
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".commit", ".tmp")
    try {
      Files.write(tmp, json.writeValueAsBytes(next))
      Files.createLink(commitFile(dir, next.version), tmp)
    } finally Files.deleteIfExists(tmp)
    next
  }

  private def at(spark: SparkSession, table: String): (String, String) =
    table -> location(spark, table)

  /** Start the index's state over after a build wrote `tables`. */
  private[ops] def commitBuild(spark: SparkSession, tables: Seq[String]): Unit =
    commit(spark, tables.head, "build", BaseBatch, tables.map(at(spark, _)))(_ => Empty)

  /** Commit an ad-hoc append to `tables`: a stamp ≥ 0 joins the
    * committed batches, so a later rewrite sees it as landed. */
  private[ops] def commitAppend(spark: SparkSession, tables: Seq[String], batch: Long): Unit =
    commit(spark, tables.head, "append", batch, tables.map(at(spark, _)))(st =>
      if (batch >= 0) st.copy(batches = st.batches + batch) else st)

  // ------------------------------------------------------------------
  // Bucketed writes and rewrites
  // ------------------------------------------------------------------

  /** The one bucketed writer. A bucketed write emits one file per
    * (task, bucket), so write tasks are aligned 1:1 with buckets by
    * the batch-sized hash exchange — one file per bucket per write, a
    * file count independent of cluster width. Over a bucketed scan
    * of the same table the exchange is elided (the scan already has
    * the partitioning), which is what makes [[compacted]] a
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
    writeBucketed(rows, spec, t, build.map { case (path, _) => s"$path/${spec.suffix}" },
      build.fold(bucketsOf(rows.sparkSession, t))(_._2))
    step(s"wrote $t")
  }

  /** The files currently backing `table` (append growth and
    * compaction are asserted on this count). */
  def tableFiles(spark: SparkSession, table: String): Seq[String] =
    filesAt(location(spark, table)).map(_._1)

  /** The parquet files under `loc` with sizes, in ONE filesystem pass —
    * the live listing every footer-derived answer validates against.
    * Skips `_temporary` subtrees (an in-flight write's task files must
    * not be footer-probed) and tolerates files deleted mid-walk. Sorted
    * for stable memo keys. */
  private def filesAt(loc: String): Seq[(String, Long)] = {
    val dir = dirOf(loc)
    if (!Files.exists(dir)) Seq.empty
    else {
      import java.nio.file.FileVisitResult.{CONTINUE, SKIP_SUBTREE}
      type Attrs = java.nio.file.attribute.BasicFileAttributes
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path, a: Attrs) =
          if (d.getFileName != null && d.getFileName.toString == "_temporary") SKIP_SUBTREE
          else CONTINUE
        override def visitFile(f: Path, a: Attrs) = {
          if (a.isRegularFile && f.getFileName.toString.endsWith(".parquet"))
            buf += ((f.toString, a.size()))
          CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException) = CONTINUE
      })
      buf.sortBy(_._1).toSeq
    }
  }

  /** The index's storage root, derived from an anchor table's
    * location — side tables live WITH the index (same durability
    * domain), so a restarted query sees exactly what the index
    * absorbed. */
  private[ops] def indexRootOf(spark: SparkSession, anchorTable: String): String = {
    val loc = location(spark, anchorTable)
    loc.substring(0, loc.lastIndexOf('/'))
  }

  /** Bucket-preserving compaction, as one [[rewrite]] entry: every
    * current file of `spec`'s table rewritten into ONE file per bucket,
    * same bucket and sort spec. `minus` purges rows whose `minusIdCol`
    * is in that (bounded) frame with a broadcast anti-join, which
    * streams the bucketed side and keeps the per-bucket rewrite. The
    * sort spec is part of the table's bucketing metadata: a rewrite
    * that dropped a sort column would wedge every later append and
    * loosen the footer bounds probes prune on. */
  private[ops] def compacted(spark: SparkSession, spec: TableSpec, prefix: String,
      minus: Option[DataFrame], minusIdCol: String): (String, (String, String) => Unit) = {
    val table = spec.name(prefix)
    // the last writer may have been ANOTHER session (a streaming
    // foreachBatch runs in the query's session clone, whose appends
    // don't invalidate this session's cached file listing) — without
    // the refresh the rewrite silently drops every file this session
    // hasn't seen
    spark.catalog.refreshTable(table)
    val b = bucketsOf(spark, table)
    table -> { (tmpT, loc) =>
      // A bucketed scan yields exactly one bucket per task, so the
      // write lays each bucket back down as one file with no
      // exchange. Two planner settings keep that scan: with
      // autoBucketedScan on, DisableUnnecessaryBucketedScan downgrades
      // it to size-based chunks (the writer's exchange was already
      // elided against it, so nothing "needs" the distribution); AQE's
      // local-read rewrite would likewise re-chunk the read.
      val keys = Seq("spark.sql.adaptive.enabled",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled")
      val was = keys.map(k => k -> spark.conf.get(k, "true"))
      keys.foreach(spark.conf.set(_, "false"))
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

  /** Replace tables of one index together (see the object doc):
    * `writes` pairs each table with `write(tmpTable, location)`, which
    * lays its new rows down through a temporary registration at a
    * versioned location that does not exist yet (an earlier JVM may
    * have left one of the same name). ONE commit — `change` plus every
    * new location — publishes them; the catalog is re-pointed and the
    * old directories deleted afterwards. Before writing, versioned
    * siblings that no commit took (a crashed rewrite's) are deleted. */
  private[ops] def rewrite(spark: SparkSession, anchor: String, verb: String,
      writes: Seq[(String, (String, String) => Unit)])(change: State => State): Unit = {
    val next = state(spark, anchor).version + 1
    val placed = writes.map { case (table, write) =>
      val old = location(spark, table)
      val base = versionBase(dirOf(old))
      val root = dirOf(old).getParent
      sweepUncommitted(root, base, old)
      val fresh = Iterator.from(0).map(k => root.resolve(s"${base}_v$next" +
        (if (k == 0) "" else s"_$k"))).find(!Files.exists(_)).get
      val tmpT = s"${table}_$verb"
      write(tmpT, fresh.toString)
      val loc = location(spark, tmpT)
      spark.sql(s"DROP TABLE $tmpT")
      step(s"wrote $table")
      (table, old, loc)
    }
    commit(spark, anchor, verb, BaseBatch, placed.map(p => p._1 -> p._3))(change)
    step(s"committed $verb")
    placed.foreach { case (t, old, loc) => relocate(spark, t, old, loc) }
  }

  /** Delete the versioned `<base>_v<N>[_<k>]` directories under `root`
    * that commit N does not name — outputs of rewrites that crashed or
    * lost a commit race. Committed ones (live, or an earlier index's
    * at the same path) stay. */
  private def sweepUncommitted(root: Path, base: String, live: String): Unit = {
    val versioned = (java.util.regex.Pattern.quote(base) + "_v(\\d+)(_\\d+)?").r
    val log = root.resolve("_log")
    val ls = Files.list(root)
    try ls.iterator.asScala.toList.foreach { p =>
      p.getFileName.toString match {
        case versioned(v, _) if p != dirOf(live) =>
          val f = commitFile(log, v.toLong)
          val taken = Files.exists(f) &&
            decode(Files.readAllBytes(f)).tables.values.exists(t => dirOf(t.location) == p)
          if (!taken) deleteDir(p.toString)
        case _ => ()
      }
    } finally ls.close()
  }

  // ------------------------------------------------------------------
  // Side tables (Lex's dfcorr: data, not state)
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
      val loc = location(spark, table)
      spark.sql(s"DROP TABLE $table")
      deleteDir(dirOf(loc).toString)
    }

  // ------------------------------------------------------------------
  // Persisted segment-stats manifest: footer data is immutable per
  // file, so it is cached in a `_segstats_<col>.json` side file next to
  // the table's data (leading underscore: invisible to Spark's file
  // listing), validated entry by entry against one live listing (path
  // + size). Footers are read only for files the manifest has not
  // seen — O(arrivals) footer reads per verb instead of O(files). A
  // missing, stale, torn or old-format manifest only causes re-reads;
  // writes are atomic (tmp + rename). Updating lazily on READ covers
  // ad-hoc appends, streaming session clones and external rewrites
  // without trusting any writer to maintain it.
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

  private def readManifest(p: Path): Map[String, SegStat] =
    try {
      if (!Files.exists(p)) Map.empty
      else json.readTree(Files.readAllBytes(p)).get("files").elements().asScala.flatMap { o =>
        def fld(k: String) = Option(o.get(k)).filter(_.canConvertToLong).map(_.asLong)
        for (name <- Option(o.get("p")).map(_.asText); size <- fld("s"); rows <- fld("r"))
          yield name -> SegStat(name, size, rows, fld("mn").getOrElse(Long.MaxValue),
            fld("mx").getOrElse(Long.MinValue), fld("c").contains(1L), failed = false)
      }.toMap
    } catch { case NonFatal(_) => Map.empty }

  /** Write the manifest atomically. Temp siblings a crashed writer
    * left behind are deleted first, so they cannot accumulate (a
    * concurrent writer's temp may go too; its move then fails, which
    * only costs a later footer re-read). */
  private def writeManifest(p: Path, stats: Seq[SegStat]): Unit =
    try {
      val stray = Files.newDirectoryStream(p.getParent, p.getFileName.toString + ".tmp*")
      try stray.forEach(f => { Files.deleteIfExists(f); () })
      finally stray.close()
      val files = stats.map { st =>
        val mnmx = if (st.hasStats) Seq("mn" -> st.mn, "mx" -> st.mx) else Nil
        scala.collection.immutable.ListMap(
          Seq("p" -> p.getParent.relativize(Paths.get(st.path)).toString,
            "s" -> st.size, "r" -> st.rows) ++ mnmx :+ ("c" -> (if (st.complete) 1 else 0)): _*)
      }
      val tmp = p.resolveSibling(p.getFileName.toString + s".tmp${serial.incrementAndGet()}")
      Files.write(tmp, json.writeValueAsBytes(Map("files" -> files)))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
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
      val blocks = openFooter(spark, path).getBlocks.asScala.toSeq
      // per non-empty row group: the column's usable statistics, if any
      val perBlock = blocks.filter(_.getRowCount > 0L).map(_.getColumns.asScala.collectFirst {
        case c if c.getPath.toDotString == col && c.getStatistics != null &&
            !c.getStatistics.isEmpty && c.getStatistics.hasNonNullValue =>
          c.getStatistics.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
      })
      val st = perBlock.flatten
      SegStat(path, size, blocks.map(_.getRowCount).sum,
        st.map(_.getMin).foldLeft(Long.MaxValue)(math.min),
        st.map(_.getMax).foldLeft(Long.MinValue)(math.max),
        complete = perBlock.forall(_.isDefined), failed = false)
    } catch {
      case NonFatal(_) =>
        SegStat(path, size, 0L, Long.MaxValue, Long.MinValue, complete = false, failed = true)
    }

  /** Footer stats for every live file of `table`, through the memo →
    * manifest → footer-read fallback chain. The single entry point
    * behind [[footerProvenAbsent]], [[fileSegments]] and
    * [[stampSetFromFooters]]. */
  private[ops] def segStats(spark: SparkSession, table: String,
      col: String): Seq[SegStat] = segStatsAt(spark, location(spark, table), col, persist = true)

  private def segStatsAt(spark: SparkSession, loc: String, col: String,
      persist: Boolean): Seq[SegStat] = {
    val listing = filesAt(loc)
    val memoKey = (spark, loc, col)
    segStatsMemo.get(memoKey) match {
      case Some((k, stats)) if k == listing => stats
      case _ =>
        segStatsMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
        val mPath = dirOf(loc).resolve(s"_segstats_$col.json")
        val manifest = if (listing.isEmpty) Map.empty[String, SegStat]
          else readManifest(mPath)
        val parent = mPath.getParent
        var fresh = 0
        var failed = 0
        val stats = listing.map { case (p, sz) =>
          val rel = parent.relativize(Paths.get(p)).toString
          manifest.get(rel).filter(_.size == sz) match {
            case Some(st) => st.copy(path = p)
            case None =>
              val st = readFooterStat(spark, p, sz, col)
              if (st.failed) failed += 1 else fresh += 1
              st
          }
        }
        if (persist && failed == 0) {
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

  /** Record expired ids (first column of `expired`) as retired in the
    * index's log — the O(retired) retention write; the set is bounded
    * by contract (it must broadcast at probe time). */
  private[ops] def recordTombstones(spark: SparkSession, anchor: String,
      expired: DataFrame): Unit = {
    val ids = expired.select(col(expired.columns.head).cast("long"))
      .collect().filterNot(_.isNullAt(0)).map(_.getLong(0))
    commit(spark, anchor, "retireTombstone", BaseBatch, Nil)(st =>
      st.copy(retired = ids.map(_ -> Option.empty[Long]).toMap ++ st.retired))
  }

  /** A retired set as a broadcast-hinted (retired_id, dl) local
    * relation, or None when empty. The broadcast hint keeps the
    * anti-join a broadcast-hash join even with auto-broadcast disabled,
    * so the masked scan keeps its bucketed output partitioning. */
  private[ops] def retiredFrame(spark: SparkSession,
      retired: Map[Long, Option[Long]]): Option[DataFrame] = {
    import spark.implicits._
    Option.when(retired.nonEmpty)(broadcast(retired.toSeq.sortBy(_._1).toDF("retired_id", "dl")))
  }

  // ------------------------------------------------------------------
  // Exactly-once maintenance — the fence
  // ------------------------------------------------------------------

  /** The exactly-once fence shared by every `maintainBatch` — the
    * order in the object doc. `tables` are the tables the batch writes
    * (the first anchors the log); `write` runs the batch, given
    * `landed(table)` so it can skip any table a crashed attempt
    * already wrote. Returns None when the log holds the batch. */
  private[ops] def maintainOnce[T](spark: SparkSession, verb: String, tables: Seq[String],
      batchId: Long)(write: (String => Boolean) => T): Option[T] = {
    require(batchId >= 0,
      s"$verb batchId must be >= 0, got $batchId (ids < 0 are " +
        "reserved for the base-build/ad-hoc stamp)")
    if (state(spark, tables.head).batches.contains(batchId)) None
    else {
      val out = write(t => batchPresent(spark, t, batchId))
      commit(spark, tables.head, verb, batchId, tables.map(at(spark, _)))(st =>
        st.copy(batches = st.batches + batchId))
      Some(out)
    }
  }

  /** Refuse a rewrite that destroys batch stamps (fold, re-base,
    * re-stamp) while a stamp ≥ 0 in `stamped`'s footers is missing
    * from the log — a batch mid-commit: its replay fence would be gone
    * and a checkpoint restart would double-append it. The stamp set
    * comes from footers when every file holds one stamp, otherwise
    * from an exact distinct-collect. Returns the state it checked. */
  private[ops] def requireLedgered(spark: SparkSession, stamped: String,
      verb: String): State = {
    val st = state(spark, stamped)
    val stamps = stampSetFromFooters(spark, stamped, "ingest_batch").getOrElse {
      spark.catalog.refreshTable(stamped)
      spark.table(stamped).select("ingest_batch").distinct()
        .collect().filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    }
    val missing = stamps.filter(b => b >= 0 && !st.batches.contains(b)).toSeq.sorted
    require(missing.isEmpty,
      s"$verb($stamped): batch(es) ${missing.mkString(",")} are " +
        "mid-commit (stamped but not in the index's commit log) — replay " +
        "them through maintainBatch before any maintenance rewrite, or " +
        "their replay fence is destroyed and a restart double-appends them")
    st
  }

  // ------------------------------------------------------------------
  // Crash-safe size-tiered folds
  // ------------------------------------------------------------------

  /** Merge outputs are stamped from a RESERVED range (≤ this value,
    * descending): real batches are ≥ 0 and the base build is
    * [[BaseBatch]], so a reserved stamp never collides with a real
    * batch — and an UNCOMMITTED merge output (crash before the commit)
    * is invisible by default. */
  val MergeStampCeil: Long = -2L

  /** One fold scope's committed merge history: `folded` = every stamp
    * some fold consumed (its rows are dead); `outputs` = every stamp a
    * committed fold produced (live unless later folded — cascaded
    * tiers). Cleared on every full re-stamping rewrite, so both stay
    * tiny. */
  final case class MergeLog(folded: Set[Long], outputs: Set[Long]) {
    def nextStamp: Long =
      math.min(MergeStampCeil, outputs.minOption.getOrElse(MergeStampCeil + 1) - 1)
  }

  /** Row-visibility predicate under a fold scope's log, on
    * `ingest_batch`:
    *   - unstamped rows (legacy tables) are visible;
    *   - real stamps (≥ -1) are visible unless a committed fold
    *     consumed them;
    *   - reserved stamps (≤ -2) are visible only when a committed
    *     fold PRODUCED them and no later fold consumed them.
    * Literal comparisons and IN-lists on one long column — pushed and
    * footer-pruned. Readers apply it even with an EMPTY log: a fold
    * that crashed before its commit leaves reserved-stamp rows on
    * disk. */
  private[ops] def visibleUnder(log: MergeLog): Column = {
    val b = col("ingest_batch")
    val notFolded =
      if (log.folded.isEmpty) lit(true) else !b.isin(log.folded.toSeq: _*)
    val liveOutput =
      if (log.outputs.isEmpty) lit(false) else b.isin(log.outputs.toSeq: _*)
    b.isNull || (notFolded && (b >= lit(-1L) || liveOutput))
  }

  /** Commit one fold under `scope`: `folded` stamps consumed, `out`
    * produced, with the tables it appended to. */
  private[ops] def commitFold(spark: SparkSession, tables: Seq[String], scope: String,
      folded: Seq[Long], out: Long): State =
    commit(spark, tables.head, "tieredMerge", out, tables.map(at(spark, _))) { st =>
      val log = st.log(scope)
      st.copy(folds = st.folds + (scope -> MergeLog(log.folded ++ folded, log.outputs + out)))
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
    * the commit is [[commitFold]], and the inputs' files are GC'd
    * after it (their rows are already invisible). Returns true when a
    * fold ran (≥ 2 sub-tier segments). */
  private[ops] def tieredMerge(spark: SparkSession, prefix: String, scope: String,
      specs: Seq[TableSpec], maxTierRows: Long)(
      rewrite: (TableSpec, DataFrame, Fold) => Unit): Boolean = {
    val tables = specs.map(_.name(prefix))
    tables.foreach(spark.catalog.refreshTable)
    val log = state(spark, tables.head).log(scope)
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
      val log2 = commitFold(spark, tables, scope, stamps, fold.out).log(scope)
      // under the just-committed log the dead set is exactly the
      // folded stamps' files, already in hand from the sweep
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
    val segs = segmentSizes(spark, table, state(spark, table).log(scope))
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
      val p = Paths.get(f)
      try { Files.deleteIfExists(p); () }
      catch { case NonFatal(_) => () }
      !Files.exists(p)
    }
    if (deleted.nonEmpty) spark.catalog.refreshTable(table)
    deleted.map(_._1)
  }
}
