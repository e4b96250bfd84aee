package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

import graft.SparkSpec

/** The per-index commit log: the crash windows of the multi-table
  * rewrites, a crash injected at every durable step of every verb, the
  * job-free state resolve, and what the last commit says. */
class IndexLogSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val driftedSf = "/root/testdata/sf0.01"

  private final class Crash(at: String) extends RuntimeException(s"injected crash at $at")

  /** Run `body` with a crash injected at the step named `at`, which
    * the verb must reach. */
  private def crashAt(at: String)(body: => Unit): Unit = {
    var hit = false
    IndexCore.step = s => if (s == at) { hit = true; throw new Crash(s) }
    try intercept[Crash](body) finally IndexCore.step = _ => ()
    assert(hit, s"the verb never reached step '$at'")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def diff(a: Seq[String], b: Seq[String]): String =
    s"${a.diff(b).take(3).mkString("; ")} <> ${b.diff(a).take(3).mkString("; ")}"

  private def emb = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")

  test("a crash between Lex compaction's stats re-base and its tombstone clear keeps BM25 exact") {
    val docs = graft.Tables.documents(spark, sf)
    val (prefix, ref) = (s"graft_log_rebase_${System.nanoTime()}", s"graft_log_rebaseref_${System.nanoTime()}")
    val (path, refPath) = (IndexCore.newTempDir("logrebase"), IndexCore.newTempDir("logrebaseref"))
    try {
      LexIndex.persist(spark, sf, path, prefix)
      val victim = LexIndex.probe(spark, sf, prefix)
        .filter(col("query_id") === 0 && col("rk") === 1).collect().head.getLong(2)
      LexIndex.retire(spark, prefix, spark.range(1).select(lit(victim).as("doc_id")))
      crashAt(s"wrote ${LexIndex.statsTable(prefix)}")(LexIndex.compact(spark, prefix))
      LexIndex.persist(spark, sf, refPath, ref, Some(docs.filter(col("doc_id") =!= victim)))
      val (got, want) = (rows(LexIndex.probe(spark, sf, prefix)), rows(LexIndex.probe(spark, sf, ref)))
      assert(got == want, s"BM25 after the crash differs from a build over the survivors: ${diff(got, want)}")
    } finally {
      LexIndex.drop(spark, prefix); LexIndex.drop(spark, ref)
      IndexCore.retireTempDir(path); IndexCore.retireTempDir(refPath)
    }
  }

  test("a retire retried after a crash at its commit keeps the capped lanes' df exact") {
    val docs = graft.Tables.documents(spark, sf)
    val dense = pmod(col("doc_id"), lit(4)) === lit(0)
    val prefix = s"graft_log_retry_${System.nanoTime()}"
    val path = IndexCore.newTempDir("logretry")
    try {
      LexIndex.persist(spark, sf, path, prefix, Some(docs.filter(!dense)))
      LexIndex.append(spark, sf, docs.filter(dense), prefix, batch = 1L)
      val victimId = LexIndex.segmentProbe(spark, sf, prefix)
        .filter(col("query_id") === 0 && col("rk") === 1).collect().head.getLong(2)
      val victim = spark.range(1).select(lit(victimId).as("doc_id"))
      // the crashed attempt has already appended the victim's term
      // containment when the retry appends it again
      crashAt("commit retire")(LexIndex.retire(spark, prefix, victim, Some(docs)))
      LexIndex.retire(spark, prefix, victim, Some(docs))
      val served = rows(LexIndex.segmentProbe(spark, sf, prefix))
      LexIndex.mergeReindex(spark, prefix)
      val rebuilt = rows(LexIndex.impactProbe(spark, sf, prefix))
      assert(served == rebuilt, s"masked serving after the retried retire differs from the rewrite: ${diff(served, rebuilt)}")
    } finally {
      LexIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }

  test("a crash between pqSwapGeneration's two tables serves one whole generation") {
    val (serving, gen1) = (s"graft_log_gen0_${System.nanoTime()}", s"graft_log_gen1_${System.nanoTime()}")
    val (path0, path1) = (IndexCore.newTempDir("loggen0"), IndexCore.newTempDir("loggen1"))
    try {
      VecIndex.pqPersist(spark, sf, path0, serving,
        Some(emb.filter(pmod(hash(col("vec_id")), lit(4)) =!= lit(0))))
      // a generation trained on other vectors, so its codebook differs
      VecIndex.pqPersist(spark, driftedSf, path1, gen1)
      val (old, fresh) = (rows(VecIndex.pqProbe(spark, sf, serving)), rows(VecIndex.pqProbe(spark, sf, gen1)))
      assert(old != fresh, "fixture generations must answer differently")
      crashAt(s"wrote ${VecIndex.pqCellsTable(serving)}")(VecIndex.pqSwapGeneration(spark, serving, gen1))
      val after = rows(VecIndex.pqProbe(spark, sf, serving))
      assert(after == old || after == fresh,
        s"serving mixes generations: vs old ${diff(after, old)}; vs new ${diff(after, fresh)}")
    } finally {
      VecIndex.drop(spark, serving); VecIndex.drop(spark, gen1)
      IndexCore.retireTempDir(path0); IndexCore.retireTempDir(path1)
    }
  }

  // ---- crash injection at every durable step ----------------------

  /** Run `body` with a crash injected at its `k`-th step; returns the
    * step's name. */
  private def crashAtStep(k: Int)(body: => Unit): String = {
    var (n, at) = (0, "")
    IndexCore.step = s => { n += 1; if (n == k) { at = s; throw new Crash(s) } }
    try intercept[Crash](body) finally IndexCore.step = _ => ()
    assert(at.nonEmpty, s"the verb has no step $k")
    at
  }

  private def stepsOf(body: => Unit): Int = {
    var n = 0
    IndexCore.step = _ => n += 1
    try body finally IndexCore.step = _ => ()
    n
  }

  /** One verb under crash injection. `setup(prefix, path)` builds a
    * fresh index; `run` runs the verb and returns its decisions (empty
    * for a verb that decides nothing); `observe` is what a crash and a
    * replay must leave exactly as a clean run leaves it (probe answer
    * and table row counts); `rewrite` is the next rewrite of the
    * verb's tables. */
  private final class Verb(val name: String, val anchor: String => String,
      val setup: (String, String) => Unit, val run: String => Seq[String],
      val observe: String => Seq[String], val rewrite: String => Unit, val drop: String => Unit)

  private def fresh[T](v: Verb)(body: String => T): T = {
    val prefix = s"graft_log_${v.name}_${System.nanoTime()}"
    val path = IndexCore.newTempDir(s"log${v.name}")
    try { v.setup(prefix, path); body(prefix) }
    finally { v.drop(prefix); IndexCore.retireTempDir(path) }
  }

  /** Versioned table directories in the index root that no live table
    * sits at — what a crashed rewrite would leave behind. */
  private def strayVersions(anchor: String): Seq[String] = {
    val st = IndexCore.state(spark, anchor)
    val live = st.tables.values.map(t => Paths.get(new java.net.URI(t.location))).toSet
    val root = Paths.get(new java.net.URI(IndexCore.indexRootOf(spark, anchor)))
    val ls = Files.list(root)
    try ls.iterator.asScala.filter(p => p.getFileName.toString.matches(".*_v\\d+(_\\d+)?") &&
      !live.contains(p)).map(_.toString).toList
    finally ls.close()
  }

  private def crashEveryStep(v: Verb): Unit = {
    var steps = 0
    val (dec0, obs0) = fresh(v) { p =>
      var d = Seq.empty[String]
      steps = stepsOf { d = v.run(p) }
      (d, v.observe(p))
    }
    assert(steps > 0, s"${v.name} passed no step")
    (1 to steps).foreach { k =>
      fresh(v) { p =>
        val at = crashAtStep(k)(v.run(p))
        val dec = v.run(p)
        assert(dec == dec0, s"${v.name}, crash at '$at': replay decisions differ: ${diff(dec, dec0)}")
        val obs = v.observe(p)
        assert(obs == obs0, s"${v.name}, crash at '$at': replay differs from a clean run: ${diff(obs, obs0)}")
        v.rewrite(p)
        val stray = strayVersions(v.anchor(p))
        assert(stray.isEmpty, s"${v.name}, crash at '$at': uncommitted locations left: $stray")
      }
    }
  }

  private def counts(tables: Seq[String]): Seq[String] =
    tables.map(t => s"${t.substring(t.lastIndexOf('_') + 1)}=${spark.table(t).count()}")

  private def day0Ids = graft.Tables.documents(spark, sf)
    .filter(col("source") === Dedup.IncBatchSrc).select("doc_id")

  private def retiredDocs = graft.Tables.documents(spark, sf)
    .filter(col("source").isin(BandIndex.RetiredSrcs: _*)).select("doc_id")

  private def band(name: String, setup: (String, String) => Unit, run: String => Seq[String]) =
    new Verb(name, BandIndex.bandsTable, (p, path) => { BandIndex.persist(spark, sf, path, p); setup(p, path) },
      run, p => rows(BandIndex.probe(spark, sf, p)) ++
        counts(Seq(BandIndex.bandsTable(p), BandIndex.sigsTable(p))),
      BandIndex.compact(spark, _), BandIndex.drop(spark, _))

  private def denseQuarter = pmod(col("doc_id"), lit(4)) === lit(0)

  private def lex(name: String, setup: String => Unit, run: String => Seq[String]) =
    new Verb(name, LexIndex.postingsTable, (p, path) => {
      LexIndex.persist(spark, sf, path, p, Some(graft.Tables.documents(spark, sf).filter(!denseQuarter)))
      setup(p)
    }, run, p => rows(LexIndex.probe(spark, sf, p)) ++
      counts(Seq(LexIndex.postingsTable(p), LexIndex.docstatsTable(p), LexIndex.statsTable(p))),
      LexIndex.compact(spark, _), LexIndex.drop(spark, _))

  test("a crash at any step of a band append, tombstone, fold or compaction replays to the clean result") {
    crashEveryStep(band("bandappend", (_, _) => (),
      p => BandIndex.maintainBatch(spark, sf, p, day0Ids, 0L).toSeq.flatMap(rows)))
    crashEveryStep(band("bandtomb", (_, _) => (),
      p => { BandIndex.retireTombstone(spark, p, retiredDocs); Nil }))
    crashEveryStep(band("bandfold", (p, _) => {
      val novel = BandIndex.probe(spark, sf, p).filter(col("dup_of").isNull)
        .select(col("batch_doc").as("doc_id")).localCheckpoint()
      Seq(0, 1).foreach(i => BandIndex.append(spark, sf,
        novel.filter(pmod(hash(col("doc_id")), lit(2)) === lit(i)), p, batchId = i.toLong))
    }, p => { assert(BandIndex.tieredMerge(spark, p)); Nil }))
    crashEveryStep(band("bandcompact", (p, _) => BandIndex.retireTombstone(spark, p, retiredDocs),
      p => { BandIndex.compact(spark, p); Nil }))
  }

  test("a crash at any step of a lexical append or compaction with re-base replays to the clean result") {
    val docs = graft.Tables.documents(spark, sf)
    crashEveryStep(lex("lexappend", _ => (),
      p => { LexIndex.maintainBatch(spark, sf, p, docs.filter(denseQuarter), 0L); Nil }))
    crashEveryStep(lex("lexcompact", p => LexIndex.retire(spark, p,
        LexIndex.probe(spark, sf, p).filter(col("rk") === 1).select("doc_id").distinct()),
      p => { LexIndex.compact(spark, p); Nil }))
  }

  test("a crash at any step of pqSwapGeneration replays to the new generation") {
    crashEveryStep(new Verb("pqswap", VecIndex.pqCellsTable, (p, path) => {
      VecIndex.pqPersist(spark, sf, path, p, Some(emb.filter(pmod(hash(col("vec_id")), lit(4)) =!= lit(0))))
      VecIndex.pqPersist(spark, driftedSf, s"$path/next", s"${p}_next")
    }, p => { VecIndex.pqSwapGeneration(spark, p, s"${p}_next"); Nil },
      p => rows(VecIndex.pqProbe(spark, sf, p)) ++
        counts(Seq(VecIndex.pqCellsTable(p), VecIndex.codebookTable(p))),
      VecIndex.pqCompact(spark, _), p => { VecIndex.drop(spark, p); VecIndex.drop(spark, s"${p}_next") }))
  }

  // ---- the state resolve and the last commit ------------------------

  test("resolving an index's state runs no Spark job, re-pointing a table included") {
    val prefix = s"graft_log_jobs_${System.nanoTime()}"
    val path = IndexCore.newTempDir("logjobs")
    val bands = BandIndex.bandsTable(prefix)
    try {
      BandIndex.persist(spark, sf, path, prefix)
      BandIndex.retireTombstone(spark, prefix, retiredDocs)
      // a crash between the compaction's commit and its re-point: the
      // catalog lags the log
      crashAt("committed compact")(BandIndex.compact(spark, prefix))
      val committed = IndexCore.lastCommit(spark, bands).map(f =>
        json.readTree(Files.readAllBytes(f)).get("tables").get(bands).get("location").asText).get
      val lagging = IndexCore.location(spark, bands)
      assert(lagging != committed, "fixture: the catalog must lag the commit")
      assert(graft.Metrics.record(spark)(IndexCore.state(spark, bands))._2.jobs.size == 0,
        "resolving the state started a Spark job")
      assert(IndexCore.location(spark, bands) == committed,
        s"the state resolve did not re-point $bands (was $lagging)")
      assert(graft.Metrics.record(spark)(IndexCore.state(spark, bands))._2.jobs.size == 0)
    } finally {
      BandIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The newest commit of the index `anchor` belongs to, read as plain
    * JSON — what an operator sees without the engine. */
  private def lastCommit(anchor: String) =
    json.readTree(Files.readAllBytes(IndexCore.lastCommit(spark, anchor).get))

  /** No retired side state: no ledger, merge-log or tombstone table in
    * the catalog under `prefix`, and nothing but table directories and
    * `_log` in the index root. */
  private def assertNoSideState(prefix: String, anchor: String, tables: Seq[String]): Unit = {
    val registered = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix)).toSet
    assert(registered == tables.toSet, s"catalog under $prefix: $registered")
    val root = Paths.get(new java.net.URI(IndexCore.indexRootOf(spark, anchor)))
    val suffixes = tables.map(_.stripPrefix(prefix + "_"))
    val entries = Files.list(root).iterator.asScala.map(_.getFileName.toString).toList
    val unknown = entries.filterNot(e => e == "_log" || suffixes.exists(x => e.matches(s"$x(_v\\d+(_\\d+)?)?")))
    assert(unknown.isEmpty, s"side state in the index root: $unknown")
  }

  test("after a scripted band day the last commit alone says what each verb did") {
    val prefix = s"graft_log_day_${System.nanoTime()}"
    val path = IndexCore.newTempDir("logday")
    val (bands, sigs) = (BandIndex.bandsTable(prefix), BandIndex.sigsTable(prefix))
    def said(verb: String, batch: Long): Unit = {
      val c = lastCommit(bands)
      assert(c.get("verb").asText == verb && c.get("batch").asLong == batch,
        s"last commit says ${c.get("verb")} of batch ${c.get("batch")}, not $verb of $batch")
      Seq(bands, sigs).foreach { t =>
        val ts = c.get("tables").get(t)
        assert(ts.get("location").asText == IndexCore.location(spark, t))
        assert(ts.get("rows").asLong == spark.table(t).count(), s"$t rows: $ts")
        assert(ts.get("files").asInt == IndexCore.tableFiles(spark, t).size, s"$t files: $ts")
      }
    }
    try {
      BandIndex.persist(spark, sf, path, prefix)
      said("build", BandIndex.BaseBatch)
      assert(BandIndex.maintainBatch(spark, sf, prefix, day0Ids, 0L).nonEmpty)
      said("maintainBatch", 0L)
      val version = lastCommit(bands).get("version").asLong
      assert(BandIndex.maintainBatch(spark, sf, prefix, day0Ids, 0L).isEmpty)
      assert(lastCommit(bands).get("version").asLong == version, "a replayed batch committed")
      BandIndex.retireTombstone(spark, prefix, retiredDocs)
      said("retireTombstone", BandIndex.BaseBatch)
      assert(lastCommit(bands).get("retired").size == retiredDocs.count())
      BandIndex.compact(spark, prefix)
      said("compact", BandIndex.BaseBatch)
      val c = lastCommit(bands)
      assert(c.get("retired").isEmpty && c.get("batches").elements().asScala.map(_.asLong).toSeq == Seq(0L))
      assertNoSideState(prefix, bands, Seq(bands, sigs))
    } finally {
      BandIndex.drop(spark, prefix); IndexCore.retireTempDir(path)
    }
  }

  test("a lexical and a vector day leave no ledger, merge-log or tombstone table and no reindex marker") {
    val docs = graft.Tables.documents(spark, sf)
    val (lp, vp) = (s"graft_log_lexday_${System.nanoTime()}", s"graft_log_vecday_${System.nanoTime()}")
    val (lpath, vpath) = (IndexCore.newTempDir("loglexday"), IndexCore.newTempDir("logvecday"))
    try {
      LexIndex.persist(spark, sf, lpath, lp, Some(docs.filter(!denseQuarter)))
      Seq(0, 4).foreach(r => assert(LexIndex.maintainBatch(spark, sf, lp,
        docs.filter(pmod(col("doc_id"), lit(12)) === lit(r)), r.toLong)))
      assert(LexIndex.tieredMerge(spark, lp))
      LexIndex.retire(spark, lp, LexIndex.probe(spark, sf, lp).filter(col("rk") === 1).select("doc_id"),
        Some(docs))
      LexIndex.compact(spark, lp)
      val postings = LexIndex.postingsTable(lp)
      assert(IndexCore.state(spark, postings).reindex, "a purging compaction must raise the reindex flag")
      assertNoSideState(lp, postings, Seq(postings, LexIndex.docstatsTable(lp), LexIndex.statsTable(lp)))

      val e = emb
      VecIndex.persist(spark, sf, vpath, vp, Some(e.filter(pmod(hash(col("vec_id")), lit(4)) =!= lit(0))))
      Seq(0, 1).foreach(i => assert(VecIndex.maintainBatch(spark, sf, vp,
        e.filter(pmod(hash(col("vec_id")), lit(8)) === lit(i * 4)), i.toLong)))
      assert(VecIndex.tieredMerge(spark, vp))
      VecIndex.retireTombstone(spark, vp, e.filter(col("vec_id") === 7L))
      VecIndex.compact(spark, vp)
      assertNoSideState(vp, VecIndex.cellsTable(vp), Seq(VecIndex.cellsTable(vp)))
    } finally {
      LexIndex.drop(spark, lp); VecIndex.drop(spark, vp)
      IndexCore.retireTempDir(lpath); IndexCore.retireTempDir(vpath)
    }
  }
}
