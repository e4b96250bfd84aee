package graft

import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import graft.gtfs.SilverTransform
import graft.streaming.Streams

/** The local file system [[GraftExtensions]] installs: same files, bits
  * and statuses as Hadoop's stock one, and no child process per commit. */
class LocalFsSpec extends SparkSpec {

  private val LocalUri = new URI("file:///")
  private def stockConf = new Configuration()
  private def sessionConf = spark.sessionState.newHadoopConf()

  /** Permission bits (sticky included) of every entry under `base`,
    * keyed by the path relative to it. */
  private def modes(base: java.nio.file.Path): Map[String, Int] =
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap

  private val Modes = Seq("600", "640", "750", "777", "1777").map(Integer.parseInt(_, 8))

  /** Creates files and directories under `base` through both of Hadoop's
    * local entry points, by default and with explicit modes. */
  private def populate(conf: Configuration, base: java.nio.file.Path): Unit = {
    val fs = FileSystem.newInstance(LocalUri, conf)
    def at(n: String) = new Path(base.resolve(n).toString)
    fs.mkdirs(at("d_default"))
    fs.create(at("f_default")).close()
    fs.mkdirs(at("d_750"), new FsPermission(Integer.parseInt("750", 8).toShort))
    fs.create(at("f_640"), new FsPermission(Integer.parseInt("640", 8).toShort),
      true, 4096, 1.toShort, 1L << 20, null).close()
    Modes.foreach { m =>
      fs.create(at(f"f_set_$m%o")).close()
      fs.setPermission(at(f"f_set_$m%o"), new FsPermission(m.toShort))
      fs.mkdirs(at(f"d_set_$m%o"))
      fs.setPermission(at(f"d_set_$m%o"), new FsPermission(m.toShort))
    }
    fs.close()
    val fc = FileContext.getFileContext(conf)
    fc.mkdir(at("fc/d_default"), FsPermission.getDirDefault, true)
    fc.create(at("fc/f_default"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    fc.create(at("fc/f_tmp"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(at("fc/f_tmp"), at("fc/f_renamed"))
    Modes.foreach { m =>
      fc.mkdir(at(f"fc/d_set_$m%o"), FsPermission.getDirDefault, false)
      fc.setPermission(at(f"fc/d_set_$m%o"), new FsPermission(m.toShort))
    }
  }

  /** The commands of the child processes the JVM starts while `body`
    * runs, from a JFR `jdk.ProcessStart` recording. */
  private def processStarts(body: => Unit): Seq[String] = {
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try body finally recording.stop()
    val jfr = TempDirs.create("graft-lfs-jfr").resolve("run.jfr")
    recording.dump(jfr)
    recording.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
  }

  test("the session contract installs the fork-free classes over a cached stock instance") {
    val cached = FileSystem.get(LocalUri, stockConf)
    assert(FileSystem.get(LocalUri, stockConf) eq cached)
    assert(!cached.isInstanceOf[ForkFreeLocalFileSystem], "a stock conf caches the stock class")
    assert(FileSystem.get(LocalUri, spark.sparkContext.hadoopConfiguration).getClass ===
      classOf[ForkFreeLocalFileSystem])
    val conf = sessionConf
    assert(FileSystem.get(LocalUri, conf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(conf).getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    assert(AbstractFileSystem.get(LocalUri, conf).getClass === classOf[ForkFreeLocalFs])
  }

  test("files and directories get the stock permission bits and .crc sidecars") {
    val stockBase = TempDirs.create("graft-lfs-stock")
    val forkFreeBase = TempDirs.create("graft-lfs-forkfree")
    populate(stockConf, stockBase)
    populate(sessionConf, forkFreeBase)
    val stock = modes(stockBase)
    assert(stock.keySet.exists(_.endsWith(".crc")), "no checksum sidecar written")
    assert(stock(f"d_set_${Modes.last}%o") === Modes.last, "the sticky mode was not applied")
    assert(modes(forkFreeBase) === stock)
  }

  test("getFileLinkStatus of a file, a directory and a symlink equals the stock result") {
    val base = TempDirs.create("graft-lfs-link")
    val file = Files.write(base.resolve("f"), "abc".getBytes(StandardCharsets.UTF_8))
    val dir = Files.createDirectory(base.resolve("d"))
    val link = Files.createSymbolicLink(base.resolve("l"), file)
    def view(s: FileStatus) = (s.getPath.toString, s.isFile, s.isDirectory, s.isSymlink,
      s.getLen, s.getModificationTime, if (s.isSymlink) s.getSymlink.toString else "")
    def statuses(conf: Configuration) = {
      val fs = FileSystem.newInstance(LocalUri, conf)
      val fc = FileContext.getFileContext(conf)
      try for {
        p <- Seq(file, dir, link)
        path <- Seq(new Path(p.toString), new Path("file:" + p))
      } yield (view(fs.getFileLinkStatus(path)), view(fc.getFileLinkStatus(path)))
      finally fs.close()
    }
    val stock = statuses(stockConf)
    assert(stock.exists(_._1._4), "the fixture has no symlink status")
    assert(statuses(sessionConf) === stock)
  }

  test("a goldRefresh micro-batch and saveSilver start no chmod or readlink process") {
    val src = TempDirs.create("graft-lfs-bronze")
    val out = TempDirs.create("graft-lfs-out").toString
    def rec(vehicle: String, lat: Double, time: String) =
      s"""{"Lines": "189", "VehicleNumber": "$vehicle", "Lat": $lat, "Lon": 21.0, "Time": "$time", "Brigade": "1"}"""
    Seq("08:00:00", "08:00:15").zipWithIndex.foreach { case (t, i) =>
      val body = s"""{"result": [${rec("8349", 52.2 + i * 0.01, s"2026-02-23 $t")}, """ +
        s"""${rec("7000", 52.23, s"2026-02-23 $t")}]}"""
      Files.write(src.resolve(s"poll_$i.json"), body.getBytes(StandardCharsets.UTF_8))
    }
    val commands = processStarts {
      val clean = Streams.cleanStream(Streams.bronzeStream(spark, src.toString), "25 hours")
      val q = Streams.goldRefresh(clean, s"$out/gold", s"$out/ckpt", stateTtlSec = 25L * 3600L)
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.exists(_.numInputRows > 0), "the micro-batch read no rows")
      SilverTransform.saveSilver(SilverTransform.transform(
        SilverTransform.readBronze(spark, src.toString), LocalDate.parse("2026-02-23")),
        s"$out/silver")
    }
    val forks = commands.filter(c => c.contains("chmod") || c.contains("readlink"))
    assert(forks.isEmpty,
      s"${forks.size} of ${commands.size} child processes are chmod/readlink: ${forks.take(3)}")
    assert(spark.read.parquet(s"$out/silver").count() > 0, "saveSilver wrote no rows")
  }

  test("a new root session's saveAsTable starts no chmod, its warehouse directory included") {
    val master = spark.sparkContext.master
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // a root session of its own, so its SharedState creates a new
    // warehouse directory; it never calls Tables.pin
    val warehouse = TempDirs.create("graft-lfs-wh").resolve("warehouse")
    val commands = try processStarts {
      SparkSession.builder().master(master)
        .config("spark.sql.warehouse.dir", warehouse.toString).getOrCreate()
        .range(3).write.saveAsTable("graft_lfs_contract")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
    assert(Files.isDirectory(warehouse.resolve("graft_lfs_contract")), "saveAsTable wrote no table")
    val chmods = commands.filter(_.contains("chmod"))
    assert(chmods.isEmpty,
      s"${chmods.size} of ${commands.size} child processes are chmod: ${chmods.take(3)}")
  }
}
