package graft.gtfs

import java.nio.file.Files
import java.time.{ZoneOffset, ZonedDateTime}

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Unit tests for the Bronze ingest (S1-S4) with an injected fake
  * transport — no network. */
class IngestSpec extends AnyFunSuite {

  private def tmpDir = TempDirs.create("graft-ingest").toString

  private def ingest(responses: Iterator[FetchResult],
      sleeps: collection.mutable.Buffer[Long]): Ingest =
    new Ingest("https://api.example.test/feed", "rid", "key", tmpDir,
      fetch = Some(_ => responses.next()),
      sleepMs = sleeps += _,
      clock = () => ZonedDateTime.of(2026, 2, 23, 12, 21, 44, 0, ZoneOffset.UTC))

  test("success returns body without retry") {
    val sleeps = collection.mutable.Buffer[Long]()
    val i = ingest(Iterator(FetchResult(200, """{"result": []}""")), sleeps)
    assert(i.fetchPositions() === Some("""{"result": []}"""))
    assert(sleeps.isEmpty)
  }

  test("retries on 503 with exponential backoff, then succeeds") { // S2
    val sleeps = collection.mutable.Buffer[Long]()
    val i = ingest(Iterator(
      FetchResult(503, ""), FetchResult(502, ""), FetchResult(200, "ok")), sleeps)
    assert(i.fetchPositions() === Some("ok"))
    assert(sleeps.toSeq === Seq(1000L, 2000L)) // backoff factor 1: 1s, 2s
  }

  test("gives up after 3 retries on persistent 5xx") {
    val sleeps = collection.mutable.Buffer[Long]()
    val i = ingest(Iterator.continually(FetchResult(500, "")), sleeps)
    assert(i.fetchPositions() === None)
    assert(sleeps.size === 3)
  }

  test("non-retryable status fails immediately") {
    val sleeps = collection.mutable.Buffer[Long]()
    val i = ingest(Iterator(FetchResult(404, "")), sleeps)
    assert(i.fetchPositions() === None)
    assert(sleeps.isEmpty)
  }

  test("raw sink writes ingest-date-partitioned UTC layout") { // S3
    val dir = tmpDir
    val i = new Ingest("u", "r", "k", dir,
      fetch = Some(_ => FetchResult(200, "{}")),
      clock = () => ZonedDateTime.of(2026, 2, 23, 12, 21, 44, 0, ZoneOffset.UTC))
    val p = i.writeRaw("""{"result": []}""")
    assert(p.toString.endsWith("WAW/year=2026/month=02/day=23/WAW_20260223_122144.json"))
    assert(new String(Files.readAllBytes(p)) === """{"result": []}""")
  }

  test("poll loop runs N iterations and counts successes") { // S4
    val sleeps = collection.mutable.Buffer[Long]()
    val responses = Iterator(
      FetchResult(200, "{}"), FetchResult(404, ""), FetchResult(200, "{}"))
    val i = ingest(responses, sleeps)
    assert(i.run(iterations = 3, intervalSec = 15) === 2)
    assert(sleeps.count(_ == 15000L) === 2) // sleeps between polls only
  }
}
