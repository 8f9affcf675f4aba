package graft

import graft.sources.{Ingest, LocalFileConnector, RateLimiter}
import org.scalatest.funsuite.AnyFunSuite

/** Connector-boundary semantics (S1/S2): polling retry, rate cap, and
  * the local-file connector over a GEODAIR-shaped corpus (BOM, French
  * header, `polluant-{code}_{date}.csv` names). No Spark session —
  * ingest is upstream of the engine. */
class IngestSpec extends AnyFunSuite {

  private val refDir = GeodairCorpus.corpus().toString

  test("fetchWithRetry: initial delay, then polls until ready") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val conn = new LocalFileConnector(refDir, readyAfterPolls = 2)
    val r = Ingest.fetchWithRetry(conn, "04", "2025-03-08",
      initialDelayMs = 2000, pollDelayMs = 2000, maxPolls = 5,
      sleep = sleeps.append(_))
    r match {
      case Ingest.Fetched(id, bytes) =>
        assert(id == "polluant-04_2025-03-08.csv")
        assert(bytes.nonEmpty)
        // payload is the genuine CSV (BOM + French header)
        val head = new String(bytes.take(64), java.nio.charset.StandardCharsets.UTF_8)
        assert(head.contains("Date de"))
      case other => fail(s"expected Fetched, got $other")
    }
    // initial delay + 2 not-ready polls worth of waiting
    assert(sleeps.toSeq == Seq(2000L, 2000L, 2000L))
  }

  test("fetchWithRetry: NotReady after maxPolls for a missing export") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val conn = new LocalFileConnector(refDir)
    val r = Ingest.fetchWithRetry(conn, "99", "1999-01-01",
      maxPolls = 3, sleep = sleeps.append(_))
    assert(r == Ingest.NotReady("polluant-99_1999-01-01.csv", 3))
    // initial delay + (maxPolls - 1) inter-poll delays; no sleep after
    // the last failed attempt
    assert(sleeps.size == 3)
  }

  test("RateLimiter: enforces the 15/hour cap with a sliding window") {
    var clock = 0L
    val rl = new RateLimiter(15, 3600000L, now = () => clock)
    (1 to 15).foreach(_ => assert(rl.acquire() == 0L))
    // 16th inside the hour must wait until the first stamp expires
    clock = 60000L
    assert(rl.acquire() == 3540000L)
    // once the window slides past the first stamp, requests flow again
    clock = 3600001L
    assert(rl.acquire() == 0L)
  }

  test("fetchBatch: fetches the real corpus slices under the cap") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val conn = new LocalFileConnector(refDir)
    val dates = new java.io.File(refDir).listFiles().map(_.getName)
      .filter(_.startsWith("polluant-04_")).sorted
      .map(_.stripPrefix("polluant-04_").stripSuffix(".csv")).toSeq
    assert(dates.nonEmpty)
    val out = Ingest.fetchBatch(conn, dates.map(("04", _)),
      new RateLimiter(15, 3600000L), initialDelayMs = 0, sleep = sleeps.append(_))
    assert(out.size == dates.size)
    assert(out.forall(_._2.isInstanceOf[Ingest.Fetched]))
  }
}
