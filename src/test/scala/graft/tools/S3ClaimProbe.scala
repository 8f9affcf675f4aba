package graft.tools

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier}
import java.util.concurrent.atomic.AtomicLong

import graft.operators.TxLog
import graft.sources.S3ConditionalPutStore

/** REAL-WIRE conditional-put claim probe (r14 verdict item 2, the
  * PgServeProbe precedent applied to the tx commit seam): this
  * sandbox ships no MinIO binary and no docker daemon (zero egress),
  * so — exactly as PgCopy carries its own v3 wire protocol because no
  * JDBC jar exists — the probe carries its own S3-SUBSET SERVER
  * (JDK HttpServer, real TCP sockets, 127.0.0.1) implementing the one
  * primitive the claim needs: `PUT` + `If-None-Match: *` arbitrated
  * atomically, `200` to exactly one writer, `412 Precondition Failed`
  * (S3's documented XML error) to everyone else, write-through to the
  * claim path so filesystem readers see published manifests. The
  * client half ([[graft.sources.S3ConditionalPutStore]]) is the
  * production class a real S3/MinIO deployment registers.
  *
  * Three acts, each a real race over real sockets:
  *  1. WIRE: K writers × N rounds race the same fresh key through a
  *     CyclicBarrier — exactly one 200 per key, K-1 412s, and GET
  *     returns the WINNER's bytes (the loser's content must never be
  *     visible, the no-partial-claim contract).
  *  2. TX: two writer threads append concurrently through
  *     `registerClaimer(ConditionalPutClaimer(store))` — every commit
  *     lands at a distinct version, the losers' retries are visible
  *     as server-side 412s, and the final snapshot carries every row.
  *  3. READ-YOUR-CLAIM: a claimed manifest reads back byte-identical
  *     over GET and through the filesystem reader TxLog actually
  *     folds with.
  *
  *   sbt "Test/runMain graft.tools.S3ClaimProbe"
  */
object S3ClaimProbe {

  /** The server: the S3 conditional-write subset over JDK HttpServer.
    * Arbitration = one atomic putIfAbsent on the key map (the store's
    * own arbiter role, exactly what S3 does server-side); a win
    * writes the bytes through to the key's filesystem path BEFORE the
    * 200, so "after a true return the manifest is durably readable"
    * holds for the fs readers. */
  final class S3SubsetServer {
    private val claimed = new ConcurrentHashMap[String, Array[Byte]]()
    val put412 = new AtomicLong(0L)
    val put200 = new AtomicLong(0L)

    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // daemon threads + explicit shutdown: a non-daemon pool would keep
    // the JVM alive past a probe failure and swallow the error
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(
      16,
      (r: Runnable) => {
        val t = new Thread(r); t.setDaemon(true); t
      })
    server.setExecutor(pool)

    private def err412 =
      ("<?xml version=\"1.0\" encoding=\"UTF-8\"?><Error>" +
        "<Code>PreconditionFailed</Code><Message>At least one of the " +
        "pre-conditions you specified did not hold</Message>" +
        "<Condition>If-None-Match</Condition></Error>").getBytes("UTF-8")

    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      try {
        val key = java.net.URLDecoder.decode(
          ex.getRequestURI.getRawPath, "UTF-8")
        ex.getRequestMethod match {
          case "PUT" =>
            val body = ex.getRequestBody.readAllBytes()
            val conditional =
              ex.getRequestHeaders.getFirst("If-None-Match") == "*"
            val won =
              if (conditional)
                !java.nio.file.Files.exists(java.nio.file.Paths.get(key)) &&
                  claimed.putIfAbsent(key, body) == null
              else { claimed.put(key, body); true }
            if (won) {
              val p = java.nio.file.Paths.get(key)
              java.nio.file.Files.createDirectories(p.getParent)
              java.nio.file.Files.write(p, body)
              put200.incrementAndGet()
              val etag = java.security.MessageDigest.getInstance("MD5")
                .digest(body).map("%02x".format(_)).mkString
              ex.getResponseHeaders.set("ETag", s""""$etag"""")
              ex.sendResponseHeaders(200, -1)
            } else {
              put412.incrementAndGet()
              ex.sendResponseHeaders(412, err412.length)
              ex.getResponseBody.write(err412)
            }
          case "GET" =>
            val p = java.nio.file.Paths.get(key)
            if (java.nio.file.Files.exists(p)) {
              val bytes = java.nio.file.Files.readAllBytes(p)
              ex.sendResponseHeaders(200, bytes.length)
              ex.getResponseBody.write(bytes)
            } else {
              val nsk = ("<?xml version=\"1.0\"?><Error>" +
                "<Code>NoSuchKey</Code></Error>").getBytes("UTF-8")
              ex.sendResponseHeaders(404, nsk.length)
              ex.getResponseBody.write(nsk)
            }
          case _ => ex.sendResponseHeaders(405, -1)
        }
      } finally ex.close()
    })

    server.start()
    def port: Int = server.getAddress.getPort
    def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
  }

  def main(args: Array[String]): Unit = {
    val srv = new S3SubsetServer
    val endpoint = s"http://127.0.0.1:${srv.port}"
    val store = new S3ConditionalPutStore(endpoint)
    val work = java.nio.file.Files
      .createTempDirectory("graft_s3probe").toString
    try {
      // ---- act 1: the wire race -------------------------------------
      val writers = 8
      val rounds = 200
      var totalWins = 0
      var totalLosses = 0
      (0 until rounds).foreach { r =>
        val key = s"$work/wire/round-$r.commit"
        val barrier = new CyclicBarrier(writers)
        val done = new CountDownLatch(writers)
        val results = new ConcurrentHashMap[Int, Boolean]()
        (0 until writers).foreach { w =>
          new Thread(() => {
            try {
              barrier.await()
              results.put(w,
                store.putIfNoneMatch(key, s"writer-$w".getBytes("UTF-8")))
            } finally done.countDown()
          }).start()
        }
        done.await()
        val wins = (0 until writers).filter(results.get(_))
        require(wins.size == 1,
          s"round $r: expected exactly 1 admit, got ${wins.size}")
        val onDisk = new String(store.get(key).get, "UTF-8")
        require(onDisk == s"writer-${wins.head}",
          s"round $r: stored bytes '$onDisk' are not the winner's " +
            s"(writer-${wins.head}) — a losing claim leaked content")
        totalWins += 1
        totalLosses += writers - 1
      }
      Console.err.println(s"[s3probe] wire race: $rounds rounds x " +
        s"$writers writers -> $totalWins admits, $totalLosses " +
        "412s, winner bytes stored every time")

      // ---- act 2: the tx layer over the wire ------------------------
      val spark = graft.Sessions.local()
      import spark.implicits._
      val root = s"$work/table"
      TxLog.registerClaimer(root,
        new TxLog.ConditionalPutClaimer(store))
      try {
        val before412 = srv.put412.get()
        val perWriter = 10
        val fail = new ConcurrentHashMap[String, Throwable]()
        val ts = (0 until 2).map { w =>
          val t = new Thread(() => {
            try (0 until perWriter).foreach { b =>
              val lo = (w * perWriter + b) * 100
              TxLog.append(spark, root,
                (lo until lo + 100).map(i => (i.toLong, s"doc-$i"))
                  .toDF("id", "text"), Some("id"))
            } catch { case e: Throwable => fail.put(s"w$w", e) }
          })
          t.start(); t
        }
        ts.foreach(_.join())
        require(fail.isEmpty, s"writer failed: ${fail}")
        val hist = TxLog.history(spark, root).collect()
        require(hist.length == 2 * perWriter,
          s"expected ${2 * perWriter} commits, got ${hist.length}")
        val versions = hist.map(_.getLong(0)).sorted
        require(versions.toSeq == (1L to 2L * perWriter).toSeq,
          s"versions must be exactly 1..${2 * perWriter}: " +
            versions.mkString(","))
        val n = TxLog.snapshot(spark, root).count()
        require(n == 2L * perWriter * 100,
          s"lost rows: snapshot has $n of ${2 * perWriter * 100}")
        // a DETERMINISTIC collision on top of the free-for-all: both
        // writers prepare their dirs, sync on a barrier between write
        // and claim (the race specs' seam), then claim the SAME
        // head+1 — the store must 412 exactly one, and the loser's
        // retry must land at the next version
        val barrier = new CyclicBarrier(2)
        val raceFail = new ConcurrentHashMap[String, Throwable]()
        val rts = (0 until 2).map { w =>
          val t = new Thread(() => {
            try {
              val lo = 100000 + w * 100
              TxLog.appendIdempotentWithHook(spark, root,
                (lo until lo + 100).map(i => (i.toLong, s"doc-$i"))
                  .toDF("id", "text"),
                s"s3probe-$w", 1L, Some("id")) { () =>
                barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
                ()
              }
            } catch { case e: Throwable => raceFail.put(s"w$w", e) }
          })
          t.start(); t
        }
        rts.foreach(_.join())
        require(raceFail.isEmpty, s"hook race failed: ${raceFail}")
        val headNow = TxLog.latestVersion(spark, root)
        require(headNow == 2L * perWriter + 2,
          s"both barrier-raced appends must land (head $headNow)")
        val collisions = srv.put412.get() - before412
        require(collisions >= 1,
          "the barrier-synchronized pair must collide at the store " +
            s"at least once (saw $collisions)")
        Console.err.println(s"[s3probe] tx race: 2 writers x $perWriter " +
          s"appends + 1 barrier-raced pair -> versions 1..$headNow " +
          s"each claimed once, $collisions claim collisions retried " +
          "through the store")

        // ---- act 3: read-your-claim --------------------------------
        val name = f"v${1L}%020d.commit"
        val viaHttp = store.get(s"$root/_txlog/$name").get
        val viaFs = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$root/_txlog/$name"))
        require(java.util.Arrays.equals(viaHttp, viaFs),
          "claimed manifest must read back identical over GET and fs")
        Console.err.println("[s3probe] read-your-claim: manifest " +
          s"byte-identical over HTTP GET and the fs reader " +
          s"(${viaHttp.length} bytes)")
        println("[s3probe] PASS: single-admit conditional put over " +
          s"real TCP — $totalWins wire admits / $totalLosses rejects; " +
          s"tx layer committed ${2 * perWriter} versions with " +
          s"$collisions retried collisions and zero lost commits")
      } finally {
        TxLog.unregisterClaimer(root)
        spark.stop()
      }
    } finally srv.stop()
  }
}
