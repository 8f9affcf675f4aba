package graft

import graft.operators.{Bpe, Lease}

/** The writer-lease contract (r8 verdict item 3): state-mutating
  * journeys serialize on `<stateDir>/_lease` — mutual exclusion for
  * live writers, steal-after-expiry for crashed ones, fencing for
  * stale holders. Includes the journey-level interleaving proof: a
  * second RunIntake against a lease-held stateDir fails fast instead
  * of double-admitting. */
class LeaseSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("acquire is exclusive; release frees; withLease releases on failure") {
    val dir = tmpDir("graft_lease")
    val h = Lease.acquire(conf, dir, "writer-a")
    val held = intercept[Lease.LeaseHeld] {
      Lease.acquire(conf, dir, "writer-b")
    }
    assert(held.holder === "writer-a")
    h.release()
    // free again: b can now acquire
    val h2 = Lease.acquire(conf, dir, "writer-b")
    h2.release()
    // withLease releases even when the body throws
    intercept[RuntimeException] {
      Lease.withLease(conf, dir, "writer-c") { _ =>
        throw new RuntimeException("boom")
      }
    }
    Lease.acquire(conf, dir, "writer-d").release()
  }

  test("steal after expiry; the stolen-from holder is fenced out") {
    val dir = tmpDir("graft_lease_steal")
    // a 0-TTL lease is expired the instant it is written (a crashed
    // holder, compressed in time)
    val dead = Lease.acquire(conf, dir, "crashed", ttlMs = 0L)
    val thief = Lease.acquire(conf, dir, "thief")
    // the old holder's renew and release must not touch the thief's
    // lease — and BOTH must fail loudly (ADVICE r9: a stolen-from
    // holder reporting success would hide the writer overlap)
    intercept[Lease.LeaseLost] { dead.renew() }
    intercept[Lease.LeaseLost] { dead.release() }
    // thief still owns it — a third writer is refused
    val held = intercept[Lease.LeaseHeld] {
      Lease.acquire(conf, dir, "writer-x")
    }
    assert(held.holder === "thief")
    thief.renew() // fencing token intact: renew succeeds
    thief.release()
  }

  test("racing stealers of one expired lease serialize: exactly one wins") {
    // ADVICE r9: delete-then-create let two stealers both proceed (B's
    // delete removed the lease A just created). The rename-tombstone
    // steal admits exactly one winner no matter how many race.
    val dir = tmpDir("graft_lease_race")
    Lease.acquire(conf, dir, "crashed", ttlMs = 0L) // expired at birth
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val held = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        barrier.await()
        try { Lease.acquire(conf, dir, s"stealer-$i"); wins.incrementAndGet() }
        catch { case _: Lease.LeaseHeld => held.incrementAndGet() }
      })
      t.start(); t
    }
    threads.foreach(_.join(30000))
    assert(wins.get() === 1, "exactly one stealer must win the lease")
    assert(held.get() === n - 1)
  }

  test("withLease auto-renews past the TTL and keeps exclusion") {
    val dir = tmpDir("graft_lease_renew")
    // TTL 3 s, body runs 7 s: without the renewer the lease would
    // expire mid-run and a competitor could steal; with it the
    // competitor stays refused for the whole run
    val out = Lease.withLease(conf, dir, "long-runner", ttlMs = 3000L) { _ =>
      Thread.sleep(4000L)
      intercept[Lease.LeaseHeld] { Lease.acquire(conf, dir, "competitor") }
      Thread.sleep(3000L)
      intercept[Lease.LeaseHeld] { Lease.acquire(conf, dir, "competitor") }
      42
    }
    assert(out === 42)
    // released cleanly afterwards
    Lease.acquire(conf, dir, "next").release()
  }

  test("withLease surfaces LeaseLost when stolen mid-run") {
    val dir = tmpDir("graft_lease_lost")
    intercept[Lease.LeaseLost] {
      Lease.withLease(conf, dir, "overrunner", ttlMs = 1L) { _ =>
        // TTL long past: a thief steals while the body still runs
        Lease.acquire(conf, dir, "thief")
        Thread.sleep(1500L) // let the renewer observe the theft
        "finished-but-must-not-report-success"
      }
    }
  }

  test("two interleaved intake steps: the second fails fast, then converges once the lease frees") {
    val stateDir = tmpDir("graft_lease_intake")
    // texts must clear the default funnel gates: >= 10 tokens, en
    val t1 = "the quick brown fox jumps over the lazy dog and runs away"
    val t2 = "a small boat sails on the wide river while the sun sets slowly"
    val t3 = "many people walk through the old town and look at the bright lights"
    val batch1 = Seq((1L, t1, "s1"), (2L, t2, "s1"))
      .toDF("doc_id", "text", "source")
    val batch2 = Seq((3L, t1, "s2"), (4L, t3, "s2"))
      .toDF("doc_id", "text", "source")
    // writer A holds the journey lease (mid-run, compressed): writer
    // B's whole intake run is refused BEFORE any probe or append — the
    // probe-then-append double-admit window never opens
    val a = Lease.acquire(conf, stateDir, "intake-a")
    intercept[Lease.LeaseHeld] {
      graft.pipeline.RunIntake.run(spark, batch2, stateDir)
    }
    a.release()
    // serialized runs converge to the one-shot result: batch2's doc 3
    // is an exact dup of batch1's doc 1 and is rejected by the probe
    graft.pipeline.RunIntake.run(spark, batch1, stateDir)
    graft.pipeline.RunIntake.run(spark, batch2, stateDir)
    val accepted = graft.operators.TxLog.snapshot(spark, s"$stateDir/accepted")
      .select("doc_id").as[Long].collect().sorted
    assert(accepted.toSeq === Seq(1L, 2L, 4L))
    // the lease file does not linger after the journeys finish
    assert(!new java.io.File(stateDir, "_lease").exists())
  }

  test("RunTokenizer (read-only) needs no lease; RunSync takes one") {
    val stateDir = tmpDir("graft_lease_sync")
    val u1 = "the tall trees stand near the quiet lake and the wind blows"
    val u2 = "children play in the green park while their parents watch from a bench"
    val u3 = "an old clock on the wall ticks slowly through the long night hours"
    val snap1 = Seq((1L, u1, "s"), (2L, u2, "s"))
      .toDF("doc_id", "text", "source")
    graft.pipeline.RunIntake.run(spark, snap1, stateDir)
    val held = Lease.acquire(conf, stateDir, "someone-else")
    // sync mutates every tier: refused while held
    val snap2 = Seq((1L, u1, "s"), (3L, u3, "s"))
      .toDF("doc_id", "text", "source")
    intercept[Lease.LeaseHeld] {
      graft.pipeline.RunSync.run(spark, snap1, snap2, stateDir)
    }
    // tokenizer training only READS bpe_state/ — it must run fine
    // under someone else's writer lease
    val out = tmpDir("graft_lease_tok")
    val r = graft.pipeline.RunTokenizer.run(spark,
      s"$stateDir/bpe_state", out, merges = 2, fromState = true)
    assert(r.exists { case (k, v) => k == "n_merges" && v == 2 })
    held.release()
    graft.pipeline.RunSync.run(spark, snap1, snap2, stateDir)
    // snap2 = {1 unchanged, 2 removed, 3 added} — the sync lands there
    val ids = graft.operators.TxLog.snapshot(spark, s"$stateDir/accepted")
      .select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 3L))
  }

  test("a lease-free reader of the tx sink sees only committed versions while intakes and a sync land") {
    val stateDir = tmpDir("graft_lease_reader")
    val root = s"$stateDir/accepted"
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and runs away",
      "a small boat sails on the wide river while the sun sets slowly",
      "many people walk through the old town and look at the bright lights",
      "the tall trees stand near the quiet lake and the wind blows",
      "children play in the green park while their parents watch from a bench",
      "an old clock on the wall ticks slowly through the long night hours",
      "fresh bread from the corner bakery fills the morning street with warmth")
    val all = texts.zipWithIndex.map { case (t, i) => (i + 1L, t, "s") }
      .toDF("doc_id", "text", "source")
    def ids(lo: Long, hi: Long) =
      all.where(s"doc_id >= $lo and doc_id <= $hi")
    graft.pipeline.RunIntake.run(spark, ids(1, 2), stateDir)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          seen.add(graft.operators.TxLog.snapshot(spark, root).count())
          reads.incrementAndGet()
        } catch {
          case e: Exception =>
            bad.compareAndSet(null, s"read failed: ${e.getMessage}")
        }
      }
    })
    reader.start()
    // each journey lands under the running reader, PACED: one read
    // completes between writes, so reads overlap every commit window
    def paced(journey: => Unit): Unit = {
      journey
      val before = reads.get()
      val t0 = System.nanoTime()
      while (reads.get() == before && bad.get() == null &&
          (System.nanoTime() - t0) < 20e9) Thread.sleep(5)
    }
    paced(graft.pipeline.RunIntake.run(spark, ids(3, 4), stateDir))
    paced(graft.pipeline.RunIntake.run(spark, ids(5, 6), stateDir))
    // the sync's takedown is a MERGE-delete commit; doc 7 arrives
    paced(graft.pipeline.RunSync.run(spark, ids(1, 6),
      all.where("doc_id <> 2"), stateDir))
    stop.set(true); reader.join(30000)
    assert(bad.get() === null, s"reader observed a broken table: ${bad.get()}")
    assert(reads.get() > 0, "the reader thread must actually have read")
    val committed = (1L to graft.operators.TxLog.latestVersion(spark, root))
      .map(v => graft.operators.TxLog.snapshot(spark, root, Some(v)).count())
      .toSet
    assert(committed.contains(5L) && graft.operators.TxLog.history(spark, root)
      .where("action = 'merge'").count() === 1, committed.toString)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.subsetOf(committed),
      s"observed counts ${seen.asScala} outside the committed ones $committed")
  }
}
