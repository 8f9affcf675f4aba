package graft

import graft.operators.TxLog
import org.apache.spark.sql.functions._

/** The r14 lakehouse hardening layer over [[TxLog]]: string-key merge
  * pruning through portable-hash manifest stats ([[TxLog.optimizeHash]]
  * clustering + interval-stab write paths), the injectable
  * conditional-put commit claimer (the object-store path — S3
  * `If-None-Match: *`), bounded conflict auto-retry, the narrowed
  * merge-vs-tombstone rule (key overlap, not ANY tombstone),
  * idempotent MERGE for exactly-once streaming CDC, vacuum retention
  * guards (a travel read below the recorded horizon fails with the
  * window named, not a parquet FileNotFound), manifest-stats health
  * audits, and the two writer races ADVICE r13 flagged (idempotent
  * append vs evolveSchema; any writer vs a concurrent addConstraint). */
class TxLakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_txl_$tag").toString + "/t"

  private def docs(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"doc-$i")).toDF("id", "text")

  /** String-keyed docs: the common corpus shape (doc ids / URLs) whose
    * long cast yields no value span — only the hash stats prune. */
  private def sdocs(lo: Int, hi: Int) =
    (lo until hi).map(i => (f"doc-$i%06d", s"payload-$i"))
      .toDF("key", "text")

  test("string-key merge: hash-clustered table prunes the write path to " +
      "the stabbed buckets; untouched dirs stay on disk; results exact") {
    val root = freshRoot("smerge")
    TxLog.append(spark, root, sdocs(0, 2000), Some("key"))
    TxLog.optimizeHash(spark, root, "key", buckets = 16)
    val (_, before) = TxLog.liveFiles(spark, root)
    assert(before.size === 16)
    // every bucket carries the portable-hash stat; none a value stat
    // (string key: the long cast is null everywhere)
    assert(before.forall(_.statFor("key#h60").isDefined))
    assert(before.forall(_.statFor("key").isEmpty))
    // a 3-key update batch stabs at most 3 of 16 buckets
    val batch = Seq("doc-000007", "doc-000555", "doc-001234")
      .map(k => (k, s"upd-$k")).toDF("key", "text")
    val v = TxLog.merge(spark, root, batch, "key")
    val touched = TxLog.history(spark, root)
      .where(col("version") === v).head().getAs[Long]("n_removes")
    assert(touched >= 1 && touched <= 3,
      s"3 keys must stab <= 3 of 16 hash buckets, touched $touched")
    // the untouched buckets are the SAME dirs (immutable, never
    // rewritten) — byte identity by construction
    val (_, after) = TxLog.liveFiles(spark, root)
    val beforeDirs = before.map(_.dir).toSet
    val afterDirs = after.map(_.dir).toSet
    assert((beforeDirs & afterDirs).size === 16 - touched.toInt)
    // merged content exact: updates took, everything else untouched
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 2000)
    assert(snap.where(col("text").startsWith("upd-")).count() === 3)
    assert(snap.where(col("key") === "doc-000007").select("text")
      .as[String].head() === "upd-doc-000007")
    assert(snap.where(col("key") === "doc-000008").select("text")
      .as[String].head() === "payload-8")
    // string-key mergeDelete rides the same pruned path
    val v2 = TxLog.mergeDelete(spark, root,
      Seq("doc-000100").toDF("key"), "key")
    assert(TxLog.history(spark, root).where(col("version") === v2)
      .head().getAs[Long]("n_removes") <= 1)
    assert(TxLog.snapshot(spark, root).count() === 1999)
  }

  test("string-key merge conflicts: a hash-disjoint intervening append " +
      "commutes; one carrying a batch key aborts") {
    val root = freshRoot("sconf")
    TxLog.append(spark, root, sdocs(0, 500), Some("key"))
    TxLog.optimizeHash(spark, root, "key", buckets = 8)
    // the intervening append carries DIFFERENT keys: hash-disjointness
    // is provable (its dir's hash min/max brackets none of the batch's
    // key hashes) — pre-r14 this aborted unconditionally on a string key
    val b1 = Seq(("doc-000003", "upd-3")).toDF("key", "text")
    TxLog.mergeWithHook(spark, root, b1, "key", None, Seq.empty)(() =>
      TxLog.append(spark, root, sdocs(9000, 9001), Some("key")))
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 501)
    assert(snap.where(col("text") === "upd-3").count() === 1)
    // an intervening append with the SAME key hash still aborts
    val b2 = Seq(("doc-000004", "upd-4")).toDF("key", "text")
    intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root, b2, "key", None, Seq.empty)(() =>
        TxLog.append(spark, root,
          Seq(("doc-000004", "race")).toDF("key", "text"), Some("key")))
    }
  }

  test("conditional-put claimer: commits route through the injected store; " +
      "8 racing writers, every claim admitted exactly once") {
    val lake = java.nio.file.Files
      .createTempDirectory("graft_txl_cput").toString
    val root = s"$lake/t"
    // an atomic in-memory arbiter writing through to disk — the shape
    // of S3 `If-None-Match: *` (create iff absent, 412 otherwise)
    val admits =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val puts = new java.util.concurrent.atomic.AtomicInteger(0)
    val rejections = new java.util.concurrent.atomic.AtomicInteger(0)
    val store = new TxLog.ConditionalPutStore {
      def putIfNoneMatch(path: String, bytes: Array[Byte]): Boolean = {
        puts.incrementAndGet()
        if (!admits.add(path)) {
          rejections.incrementAndGet(); false
        } else {
          val p = java.nio.file.Paths.get(path)
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, bytes)
          true
        }
      }
    }
    TxLog.registerClaimer(lake, new TxLog.ConditionalPutClaimer(store))
    try {
      val writers = 8
      val barrier = new java.util.concurrent.CyclicBarrier(writers)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      val versions = try {
        (0 until writers).map { w =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
              TxLog.append(spark, root, docs(w * 100, w * 100 + 10),
                Some("id"))
            }
          })
        }.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      // exactly-once contiguous versions through the store's arbitration
      assert(versions.sorted === (1L to writers).toVector)
      assert(TxLog.snapshot(spark, root).count() === writers * 10L)
      // every commit went through the store (not the rename path), and
      // each path was admitted exactly once
      assert(puts.get() >= writers)
      assert(admits.size === writers)
      assert(puts.get() - rejections.get() === writers,
        "true-returns must equal commits — no double admit")
    } finally TxLog.unregisterClaimer(lake)
    // unregistered: the local rename path takes over seamlessly
    TxLog.append(spark, root, docs(9000, 9010), Some("id"))
    assert(TxLog.latestVersion(spark, root) === 9)
  }

  test("conflict auto-retry: a rewrite whose inputs are stolen re-resolves " +
      "and lands; a merge losing to an overlapping append re-merges it") {
    val root = freshRoot("retry")
    TxLog.append(spark, root, docs(0, 100), Some("id"))
    // attempt 1's inputs are stolen by a full rewrite fired from inside
    // the transform; the retry re-resolves the post-theft snapshot
    var calls = 0
    val v = TxLog.rewrite(spark, root, Some("id"), conflictRetries = 1) {
      snap =>
        calls += 1
        if (calls == 1)
          TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 50))
        snap.where(col("id") >= 10)
    }
    assert(calls === 2, "the conflicted attempt must re-run in full")
    assert(v === 3)
    assert(TxLog.snapshot(spark, root).select("id").as[Long]
      .collect().sorted === (10L until 50L).toArray)
    // merge: attempt 1 loses to an overlapping intervening append
    // (fired once); the retry merges AGAINST it — the duplicate ids the
    // append landed collapse under the batch's keys
    val root2 = freshRoot("retrym")
    TxLog.append(spark, root2, docs(0, 100), Some("id"))
    var fired = false
    val batch = (0 until 10).map(i => (i.toLong, s"m-$i")).toDF("id", "text")
    TxLog.mergeWithHook(spark, root2, batch, "id", None, Seq.empty,
      conflictRetries = 1)(() =>
        if (!fired) { fired = true
          TxLog.append(spark, root2, docs(5, 8), Some("id")) })
    val snap2 = TxLog.snapshot(spark, root2)
    assert(snap2.count() === 100, "keys 5..7 must collapse to one row each")
    assert(snap2.where(col("id") < 10)
      .select("text").as[String].collect().forall(_.startsWith("m-")))
    // budget spent -> the conflict propagates (retries=0 keeps r13 behavior)
    var again = false
    intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root2, batch, "id", None, Seq.empty)(() =>
        if (!again) { again = true
          TxLog.append(spark, root2, docs(5, 8), Some("id")) })
    }
  }

  test("narrowed tombstone rule: a tombstone disjoint from the merge's " +
      "output commutes; one masking a non-batch output row still aborts; " +
      "one hitting only batch keys re-inserts") {
    val root = freshRoot("dvnarrow")
    (0 until 5).foreach(k =>
      TxLog.append(spark, root, docs(k * 100, k * 100 + 100), Some("id")))
    // (a) DISJOINT: merge touches dir 1 (ids 150-159); the tombstone
    // masks id 450 in dir 4 — the merge's output never carries 450, so
    // both land (pre-r14: ANY intervening tombstone aborted)
    val b1 = (150 until 160).map(i => (i.toLong, s"u-$i")).toDF("id", "text")
    TxLog.mergeWithHook(spark, root, b1, "id", None, Seq.empty)(() =>
      TxLog.tombstone(spark, root, Seq(450L).toDF("id"), "id"))
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 499)
    assert(snap.where(col("id") === 450).count() === 0, "mask held")
    assert(snap.where(col("id") === 155).select("text")
      .as[String].head() === "u-155")
    // (b) RESURRECTION: the tombstone masks id 160 — a row the merge's
    // output (the rewritten dir 1) carries but the batch does not; the
    // merge's commit would outlive the mask — abort
    val b2 = (150 until 155).map(i => (i.toLong, s"w-$i")).toDF("id", "text")
    intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root, b2, "id", None, Seq.empty)(() =>
        TxLog.tombstone(spark, root, Seq(160L).toDF("id"), "id"))
    }
    assert(TxLog.snapshot(spark, root).where(col("id") === 160).count() === 0)
    // (c) BATCH-KEY tombstone: masking exactly an upserted key is the
    // serialized tombstone-then-merge — the re-insert is the documented
    // semantic, so the merge commutes and the key lives with its new text
    val b3 = Seq((170L, "alive-again")).toDF("id", "text")
    TxLog.mergeWithHook(spark, root, b3, "id", None, Seq.empty)(() =>
      TxLog.tombstone(spark, root, Seq(170L).toDF("id"), "id"))
    assert(TxLog.snapshot(spark, root).where(col("id") === 170)
      .select("text").as[String].head() === "alive-again")
  }

  test("mergeIdempotent: a replayed change batch commits at most once — " +
      "sequentially, after later batches, and racing") {
    val root = freshRoot("midem")
    TxLog.append(spark, root, docs(0, 100), Some("id"))
    val b1 = (10 until 15).map(i => (i.toLong, s"cdc1-$i", false))
      .toDF("id", "text", "del")
    val (v1, did1) = TxLog.mergeIdempotent(spark, root, b1, "id",
      "cdc", 1L, deleteCol = Some("del"))
    assert(v1 === 2 && did1)
    // immediate replay: same version, nothing committed
    val (v1b, did1b) = TxLog.mergeIdempotent(spark, root, b1, "id",
      "cdc", 1L, deleteCol = Some("del"))
    assert(v1b === 2 && !did1b)
    // batch 2 deletes a key; then a LATE replay of batch 1 (the
    // dangerous window: re-applying would re-run its rewrite against
    // the newer state) must be a no-op
    val b2 = Seq((20L, null.asInstanceOf[String], true))
      .toDF("id", "text", "del")
    val (v2, did2) = TxLog.mergeIdempotent(spark, root, b2, "id",
      "cdc", 2L, deleteCol = Some("del"))
    assert(v2 === 3 && did2)
    val before = TxLog.snapshot(spark, root).orderBy("id").collect()
    val (v1c, did1c) = TxLog.mergeIdempotent(spark, root, b1, "id",
      "cdc", 1L, deleteCol = Some("del"))
    assert(v1c === 2 && !did1c)
    assert(TxLog.snapshot(spark, root).orderBy("id").collect() === before)
    assert(TxLog.snapshot(spark, root).where(col("id") === 20).count() === 0)
    // racing replays of one token: exactly one commits
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
    val b3 = Seq((30L, "cdc3", false)).toDF("id", "text", "del")
    val ts = (0 until 2).map(_ => new Thread(() => {
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      results.add(TxLog.mergeIdempotent(spark, root, b3, "id",
        "cdc", 3L, deleteCol = Some("del"), conflictRetries = 2))
    }))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    val rs = results.toArray(Array.empty[(Long, Boolean)])
    assert(rs.count(_._2) === 1, rs.mkString(","))
    assert(rs.map(_._1).distinct.length === 1)
    assert(TxLog.snapshot(spark, root).where(col("text") === "cdc3")
      .count() === 1)
  }

  test("retention guard: travel below a vacuum's recorded horizon fails " +
      "naming the window; reads at or above it stay exact") {
    val root = freshRoot("retain")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    Thread.sleep(5); val tEarly = System.currentTimeMillis(); Thread.sleep(5)
    TxLog.append(spark, root, docs(10, 20), Some("id"))
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 5))
    TxLog.append(spark, root, docs(100, 110), Some("id"))
    // a DRY vacuum (nothing reclaimed) records no horizon — everything
    // stays readable
    assert(TxLog.vacuum(spark, root, retainVersions = 10,
      graceMs = 3600 * 1000).isEmpty)
    assert(TxLog.snapshot(spark, root, Some(2)).count() === 20)
    // crash-orphan debris (a dir NO manifest ever named): reclaimed,
    // but NO horizon recorded — deleting it invalidates no travel
    // read, and a gc commit would advance head and silently shrink
    // the version-counted window
    docs(900, 905).write.parquet(s"$root/data/orphan-crashed")
    assert(TxLog.vacuum(spark, root, retainVersions = 10, graceMs = 0)
      === Seq("data/orphan-crashed"))
    assert(TxLog.latestVersion(spark, root) === 4, "no gc commit")
    assert(TxLog.snapshot(spark, root, Some(2)).count() === 20)
    // a vacuum reclaiming LOG-REFERENCED dirs records horizon =
    // head - retain + 1 = 4 as a gc commit (v5)
    val gone = TxLog.vacuum(spark, root, retainVersions = 1, graceMs = 0)
    assert(gone.size === 2, gone.mkString(","))
    assert(TxLog.latestVersion(spark, root) === 5)
    // below the horizon: the window violation is named at plan time —
    // not a parquet FileNotFound three stages into a job
    val e = intercept[TxLog.TxRetentionException] {
      TxLog.snapshot(spark, root, Some(2))
    }
    assert(e.getMessage.contains("horizon v4") &&
      e.getMessage.contains("retainVersions=1"), e.getMessage)
    intercept[TxLog.TxRetentionException] {
      TxLog.versionAtTime(spark, root, tEarly)
    }
    intercept[TxLog.TxRetentionException] {
      TxLog.changes(spark, root, 1, 3)
    }
    intercept[TxLog.TxRetentionException] {
      TxLog.snapshotRangeMulti(spark, root, Seq(("id", 0L, 1000L)), Some(2))
    }
    // every pruned reader shares one guard; each entry point reaches it
    intercept[TxLog.TxRetentionException] {
      TxLog.snapshotRange(spark, root, "id", 0L, 1000L, Some(2))
    }
    intercept[TxLog.TxRetentionException] {
      TxLog.snapshotPoint(spark, root, "id", 3L, Some(2))
    }
    intercept[TxLog.TxRetentionException] {
      TxLog.snapshotKeys(spark, root, docs(0, 3).select("id"), "id", Some(2))
    }
    intercept[TxLog.TxRetentionException] {
      TxLog.snapshotNulls(spark, root, "id", Some(2))
    }
    // at/above the horizon: exact reads, and the gc commit itself is a
    // metadata-only CDC window (empty delta, not a crash)
    assert(TxLog.snapshot(spark, root, Some(4)).count() === 15)
    assert(TxLog.snapshot(spark, root).count() === 15)
    assert(TxLog.changes(spark, root, 4, 5).count() === 0)
    // history still lists every commit, gc included
    assert(TxLog.history(spark, root).count() === 5)
  }

  test("metadata-only CDC windows stream as empty deltas in the window-end " +
      "schema — the per-version tail survives evolveSchema/addConstraint") {
    val root = freshRoot("mdcdc")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    TxLog.evolveSchema(spark, root, "id BIGINT, text STRING, lang STRING")
    TxLog.addConstraint(spark, root, "id_pos", "id >= 0")
    TxLog.append(spark, root,
      (10 until 15).map(i => (i.toLong, s"doc-$i", "en"))
        .toDF("id", "text", "lang"), Some("id"))
    // the two metadata windows: empty, but SHAPED (window-end schema +
    // CDC columns) so a downstream union/merge just sees zero rows
    Seq(2L, 3L).foreach { v =>
      val d = TxLog.changes(spark, root, v - 1, v)
      assert(d.count() === 0)
      assert(d.columns.toSeq ===
        Seq("id", "text", "lang", "__version", "__change"))
    }
    // the replication loop the repo ships runs clean across them
    var applied = 0L
    (1L to TxLog.latestVersion(spark, root)).foreach { v =>
      applied += TxLog.changes(spark, root, v - 1, v).count()
    }
    assert(applied === 15)
  }

  test("idempotent append vs concurrent evolveSchema: the collision " +
      "re-checks the pin — the old-generation batch aborts instead of " +
      "silently reverting the evolution (ADVICE r13)") {
    val root = freshRoot("idemevo")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    val evolved = "id BIGINT, text STRING, lang STRING"
    intercept[TxLog.TxConflictException] {
      TxLog.appendIdempotentWithHook(spark, root, docs(10, 20),
        "intake", 7L, Some("id"))(() =>
          TxLog.evolveSchema(spark, root, evolved))
    }
    // the pin is still the EVOLVED schema (the pre-fix failure mode:
    // the stale batch's manifest re-pinned the old DDL); compare in
    // the normalized toDDL form the log stores
    assert(TxLog.pinnedSchema(spark, root).contains(
      org.apache.spark.sql.types.StructType.fromDDL(evolved).toDDL))
    // and the token did NOT land: the batch retries cleanly in the new
    // shape under the same id
    val (v, did) = TxLog.appendIdempotent(spark, root,
      (10 until 20).map(i => (i.toLong, s"doc-$i", "en"))
        .toDF("id", "text", "lang"), "intake", 7L, Some("id"))
    assert(did && v === 3)
    assert(TxLog.snapshot(spark, root).count() === 20)
  }

  test("writer vs concurrent addConstraint: the claim collision aborts — " +
      "unvalidated rows can never land past a live constraint (ADVICE r13)") {
    val root = freshRoot("consrace")
    TxLog.append(spark, root, docs(0, 50), Some("id"))
    // the merge's output was written BEFORE the constraint existed; on
    // collision it must abort, not claim head+1
    val batch = Seq((5L, "upd-5")).toDF("id", "text")
    val e = intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root, batch, "id", None, Seq.empty)(() =>
        TxLog.addConstraint(spark, root, "text_tag",
          "text LIKE 'doc-%' OR text LIKE 'ok-%'"))
    }
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    // same rule on the idempotent-append collision path
    intercept[TxLog.TxConflictException] {
      TxLog.appendIdempotentWithHook(spark, root, docs(50, 60),
        "intake", 1L, Some("id"))(() =>
          TxLog.addConstraint(spark, root, "id_cap", "id < 100000"))
    }
    // the retry path validates against the now-live set: a conforming
    // batch lands, a violating one fails mid-write naming the rule
    TxLog.merge(spark, root, Seq((5L, "ok-5")).toDF("id", "text"), "id")
    intercept[TxLog.TxConstraintException] {
      TxLog.merge(spark, root, Seq((6L, "bad")).toDF("id", "text"), "id")
    }
    val snap = TxLog.snapshot(spark, root)
    assert(snap.where(col("id") === 5).select("text")
      .as[String].head() === "ok-5")
    assert(snap.count() === 50)
  }

  test("string-key appendPartitioned: each batch lands hash-bucketed, so " +
      "a keyed merge stabs <=K buckets per batch — never a whole batch") {
    val root = freshRoot("sapart")
    TxLog.appendPartitioned(spark, root, sdocs(0, 400), "key", buckets = 8)
    TxLog.appendPartitioned(spark, root, sdocs(400, 800), "key", buckets = 8)
    val (_, live) = TxLog.liveFiles(spark, root)
    assert(live.size === 16, "8 hash buckets per batch")
    assert(live.forall(_.statFor("key#h60").isDefined),
      "every bucket carries a tight hash span")
    // a 1-key merge stabs at most one bucket per batch; pre-r14 a
    // string-keyed batch landed ONE full-span dir, so every merge
    // rewrote every batch whole
    val v = TxLog.merge(spark, root,
      Seq(("doc-000123", "upd")).toDF("key", "text"), "key")
    val touched = TxLog.history(spark, root)
      .where(col("version") === v).head().getAs[Long]("n_removes")
    assert(touched >= 1 && touched <= 2,
      s"1 key must stab <=1 bucket per batch, touched $touched")
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 800)
    assert(snap.where(col("text") === "upd").count() === 1)
    // empty batches refuse loud
    intercept[IllegalArgumentException] {
      TxLog.appendPartitioned(spark, root, sdocs(0, 0), "key", 8)
    }
  }

  test("snapshotKeys: point reads scan only the dirs that can hold a key — " +
      "hash-pruned for string keys, span-pruned for long keys, masks apply") {
    val root = freshRoot("skeys")
    TxLog.append(spark, root, sdocs(0, 2000), Some("key"))
    TxLog.optimizeHash(spark, root, "key", buckets = 16)
    val want = Seq("doc-000007", "doc-000042", "doc-001234", "doc-999999")
      .toDF("key")
    // pruned: the planned scan touches at most |keys| of the 16
    // buckets (audited pre-tombstone — the mask join would make
    // input_file_name ambiguous across its two parquet sources)
    val dirs = TxLog.snapshotKeys(spark, root, want, "key")
      .select(input_file_name()).distinct().as[String]
      .collect().map(_.split('/').dropRight(1).last).distinct
    assert(dirs.length <= 4, s"expected <=4 bucket dirs, got ${dirs.length}")
    // exact, mask applied: present keys return, the tombstoned and
    // the absent do not
    TxLog.tombstone(spark, root, Seq("doc-000042").toDF("key"), "key")
    val got = TxLog.snapshotKeys(spark, root, want, "key")
    assert(got.select("key").as[String].collect().sorted ===
      Array("doc-000007", "doc-001234"))
    // long keys prune by value span: 5 range-clustered dirs, a 2-key
    // fetch reads the 2 owning dirs
    val root2 = freshRoot("skeysl")
    (0 until 5).foreach(k =>
      TxLog.append(spark, root2, docs(k * 100, k * 100 + 100), Some("id")))
    val got2 = TxLog.snapshotKeys(spark, root2,
      Seq(7L, 333L).toDF("id"), "id")
    assert(got2.select("id").as[Long].collect().sorted === Array(7L, 333L))
    val dirs2 = got2.select(input_file_name()).distinct().as[String]
      .collect().map(_.split('/').dropRight(1).last).distinct
    assert(dirs2.length === 2, s"expected 2 dirs, got ${dirs2.length}")
    // an empty key set returns an empty frame in the table schema
    val none = TxLog.snapshotKeys(spark, root2,
      Seq.empty[Long].toDF("id"), "id")
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "text"))
  }

  test("statsAudit + RunGc --audit-stats: interleaved appends read as " +
      "k-fold overlap, the finding recommends the matching optimize, and " +
      "the optimized table audits clean") {
    val lake = java.nio.file.Files
      .createTempDirectory("graft_txl_audit").toString
    val root = s"$lake/t"
    // five interleaved appends, each spanning the whole key range: the
    // per-dir spans tile the domain five times over — every range read
    // and every merge scans every dir
    (0 until 5).foreach { k =>
      val ids = (0 until 500).filter(_ % 5 == k)
      TxLog.append(spark, root,
        ids.map(i => (i.toLong, s"doc-$i")).toDF("id", "text"), Some("id"))
    }
    val before = TxLog.statsAudit(spark, root, "id").head()
    assert(before.getAs[String]("stat") === "id")
    assert(before.getAs[Long]("n_dirs") === 5)
    val ppm0 = before.getAs[Long]("overlap_ppm")
    assert(ppm0 > 4500000L && ppm0 < 5100000L, s"expected ~5e6, got $ppm0")
    val found = graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      auditStats = true)
    val deg = found.filter(_.kind == "tx-stats-degraded")
    assert(deg.size === 1 && deg.head.action.startsWith(
      "recommend-optimizeRange-or-zorder-on-id-overlap-"),
      found.mkString("; "))
    // the recommended maintenance restores the tiling to ~1x
    TxLog.optimizeRange(spark, root, "id", buckets = 8)
    val ppm1 = TxLog.statsAudit(spark, root, "id")
      .head().getAs[Long]("overlap_ppm")
    assert(ppm1 <= 1000000L, s"optimized tiling must be ~1e6, got $ppm1")
    assert(graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      auditStats = true).filter(_.kind == "tx-stats-degraded").isEmpty)
    // a STRING-keyed table audits the portable-hash stat and recommends
    // optimizeHash instead
    val lake2 = java.nio.file.Files
      .createTempDirectory("graft_txl_audith").toString
    val root2 = s"$lake2/t"
    (0 until 4).foreach(k =>
      TxLog.append(spark, root2, sdocs(k * 100, k * 100 + 100), Some("key")))
    val hAudit = TxLog.statsAudit(spark, root2, "key").head()
    assert(hAudit.getAs[String]("stat") === "key#h60")
    assert(hAudit.getAs[Long]("overlap_ppm") > 3000000L)
    val found2 = graft.pipeline.RunGc.run(spark, lake2, ageMinutes = 60,
      auditStats = true).filter(_.kind == "tx-stats-degraded")
    assert(found2.size === 1 &&
      found2.head.action.startsWith("recommend-optimizeHash-on-key#h60-"),
      found2.mkString("; "))
    TxLog.optimizeHash(spark, root2, "key", buckets = 16)
    assert(TxLog.statsAudit(spark, root2, "key")
      .head().getAs[Long]("overlap_ppm") <= 3000000L)
    assert(graft.pipeline.RunGc.run(spark, lake2, ageMinutes = 60,
      auditStats = true).filter(_.kind == "tx-stats-degraded").isEmpty)
  }

  test("RunGc --compact-below: reports the tx small-dir tail; --apply " +
      "packs it in place and a re-run converges to no findings") {
    val lake = java.nio.file.Files
      .createTempDirectory("graft_txl_gcc").toString
    val root = s"$lake/t"
    TxLog.append(spark, root, docs(0, 1000), Some("id"))
    (0 until 6).foreach(k => TxLog.append(spark, root,
      docs(1000 + k * 10, 1000 + k * 10 + 10), Some("id")))
    val dry = graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      compactBelow = 60L).filter(_.kind == "tx-small-dirs")
    assert(dry.map(_.action) ===
      Seq("would-compact-6-of-7-dirs-below-60-rows"))
    val applied = graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      apply = true, compactBelow = 60L).filter(_.kind == "tx-small-dirs")
    assert(applied.size === 1 &&
      applied.head.action.startsWith("compacted-6-dirs-at-v"))
    assert(TxLog.liveFiles(spark, root)._2.size === 2)
    assert(TxLog.snapshot(spark, root).count() === 1060)
    assert(graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      compactBelow = 60L).filter(_.kind == "tx-small-dirs").isEmpty,
      "the applied compaction must converge")
  }

  test("restore: rollback is a NEW metadata-only commit — no data bytes " +
      "move, history keeps the botched commits, travel still reads them") {
    val root = freshRoot("restore")
    TxLog.append(spark, root, docs(0, 100), Some("id"))
    TxLog.append(spark, root, docs(100, 200), Some("id"))   // target: v2
    // the botch: a full uppercase rewrite, then a junk append
    TxLog.rewrite(spark, root, Some("id"))(s =>
      s.withColumn("text", upper(col("text"))))
    TxLog.append(spark, root, docs(9000, 9010), Some("id"))
    val dataDirsBefore = TxLog.liveFiles(spark, root)._2.map(_.dir).toSet
    val targetDirs = TxLog.liveFiles(spark, root, Some(2L))._2
    val v = TxLog.restore(spark, root, 2L)
    assert(v === 5L)
    // the head state IS v2's again, byte for byte
    val snap = TxLog.snapshot(spark, root).orderBy("id")
    assert(snap.count() === 200)
    assert(snap.select("text").as[String].head() === "doc-0",
      "the uppercase rewrite must be rolled back")
    // METADATA-ONLY: the restored live set is exactly the target's
    // original dirs — no dir was rewritten (stats and gens preserved)
    val liveAfter = TxLog.liveFiles(spark, root)._2
    assert(liveAfter.map(_.dir).toSet === targetDirs.map(_.dir).toSet)
    assert(liveAfter.map(f => f.dir -> f.gen).toMap ===
      targetDirs.map(f => f.dir -> f.gen).toMap,
      "re-added dirs keep their original generations")
    // the botched commits' dirs (rewrite output + junk append) are out
    assert(liveAfter.map(_.dir).toSet.intersect(dataDirsBefore).isEmpty)
    assert(TxLog.snapshot(spark, root).where(col("id") >= 9000L)
      .count() === 0)
    // nothing rewound: the mis-step is still auditable and readable
    val hist = TxLog.history(spark, root).orderBy(col("version").desc)
    assert(hist.select("action").as[String].head() === "restore")
    assert(TxLog.snapshot(spark, root, Some(4L)).count() === 210)
    assert(TxLog.snapshot(spark, root, Some(3L)).select("text")
      .as[String].head().startsWith("DOC-"))
    // range pruning still works off the preserved stats
    assert(TxLog.snapshotRange(spark, root, "id", 0L, 50L).count() === 50)
  }

  test("restore materializes EXACTLY the target dirs a post-target " +
      "tombstone could mask; pre-target masks still hold on re-added dirs") {
    val root = freshRoot("restmat")
    (0 until 4).foreach(k =>
      TxLog.append(spark, root, docs(k * 100, k * 100 + 100), Some("id")))
    // pre-target tombstone (part of the state being restored): one key
    // in the 0..99 dir (re-added as metadata — the gen rule must keep
    // masking it) and two in the 200..299 dir (materialized — the
    // rewrite must bake the mask in)
    TxLog.tombstone(spark, root, Seq(13L, 213L, 217L).toDF("id"), "id") // v5
    val target = TxLog.latestVersion(spark, root)
    val targetDirs = TxLog.liveFiles(spark, root, Some(target))._2
      .map(_.dir).toSet
    // the botch: junk append, then a NARROW takedown hitting only the
    // 200..299 dir — restore must resurrect those rows, which takes a
    // rewrite of that ONE dir (its stats admit the post-target keys)
    TxLog.append(spark, root, docs(9000, 9010), Some("id"))
    TxLog.tombstone(spark, root, Seq(250L, 255L).toDF("id"), "id")
    TxLog.restore(spark, root, target)
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 397, "400 minus the three PRE-target masks")
    assert(snap.where(col("id").isin(13L, 213L, 217L)).count() === 0,
      "pre-target tombstone still masks re-added AND materialized dirs")
    assert(snap.where(col("id").isin(250L, 255L)).count() === 2,
      "rows taken down AFTER the target are restored")
    // exactly one dir was materialized: the 200..299 one; the other
    // three re-added untouched with their original generations
    val live = TxLog.liveFiles(spark, root)._2
    val (kept, fresh) = live.partition(f => targetDirs(f.dir))
    assert(kept.size === 3 && fresh.size === 1,
      s"3 metadata re-adds + 1 materialization, got $live")
    assert(fresh.head.rows === 100L - 2L,
      "the materialized dir applied the target's own mask")
    assert(kept.forall(_.gen <= target))
  }

  test("restore re-pins the target's schema and constraints: the head " +
      "contract equals toVersion's exactly") {
    val root = freshRoot("restpin")
    TxLog.append(spark, root, docs(0, 50), Some("id"))      // target: v1
    TxLog.evolveSchema(spark, root, "id BIGINT, text STRING, lang STRING")
    TxLog.append(spark, root, docs(50, 60)
      .withColumn("lang", lit("en")), Some("id"))
    TxLog.addConstraint(spark, root, "pos_id", "id >= 0")
    TxLog.restore(spark, root, 1L)
    assert(TxLog.pinnedSchema(spark, root).get
      === TxLog.pinnedSchemaAt(spark, root, 1L).get)
    assert(TxLog.constraints(spark, root).isEmpty,
      "the post-target constraint must be dropped with the restore")
    // v1-shape appends flow again; the evolved shape is a loud drift
    TxLog.append(spark, root, docs(60, 70), Some("id"))
    intercept[IllegalArgumentException] {
      TxLog.append(spark, root, docs(70, 80)
        .withColumn("lang", lit("en")), Some("id"))
    }
    assert(TxLog.snapshot(spark, root).count() === 60)
  }

  test("restore concurrency: an intervening commit aborts the exact diff; " +
      "conflictRetries re-resolves and the late commit rolls back too") {
    val root = freshRoot("restrace")
    TxLog.append(spark, root, docs(0, 100), Some("id"))     // target: v1
    TxLog.append(spark, root, docs(100, 200), Some("id"))
    // retries=0: the racing append invalidates the diff — abort
    var fired = false
    intercept[TxLog.TxConflictException] {
      TxLog.restoreWithHook(spark, root, 1L)(() =>
        if (!fired) { fired = true
          TxLog.append(spark, root, docs(200, 210), Some("id")) })
    }
    // a fresh attempt resolves AGAINST the racer's head and restores
    // past it — restore wins, the racer rolls back with the rest (it
    // stays travel-readable, nothing is deleted)
    val v = TxLog.restore(spark, root, 1L, conflictRetries = 1)
    assert(v === 4L)
    assert(TxLog.snapshot(spark, root).count() === 100)
    assert(TxLog.snapshot(spark, root, Some(3L))
      .where(col("id") >= 200L).count() === 10)
    // guards: forward restore and v0 are loud errors
    intercept[IllegalArgumentException] {
      TxLog.restore(spark, root, 99L)
    }
    intercept[IllegalArgumentException] { TxLog.restore(spark, root, 0L) }
  }

  test("optimizeCompact: packs ONLY the small-dir tail — the big dir keeps " +
      "its dir, gen and stats; masked rows bake in; output spans tile") {
    val root = freshRoot("compact")
    TxLog.append(spark, root, docs(0, 1000), Some("id"))
    (0 until 10).foreach(k => TxLog.append(spark, root,
      docs(1000 + k * 10, 1000 + k * 10 + 10), Some("id")))
    // masks: two keys in the small tail (bake into the compact), one
    // in the big dir (must stay masked by the still-live tombstone)
    TxLog.tombstone(spark, root, Seq(1003L, 1057L, 42L).toDF("id"), "id")
    val bigDir = TxLog.liveFiles(spark, root)._2.maxBy(_.rows)
    val v = TxLog.optimizeCompact(spark, root, targetRows = 60)
    assert(v === 13L)
    // O(small tail): the 1000-row dir did not move
    val live = TxLog.liveFiles(spark, root)._2
    assert(live.exists(f => f.dir == bigDir.dir && f.gen == bigDir.gen))
    // 98 surviving tail rows at target 60 -> 2 buckets (bucket count
    // from the pre-mask sum 100), so 3 live dirs total
    assert(live.size === 3, live.mkString("; "))
    val packed = live.filterNot(_.dir == bigDir.dir)
    assert(packed.forall(_.rows <= 60))
    assert(packed.map(_.rows).sum === 98, "the two masked tail rows baked in")
    // compaction TIGHTENS stats: the two output spans must not overlap
    val spans = packed.flatMap(_.statFor("id")).map(s => (s.min, s.max))
      .sortBy(_._1)
    assert(spans.size === 2 && spans(0)._2 < spans(1)._1, spans.toString)
    // snapshot exact: tail masks baked, big-dir mask still live
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 1097)
    assert(snap.where(col("id").isin(42L, 1003L, 1057L)).count() === 0)
    assert(TxLog.history(spark, root).where(col("action") === "compact")
      .count() === 1)
    // range reads keep pruning through the compacted layout
    assert(TxLog.snapshotRange(spark, root, "id", 1000L, 1020L)
      .count() === 19)
    // <2 qualifying dirs: a no-op that commits NOTHING
    assert(TxLog.optimizeCompact(spark, root, targetRows = 5) === 13L)
    assert(TxLog.latestVersion(spark, root) === 13L)
  }

  test("optimizeCompact on a string-keyed table packs by portable-hash " +
      "ranges: outputs carry the hash stat, so merges stay pruned") {
    val root = freshRoot("compacth")
    (0 until 8).foreach(k => TxLog.append(spark, root,
      sdocs(k * 25, k * 25 + 25), Some("key")))
    TxLog.optimizeCompact(spark, root, targetRows = 120)
    val live = TxLog.liveFiles(spark, root)._2
    assert(live.size === 2, live.mkString("; "))
    assert(live.forall(_.statFor("key#h60").isDefined),
      "hash-range packing must record the portable-hash span")
    // the hash spans tile (no overlap) — interval-stabbing merges
    // touch one output per key, same as optimizeHash layout
    val spans = live.flatMap(_.statFor("key#h60")).map(s => (s.min, s.max))
      .sortBy(_._1)
    assert(spans(0)._2 < spans(1)._1, spans.toString)
    assert(TxLog.snapshot(spark, root).count() === 200)
    val batch = Seq(("doc-000007", "updated")).toDF("key", "text")
    TxLog.merge(spark, root, batch, "key")
    assert(TxLog.snapshot(spark, root)
      .where(col("key") === "doc-000007")
      .select("text").as[String].head() === "updated")
  }

  test("CDC→MERGE replica converges across restore AND compact commits: " +
      "the physical deltas reconcile to the source state") {
    val src = freshRoot("cdcrc")
    val dst = freshRoot("cdcrd")
    TxLog.append(spark, src, docs(0, 50), Some("id"))          // v1 target
    // botch: uppercase merge + junk append, then ROLL BOTH BACK
    TxLog.merge(spark, src, (0 until 20).map(i => (i.toLong, s"BAD-$i"))
      .toDF("id", "text"), "id")                               // v2
    TxLog.append(spark, src, docs(9000, 9010), Some("id"))     // v3
    TxLog.restore(spark, src, 1L)                              // v4
    // small-dir tail, a takedown, then pack it
    (0 until 5).foreach(k => TxLog.append(spark, src,
      docs(50 + k * 5, 55 + k * 5), Some("id")))               // v5..v9
    TxLog.tombstone(spark, src, Seq(52L, 61L).toDF("id"), "id") // v10
    TxLog.optimizeCompact(spark, src, targetRows = 20)         // v11
    // replay the whole log per version: latest wins per key, insert
    // beats delete within a version; metadata-only windows skip
    val head = TxLog.latestVersion(spark, src)
    (1L to head).foreach { v =>
      val delta = TxLog.changes(spark, src, v - 1, v)
      val b = delta.groupBy("id")
        .agg(max(struct(col("__version"),
          (col("__change") === "insert").cast("int").as("ins"),
          col("text"))).as("m"))
        .select(col("id"), col("m.text").as("text"),
          (col("m.ins") === 0).as("del"))
      if (!b.isEmpty) TxLog.merge(spark, dst, b, "id",
        deleteCol = Some("del"))
    }
    val a = TxLog.snapshot(spark, src).orderBy("id").collect()
    val b = TxLog.snapshot(spark, dst).orderBy("id").collect()
    assert(a === b)
    assert(a.length === 73, "50 restored + 25 tail - 2 takedowns")
    assert(!a.exists(_.getString(1).startsWith("BAD-")),
      "the replica must not resurrect the rolled-back merge")
  }

  test("renameColumn is metadata-only: old generations map forward, a " +
      "mask published under the old name keeps masking, travel speaks " +
      "the old name, and the pin enforces the new one") {
    val root = freshRoot("rename")
    TxLog.append(spark, root, docs(0, 100), Some("id"))
    TxLog.tombstone(spark, root, Seq(7L).toDF("id"), "id")     // old name
    val dirsBefore = TxLog.liveFiles(spark, root)._2.map(_.dir).toSet
    TxLog.renameColumn(spark, root, "id", "doc_key")           // v3
    // METADATA ONLY: no dir moved
    assert(TxLog.liveFiles(spark, root)._2.map(_.dir).toSet === dirsBefore)
    // new-shape appends flow; the old shape is a loud drift
    TxLog.append(spark, root,
      (100 until 120).map(i => (i.toLong, s"doc-$i")).toDF("doc_key", "text"),
      Some("doc_key"))
    intercept[IllegalArgumentException] {
      TxLog.append(spark, root, docs(120, 130), Some("id"))
    }
    val snap = TxLog.snapshot(spark, root)
    assert(snap.columns.toSeq === Seq("doc_key", "text"))
    assert(snap.count() === 119)
    assert(snap.where(col("doc_key") === 7L).count() === 0,
      "the old-name tombstone must keep masking through the rename")
    // travel BEFORE the rename speaks the old name
    val old = TxLog.snapshot(spark, root, Some(2L))
    assert(old.columns.toSeq === Seq("id", "text") && old.count() === 99)
    // merge on the NEW name updates an old-generation row
    TxLog.merge(spark, root,
      Seq((50L, "renamed-merge")).toDF("doc_key", "text"), "doc_key")
    assert(TxLog.snapshot(spark, root).where(col("doc_key") === 50L)
      .select("text").as[String].head() === "renamed-merge")
    // checkpoint folds the lineage records; reads keep mapping
    TxLog.checkpoint(spark, root)
    assert(TxLog.snapshot(spark, root).count() === 119)
    assert(TxLog.statsColumn(spark, root) === Some("doc_key"))
    // a live constraint naming the column refuses the rename
    TxLog.addConstraint(spark, root, "pos", "doc_key >= 0")
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, root, "doc_key", "k2")
    }
  }

  test("dropColumn ends the lineage: a re-added same-named column reads " +
      "NULL over old generations — never the dropped bytes") {
    val root = freshRoot("dropc")
    TxLog.append(spark, root, docs(0, 50)
      .withColumn("lang", lit("en")), Some("id"))
    TxLog.dropColumn(spark, root, "lang")
    assert(TxLog.snapshot(spark, root).columns.toSeq === Seq("id", "text"))
    // re-add the SAME name, land new-generation rows carrying it
    TxLog.evolveSchema(spark, root, "id BIGINT, text STRING, lang STRING")
    TxLog.append(spark, root, docs(50, 60)
      .withColumn("lang", lit("fr")), Some("id"))
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 60)
    assert(snap.where(col("id") < 50 && col("lang").isNotNull).count() === 0,
      "old generations must read NULL, not the dropped 'en' bytes")
    assert(snap.where(col("lang") === "fr").count() === 10)
    // travel BEFORE the drop still reads the original values
    assert(TxLog.snapshot(spark, root, Some(1L))
      .where(col("lang") === "en").count() === 50)
    // CDC aligned to the window end follows the same rule
    val cdc = TxLog.changes(spark, root, 0L, TxLog.latestVersion(spark, root))
    assert(cdc.where(col("__change") === "insert" && col("id") < 50 &&
      col("lang").isNotNull).count() === 0)
    // guards: last column, constraint reference
    intercept[IllegalArgumentException] {
      val r2 = freshRoot("dropl")
      TxLog.append(spark, r2, Seq(Tuple1(1L)).toDF("id"), Some("id"))
      TxLog.dropColumn(spark, r2, "id")
    }
    TxLog.addConstraint(spark, root, "has_text", "length(text) >= 0")
    intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, root, "text")
    }
  }

  test("restore below a vacuum horizon fails with the retention window " +
      "named — never a parquet FileNotFound") {
    val root = freshRoot("restgc")
    (0 until 6).foreach(k =>
      TxLog.append(spark, root, docs(k * 10, k * 10 + 10), Some("id")))
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 30)) // v7
    // push the rewrite's removes BELOW the retention window so the
    // vacuum genuinely reclaims the pre-rewrite dirs and records gc
    TxLog.append(spark, root, docs(100, 110), Some("id"))           // v8
    TxLog.append(spark, root, docs(110, 120), Some("id"))           // v9
    val gone = TxLog.vacuum(spark, root, retainVersions = 2, graceMs = 0L)
    assert(gone.nonEmpty, "the pre-rewrite dirs must actually be reclaimed")
    val ex = intercept[TxLog.TxRetentionException] {
      TxLog.restore(spark, root, 2L)
    }
    assert(ex.getMessage.contains("retention window"))
    assert(TxLog.snapshot(spark, root).count() === 50)
  }

  test("restore across a rename/drop refuses loudly — pre-evolution " +
      "generations would silently read NULL under the restored pin") {
    val root = freshRoot("restevo")
    TxLog.append(spark, root, docs(0, 50), Some("id"))
    val target = TxLog.latestVersion(spark, root)
    TxLog.renameColumn(spark, root, "id", "doc_key")
    val ex = intercept[IllegalStateException] {
      TxLog.restore(spark, root, target)
    }
    assert(ex.getMessage.contains("rename"), ex.getMessage)
    // the stated workaround works: the inverse rename is metadata-only,
    // and the restore then goes through and reads the original values
    TxLog.renameColumn(spark, root, "doc_key", "id")
    TxLog.append(spark, root, docs(50, 60), Some("id"))
    TxLog.restore(spark, root, target)
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 50)
    assert(snap.where(col("id").isNull).count() === 0,
      "restored generations must read real values, never lineage NULLs")
    // drop refuses the same way (the lineage break cannot be inverted)
    val r2 = freshRoot("restevo2")
    TxLog.append(spark, r2, docs(0, 20)
      .withColumn("lang", lit("en")), Some("id"))
    val t2 = TxLog.latestVersion(spark, r2)
    TxLog.dropColumn(spark, r2, "lang")
    val ex2 = intercept[IllegalStateException] {
      TxLog.restore(spark, r2, t2)
    }
    assert(ex2.getMessage.contains("drop"), ex2.getMessage)
  }

  test("dropColumn refuses while a live tombstone keys on the column — " +
      "even under a pre-rename key name; materializing the mask unblocks") {
    val root = freshRoot("droptomb")
    TxLog.append(spark, root, docs(0, 100)
      .withColumn("aux", col("id") * 2), Some("id"))
    TxLog.tombstone(spark, root, Seq(7L, 9L).toDF("id"), "id")
    // the takedown published under 'id'; rename moves the head name
    TxLog.renameColumn(spark, root, "id", "doc_key")
    val ex = intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, root, "doc_key")
    }
    assert(ex.getMessage.contains("tombstone"), ex.getMessage)
    // an unrelated column drops fine with the mask live
    TxLog.dropColumn(spark, root, "aux")
    // materialize the mask (rewrite postdates the tombstone -> inert),
    // then the key column drops
    TxLog.rewrite(spark, root, Some("doc_key"))(df => df)
    TxLog.dropColumn(spark, root, "doc_key")
    assert(TxLog.snapshot(spark, root).columns.toSeq === Seq("text"))
    assert(TxLog.snapshot(spark, root).count() === 98)
  }

  test("snapshotKeys above maxBroadcastKeys falls back to a shuffled " +
      "semi-join — same rows, no driver-sized broadcast forced") {
    val root = freshRoot("keysbig")
    TxLog.append(spark, root, docs(0, 1000), Some("id"))
    TxLog.optimizeRange(spark, root, "id", buckets = 8)
    val keys = docs(100, 300).select("id")
    val small = TxLog.snapshotKeys(spark, root, keys, "id")
      .orderBy("id").collect()
    // with auto-broadcast off, only the explicit hint could broadcast:
    // the guarded path must NOT carry it — Catalyst is free to pick,
    // the guard only stops snapshotKeys from FORCING the driver copy
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val forced = TxLog.snapshotKeys(spark, root, keys, "id")
      assert(forced.queryExecution.executedPlan.toString
        .contains("Broadcast"),
        "under the limit the hint still broadcasts (the point-read path)")
      val big = TxLog.snapshotKeys(spark, root, keys, "id",
        maxBroadcastKeys = 5L) // over the limit: no hint
      assert(!big.queryExecution.executedPlan.toString.contains("Broadcast"),
        "the over-limit path must not force a broadcast:\n" +
          big.queryExecution.executedPlan.toString)
      assert(big.orderBy("id").collect().toSeq === small.toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert(small.length === 200)
  }

  test("changes() refuses a remove naming a dir absent from the " +
      "pre-commit live set — a malformed log is a loud stop, not a " +
      "fabricated delta") {
    val root = freshRoot("cdcbad")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    // hand-corrupt: a commit removing a dir no manifest ever added
    val head = TxLog.latestVersion(spark, root)
    val bad = s"format=1\naction=rewrite\nts=1\nremove=data/bogus-dir\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_txlog/v${"%020d".format(head + 1)}.commit"),
      bad.getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      TxLog.changes(spark, root, head, head + 1).collect()
    }
    assert(ex.getMessage.contains("malformed"), ex.getMessage)
  }

  test("replica cursor: catchUp resumes from the admitted tokens — a " +
      "current replica survives a source vacuum; a replica behind the " +
      "horizon is a named bootstrap error") {
    val lake = java.nio.file.Files
      .createTempDirectory("graft_txl_cursor").toString
    val (src, dst) = (s"$lake/src", s"$lake/dst")
    (0 until 5).foreach(k =>
      TxLog.append(spark, src, docs(k * 10, k * 10 + 10), Some("id")))
    graft.streaming.TxStream.catchUp(spark, src, dst, "id")
    assert(TxLog.snapshot(spark, dst).count() === 50)
    // the cursor is the token high-water mark, not 0
    assert(TxLog.lastTxnBatch(spark, dst, "tx-replica") === Some(5L))
    // the source lives on; the replica catches up to head (v8)
    TxLog.rewrite(spark, src, Some("id"))(df => df)               // v6
    TxLog.append(spark, src, docs(100, 110), Some("id"))          // v7
    TxLog.append(spark, src, docs(110, 120), Some("id"))          // v8
    graft.streaming.TxStream.catchUp(spark, src, dst, "id")
    assert(TxLog.snapshot(spark, dst).count() === 70)
    // NOW vacuum the source's early history away (horizon above v1):
    // pre-r15 every later catchUp replayed from v1 and crashed into
    // the retention guard even though the replica was fully current —
    // the token cursor makes the same call a clean no-op
    assert(TxLog.vacuum(spark, src, retainVersions = 2,
      graceMs = 0L).nonEmpty)
    assert(TxLog.retentionHorizon(spark, src).exists(_ > 1L))
    graft.streaming.TxStream.catchUp(spark, src, dst, "id")
    assert(TxLog.snapshot(spark, dst).count() === 70)
    // a FRESH replica is genuinely behind the horizon: named error
    val ex = intercept[TxLog.TxRetentionException] {
      graft.streaming.TxStream.catchUp(spark, src, s"$lake/dst2", "id")
    }
    assert(ex.getMessage.contains("Re-bootstrap"), ex.getMessage)
  }

  test("statsAudit on a half-migrated layout reports one row per stat " +
      "kind — the value side cannot hide the hash side's degradation") {
    val root = freshRoot("auditmix")
    // digit-string keys carry BOTH stats (long-castable value + hash);
    // doc-string keys carry only the hash — a mixed table
    TxLog.append(spark, root,
      (0 until 100).map(i => (i.toString, s"n-$i")).toDF("key", "text"),
      Some("key"))
    TxLog.append(spark, root, sdocs(0, 100), Some("key"))
    val rows = TxLog.statsAudit(spark, root, "key").orderBy("stat")
      .collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("key", "key#h60", "key#nulls"))
    val byStat = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    assert(byStat("key") === (2L, 1L),
      "value stat exists on 1 of 2 dirs — n_stats must say so")
    assert(byStat("key#h60") === (2L, 2L),
      "both dirs carry the portable-hash stat")
    assert(byStat("key#nulls") === (2L, 2L),
      "both dirs carry the null counter")
  }

  test("snapshotNulls: IS NULL probes skip every dir whose recorded " +
      "null count is zero; statless dirs conservatively scan") {
    val root = freshRoot("nullp")
    TxLog.appendCols(spark, root,
      docs(0, 500).withColumn("score", col("id") * 2),
      Seq("id", "score"))
    TxLog.appendCols(spark, root,
      docs(500, 1000).withColumn("score",
        when(col("id") % 10 === 0, lit(null).cast("long"))
          .otherwise(col("id") * 2)),
      Seq("id", "score"))
    val probe = TxLog.snapshotNulls(spark, root, "score")
    assert(probe.count() === 50)
    val (_, live) = TxLog.liveFiles(spark, root)
    val nullDirs = live
      .filter(_.statFor("score#nulls").exists(_.max > 0L)).map(_.dir)
    assert(nullDirs.size === 1, "only the odd batch carries nulls")
    assert(probe.inputFiles.nonEmpty &&
      probe.inputFiles.forall(f => nullDirs.exists(f.contains)),
      s"the probe must read ONLY the null-carrying dir, read: " +
        probe.inputFiles.mkString(", "))
    // a dir with stats on another column only (no score#nulls) must
    // conservatively scan — absence of the counter is never a prune
    TxLog.append(spark, root,
      docs(1000, 1010).withColumn("score", col("id") * 2), Some("id"))
    val probe2 = TxLog.snapshotNulls(spark, root, "score")
    assert(probe2.count() === 50)
    val statless = TxLog.liveFiles(spark, root)._2
      .filter(_.statFor("score#nulls").isEmpty).map(_.dir)
    assert(statless.size === 1)
    assert(probe2.inputFiles.exists(f => statless.exists(f.contains)),
      "a dir without the counter must be scanned")
    // a probe on an all-non-null column reads NOTHING (typed empty)
    val none = TxLog.snapshotNulls(spark, root, "id")
    assert(none.count() === 0)
  }
}
