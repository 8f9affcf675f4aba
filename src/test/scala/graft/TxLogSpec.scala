package graft

import graft.operators.TxLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The transactional commit-log table ([[TxLog]]): multi-writer
  * commits over plain parquet — the piece the single-writer Lease
  * deliberately stops short of. Pins the commit
  * protocol (atomic claim, exactly-once versions), snapshot
  * isolation, time travel, CDC, rewrite validation (appends survive,
  * input-theft aborts), checkpoint folding, stats pruning, and vacuum
  * reachability — including a concurrent-appender hammer and a
  * barrier-forced rewrite/rewrite conflict. */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tx_$tag").toString + "/t"

  private def docs(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"doc-$i")).toDF("id", "text")

  // persisted-index fixtures: a fresh layout path per tier; texts whose
  // 3-token spans are unique to one doc; 64-bit fingerprints far apart
  // in Hamming distance; 8-dim vectors (queries carry ids + 1000)
  private def indexPath(tier: String): String = java.nio.file.Files
    .createTempDirectory(s"graft_idx_$tier").toString + "/idx"

  private def tableRows(path: String, tables: String*): Long =
    tables.map(t => spark.read.parquet(s"$path/$t").count()).sum

  private def prose(lo: Int, hi: Int, idOffset: Long = 0L) =
    (lo until hi).map(i => (i + idOffset, s"document $i covers subject $i in depth"))
      .toDF("id", "text")

  private def fingerprints(lo: Int, hi: Int, idOffset: Long = 0L) =
    (lo until hi).map(i => (i + idOffset, i * 0x9E3779B97F4A7C15L))
      .toDF("media_id", "sig")

  private def vectors(lo: Int, hi: Int) =
    (lo until hi).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat).toSeq))
      .toDF("id", "vec")

  private def vectorQueries(lo: Int, hi: Int) = vectors(lo, hi)
    .select((col("id") + 1000).as("q_id"), col("vec").as("q_vec"))

  test("append/snapshot: versions are contiguous and reads are exact") {
    val root = freshRoot("basic")
    assert(TxLog.latestVersion(spark, root) === 0)
    assert(TxLog.append(spark, root, docs(0, 10), Some("id")) === 1)
    assert(TxLog.append(spark, root, docs(10, 30), Some("id")) === 2)
    assert(TxLog.latestVersion(spark, root) === 2)
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 30)
    assert(snap.agg(sum("id")).head().getLong(0) === (0 until 30).sum)
  }

  test("time travel: asOf resolves every historical version exactly") {
    val root = freshRoot("travel")
    TxLog.append(spark, root, docs(0, 5))
    TxLog.append(spark, root, docs(5, 15))
    TxLog.append(spark, root, docs(15, 40))
    assert(TxLog.snapshot(spark, root, Some(1)).count() === 5)
    assert(TxLog.snapshot(spark, root, Some(2)).count() === 15)
    assert(TxLog.snapshot(spark, root, Some(3)).count() === 40)
    // empty-at-v0 is an error, not a silent empty frame
    intercept[IllegalArgumentException] {
      TxLog.snapshot(spark, root, Some(0))
    }
  }

  test("rewrite: removes exactly what it read; a mid-flight append survives") {
    val root = freshRoot("rw")
    TxLog.append(spark, root, docs(0, 100), Some("id"))
    // the append lands BETWEEN the rewrite's snapshot and its claim —
    // the rewrite must retry its claim past it and must NOT remove it
    val v = TxLog.rewrite(spark, root, Some("id")) { snap =>
      TxLog.append(spark, root, docs(100, 120), Some("id"))
      snap.where(col("id") < 50)
    }
    assert(v === 3)
    val ids = TxLog.snapshot(spark, root).select("id")
      .as[Long].collect().sorted
    assert(ids === ((0L until 50L) ++ (100L until 120L)).toArray)
  }

  test("rewrite/rewrite race: exactly one wins, the loser aborts with TxConflict") {
    val root = freshRoot("conflict")
    TxLog.append(spark, root, docs(0, 60), Some("id"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 2).map { k =>
      new Thread(() => {
        try {
          TxLog.rewrite(spark, root, Some("id")) { snap =>
            barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
            snap.where(col("id") % 2 === k)
          }
          outcomes.add(s"win-$k")
        } catch {
          case _: TxLog.TxConflictException => outcomes.add(s"abort-$k")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val res = outcomes.toArray(Array.empty[String]).sorted
    assert(res.count(_.startsWith("win")) === 1, res.mkString(","))
    assert(res.count(_.startsWith("abort")) === 1, res.mkString(","))
    // the table reflects exactly the winner's filter
    val n = TxLog.snapshot(spark, root).count()
    assert(n === 30, s"expected one parity (30 rows), saw $n")
  }

  test("hammer: 8 concurrent appenders, every commit lands exactly once") {
    val root = freshRoot("hammer")
    val writers = 8; val each = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).flatMap { w =>
        (0 until each).map { b =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = TxLog.append(spark, root,
              docs(w * 1000 + b * 100, w * 1000 + b * 100 + 10), Some("id"))
          })
        }
      }
      val versions = futures.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      // exactly-once, contiguous versions 1..32
      assert(versions.sorted === (1L to (writers * each)).toVector)
    } finally pool.shutdown()
    assert(TxLog.snapshot(spark, root).count() === writers * each * 10L)
    // snapshot isolation held throughout: every historical version is
    // a prefix with exactly 10·v rows
    Seq(1L, 7L, 19L, 32L).foreach { v =>
      assert(TxLog.snapshot(spark, root, Some(v)).count() === v * 10)
    }
  }

  test("checkpoint: reads fold from it and match the full-log fold") {
    val root = freshRoot("ckpt")
    (0 until 6).foreach(k => TxLog.append(spark, root, docs(k * 10, k * 10 + 10)))
    assert(TxLog.checkpoint(spark, root) === 6)
    (6 until 9).foreach(k => TxLog.append(spark, root, docs(k * 10, k * 10 + 10)))
    assert(TxLog.snapshot(spark, root).count() === 90)
    assert(TxLog.snapshot(spark, root, Some(4)).count() === 40) // pre-checkpoint travel still exact
    // the checkpointed fold names the same live set as the raw fold
    val (v, live) = TxLog.liveFiles(spark, root)
    assert(v === 9 && live.size === 9)
  }

  test("stats pruning: snapshotRange scans only intersecting dirs, results exact") {
    val root = freshRoot("prune")
    (0 until 5).foreach(k =>
      TxLog.append(spark, root, docs(k * 100, k * 100 + 100), Some("id")))
    val audit = TxLog.pruneAudit(spark, root, "id", 150, 350)
      .orderBy("min_key").collect()
    assert(audit.map(_.getBoolean(3)).toSeq ===
      Seq(false, true, true, true, false))
    val read = TxLog.snapshotRange(spark, root, "id", 150, 350)
    assert(read.count() === 200)
    // the planned scan touches exactly the 3 kept dirs' files
    val files = read.select(input_file_name()).distinct().as[String].collect()
    val dirs = files.map(f => f.split('/').dropRight(1).last).distinct
    assert(dirs.length === 3, dirs.mkString(","))
    // fully-disjoint range: zero dirs scanned, empty result, schema kept
    val none = TxLog.snapshotRange(spark, root, "id", 9000, 9999)
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "text"))
  }

  test("CDC: changes replays inserts and rewrite deltas per version") {
    val root = freshRoot("cdc")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    TxLog.append(spark, root, docs(10, 20), Some("id"))
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 5))
    val c = TxLog.changes(spark, root, 1, 3)
      .groupBy("__version", "__change").count()
      .as[(Long, String, Long)].collect().sorted
    assert(c === Array((2L, "insert", 10L), (3L, "delete", 20L),
      (3L, "insert", 5L)))
  }

  test("vacuum: unreachable dirs and aged orphans go, retained history stays") {
    val root = freshRoot("vac")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    TxLog.append(spark, root, docs(10, 20), Some("id"))
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 5))
    // a crashed writer's orphan: data dir, no manifest
    docs(900, 910).write.parquet(s"$root/data/orphan-crashed")
    // retain everything: nothing reachable is deleted, the fresh
    // orphan survives its grace window
    assert(TxLog.vacuum(spark, root, retainVersions = 10,
      graceMs = 3600 * 1000).isEmpty)
    // age the orphan out: grace 0, wide retention — only it goes
    val gone = TxLog.vacuum(spark, root, retainVersions = 10, graceMs = 0)
    assert(gone === Seq("data/orphan-crashed"))
    // the rewrite's removed inputs stay REACHABLE while the rewrite
    // commit is inside the retention window (CDC must replay there)…
    assert(TxLog.vacuum(spark, root, retainVersions = 1, graceMs = 0).isEmpty)
    // …and leave once the window advances past it
    TxLog.append(spark, root, docs(500, 510), Some("id"))
    val gone2 = TxLog.vacuum(spark, root, retainVersions = 1, graceMs = 0)
    assert(gone2.size === 2)
    assert(TxLog.snapshot(spark, root).count() === 15)
  }

  test("CDC drives the growing exact-dedup index to equal a one-shot build") {
    // the incremental-consumer contract: a downstream index maintained
    // ONLY from changes() — never re-scanning the table — lands in the
    // same state as a fresh build from the head snapshot. The rewrite's
    // physical delta (delete-all + re-insert) replays cleanly because
    // the consumer applies each version's deletes before its inserts.
    import graft.operators.Dedup
    val root = freshRoot("cdcidx")
    val base = java.nio.file.Files.createTempDirectory("graft_cdcidx").toString
    val grown = s"$base/grown"; val oneShot = s"$base/oneshot"
    def text(c: org.apache.spark.sql.Column) = concat(lit("payload-"), c % 37)
    TxLog.append(spark, root,
      docs(0, 100).withColumn("text", text(col("id"))), Some("id"))
    TxLog.append(spark, root,
      docs(100, 200).withColumn("text", text(col("id"))), Some("id"))
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 150))
    // consumer: replay versions 1..head in order, deletes before inserts
    var inited = false
    (1L to TxLog.latestVersion(spark, root)).foreach { v =>
      val delta = TxLog.changes(spark, root, v - 1, v)
      val dels = delta.where(col("__change") === "delete")
      val ins = delta.where(col("__change") === "insert")
      if (inited && !dels.isEmpty)
        Dedup.deleteFromExactIndex(spark, grown, dels, "id", col("text"))
      if (!inited) {
        Dedup.buildExactIndex(ins, "id", col("text"), grown, nShards = 8)
        inited = true
      } else if (!ins.isEmpty)
        Dedup.appendToExactIndex(spark, grown, ins, "id", col("text"))
    }
    Dedup.buildExactIndex(TxLog.snapshot(spark, root), "id", col("text"),
      oneShot, nShards = 8)
    def rows(p: String) = spark.read.parquet(s"$p/digests")
      .select("id", "digest").as[(Long, String)].collect().sorted.toSeq
    assert(rows(grown) === rows(oneShot))
    assert(rows(grown).map(_._1).toSet === (0L until 150L).toSet)
  }

  test("schema pin: a drifted append fails loud before writing; rewrite re-pins") {
    val root = freshRoot("schema")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    // drifted batch: loud error, no version consumed, no orphan dir
    val drifted = (10 until 20).map(i => (i.toLong, s"d-$i", 1.5))
      .toDF("id", "text", "score")
    intercept[IllegalArgumentException] {
      TxLog.append(spark, root, drifted, Some("id"))
    }
    assert(TxLog.latestVersion(spark, root) === 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .length === 1, "the drifted batch must not land a byte")
    // nullability relaxation is NOT drift (parquet read-backs relax)
    TxLog.append(spark, root,
      spark.read.parquet(TxLog.liveFiles(spark, root)._2
        .map(f => s"$root/${f.dir}").head), Some("id"))
    assert(TxLog.latestVersion(spark, root) === 2)
    // rewrite is the sanctioned schema change: it re-pins...
    TxLog.rewrite(spark, root, Some("id"))(
      _.withColumn("score", lit(1.0)))
    // ...so the OLD shape is now the drifted one and the NEW one lands
    intercept[IllegalArgumentException] {
      TxLog.append(spark, root, docs(90, 95), Some("id"))
    }
    TxLog.append(spark, root,
      docs(90, 95).withColumn("score", lit(2.0)), Some("id"))
    assert(TxLog.snapshot(spark, root).count() === 25)
  }

  test("an index emptied by takedown stays probe-able and append-able") {
    // the delete-all edge the CDC consumer hits on every rewrite
    // (physical delta = delete-all + re-insert): all shards reclaim,
    // and every tier must read an empty index with the schema a
    // populated read gives, not UNABLE_TO_INFER_SCHEMA. Per tier:
    // delete every row (the report counts them all), probe for 0
    // results under the populated probe's schema, append, match again
    import graft.operators.{Dedup, IvfAnn, Pq}
    def emptied(tier: String, stored: Long, deleteAll: => Long,
        probe: () => DataFrame, append: => Unit, matches: Long): Unit = {
      val shape = probe().schema
      assert(deleteAll === stored, s"$tier: the report counts every row")
      val empty = probe()
      assert(empty.count() === 0, s"$tier: an emptied index matches nothing")
      assert(empty.schema === shape, s"$tier: the populated probe's schema")
      append
      assert(probe().count() === matches, s"$tier: appended rows match again")
    }

    val ex = indexPath("exact")
    Dedup.buildExactIndex(docs(0, 50), "id", col("text"), ex, nShards = 4)
    emptied("exact", 50,
      Dedup.deleteFromExactIndex(spark, ex, docs(0, 50), "id", col("text"))
        .rowsDeleted,
      () => Dedup.probeExactIndex(spark, ex, docs(0, 50), "id", col("text")),
      Dedup.appendToExactIndex(spark, ex, docs(10, 20), "id", col("text")), 10)

    val fz = indexPath("fuzzy")
    Dedup.buildFuzzyIndex(prose(0, 50), "id", "text", fz, nShards = 4)
    emptied("fuzzy", tableRows(fz, "sets", "bands"), {
        val r = Dedup.deleteFromFuzzyIndex(spark, fz, prose(0, 50), "id")
        r("sets").rowsDeleted + r("bands").rowsDeleted
      },
      () => Dedup.probeFuzzyIndex(spark, fz, prose(10, 20, 1000L), "id",
        "text", threshold = 1.0),
      Dedup.appendToFuzzyIndex(spark, fz, prose(10, 20), "id", "text"), 10)

    val hm = indexPath("hamming")
    Dedup.buildHammingIndex(fingerprints(0, 50), hm, nShards = 4)
    emptied("hamming", tableRows(hm, "sigs", "bands"), {
        val r = Dedup.deleteFromHammingIndex(spark, hm, fingerprints(0, 50),
          "media_id")
        r("sigs").rowsDeleted + r("bands").rowsDeleted
      },
      () => Dedup.probeHammingIndex(spark, hm, fingerprints(10, 20, 1000L)),
      Dedup.appendToHammingIndex(spark, hm, fingerprints(10, 20)), 10)

    // the span tier's probe is its intake step, which appends the
    // batch's new grams: the probe of the emptied index is the append,
    // and each probe takes fresh ids (same-owner grams never cut)
    val sp = indexPath("span")
    Dedup.buildSpanIndex(prose(0, 50), "id", "text", 3, sp, nShards = 4)
    var round = 0L
    emptied("span", tableRows(sp, "grams"),
      Dedup.deleteFromSpanIndex(spark, sp, prose(0, 50), "id", "text")
        .rowsDeleted,
      () => {
        round += 1
        Dedup.intakeStepAgainstSpanIndex(spark, sp,
            prose(10, 20, 1000L * round), "id", "text")
          .where(col("n_removed") > 0)
      }, (), 10)

    val iv = indexPath("ivf")
    val cents = IvfAnn.seedCentroidsInt(vectors(0, 50), "id", "vec", nlist = 4)
    IvfAnn.buildIndexInt(vectors(0, 50), "id", "vec", cents, iv)
    emptied("ivf", 50,
      IvfAnn.deleteFromIndexInt(spark, iv, vectors(0, 50), "id", "vec", cents)
        .rowsDeleted,
      () => IvfAnn.searchIndexInt(spark, iv, vectorQueries(10, 20), "id", "vec",
        "q_id", "q_vec", cents, k = 1, nprobe = 4),
      IvfAnn.appendToIndexInt(vectors(10, 20), "id", "vec", cents, iv), 10)

    val pq = indexPath("ivfpq")
    Pq.buildIndexIvfPq(vectors(0, 50), "id", "vec", pq, nlist = 4, m = 2,
      ncode = 4)
    emptied("ivf-pq", 50,
      Pq.deleteFromIndexIvfPq(spark, pq, vectors(0, 50), "id", "vec")
        .rowsDeleted,
      () => Pq.searchIndexIvfPq(spark, pq, vectorQueries(10, 20), "q_id",
        "q_vec", k = 1, nprobe = 4),
      Pq.appendToIndexIvfPq(spark, vectors(10, 20), "id", "vec", pq), 10)
  }

  test("an emptied index whose meta predates its recorded schema fails " +
      "naming a rebuild") {
    // layouts built before the tables' schemas were recorded: the
    // takedown itself completes, and the emptied read names the fix
    // instead of failing with UNABLE_TO_INFER_SCHEMA. The exact tier
    // keeps its fixed legacy shape and stays probe-able.
    import graft.operators.{Dedup, IvfAnn}
    def predate(metaDir: String, cols: String*): Unit = {
      // part files by name: `_centroids/` read as a dir is a hidden path
      val parts = new java.io.File(metaDir).listFiles()
        .map(_.getPath).filter(_.endsWith(".parquet"))
      val m = spark.read.parquet(parts.toIndexedSeq: _*).drop(cols: _*)
      spark.createDataFrame(m.collectAsList(), m.schema)
        .write.mode("overwrite").parquet(metaDir)
    }
    def rebuildNamed(tier: String)(read: => Any): Unit = {
      val e = intercept[IllegalStateException](read)
      assert(e.getMessage.contains("rebuild the index"), s"$tier: $e")
    }

    val ex = indexPath("legacy_exact")
    Dedup.buildExactIndex(docs(0, 10), "id", col("text"), ex, nShards = 4)
    predate(s"$ex/meta", "digest_ddl")
    Dedup.deleteFromExactIndex(spark, ex, docs(0, 10), "id", col("text"))
    assert(Dedup.probeExactIndex(spark, ex, docs(0, 10), "id", col("text"))
      .count() === 0)

    val fz = indexPath("legacy_fuzzy")
    Dedup.buildFuzzyIndex(prose(0, 10), "id", "text", fz, nShards = 4)
    predate(s"$fz/meta", "sets_ddl", "bands_ddl")
    val stored = tableRows(fz, "bands")
    val r = Dedup.deleteFromFuzzyIndex(spark, fz, prose(0, 10), "id")
    assert(r("sets").rowsDeleted === 10 && r("bands").rowsDeleted === stored,
      "both tables are taken down before anything reads them emptied")
    rebuildNamed("fuzzy")(Dedup.probeFuzzyIndex(spark, fz, prose(0, 2), "id",
      "text", threshold = 1.0))

    val iv = indexPath("legacy_ivf")
    val cents = IvfAnn.seedCentroidsInt(vectors(0, 10), "id", "vec", nlist = 2)
    IvfAnn.buildIndexInt(vectors(0, 10), "id", "vec", cents, iv)
    predate(s"$iv/_centroids", "data_ddl")
    IvfAnn.deleteFromIndexInt(spark, iv, vectors(0, 10), "id", "vec", cents)
    rebuildNamed("ivf")(IvfAnn.searchIndexInt(spark, iv, vectorQueries(0, 2),
      "id", "vec", "q_id", "q_vec", cents, k = 1, nprobe = 2))
  }

  test("appendIdempotent: a replayed batch commits at most once, even racing") {
    val root = freshRoot("idem")
    val (v1, did1) = TxLog.appendIdempotent(spark, root, docs(0, 10),
      "intake", 1L, Some("id"))
    assert(v1 === 1 && did1)
    // sequential replay: same version back, nothing committed
    val (v1b, did1b) = TxLog.appendIdempotent(spark, root, docs(0, 10),
      "intake", 1L, Some("id"))
    assert(v1b === 1 && !did1b)
    assert(TxLog.latestVersion(spark, root) === 1)
    assert(TxLog.snapshot(spark, root).count() === 10)
    // a different appId with the same batchId is a DIFFERENT producer
    val (v2, did2) = TxLog.appendIdempotent(spark, root, docs(10, 20),
      "backfill", 1L, Some("id"))
    assert(v2 === 2 && did2)
    // racing replays of one batch: exactly one commits
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
    val ts = (0 until 2).map(_ => new Thread(() => {
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      results.add(TxLog.appendIdempotent(spark, root, docs(20, 30),
        "intake", 2L, Some("id")))
    }))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    val rs = results.toArray(Array.empty[(Long, Boolean)])
    assert(rs.count(_._2) === 1, rs.mkString(","))
    assert(rs.map(_._1).distinct.length === 1, "both must see ONE version")
    assert(TxLog.snapshot(spark, root).count() === 30)
    // the loser's orphan dir is vacuum-reclaimable; the table keeps 3 dirs
    val gone = TxLog.vacuum(spark, root, retainVersions = 10, graceMs = 0)
    assert(gone.size <= 1) // 1 when the race produced a loser dir
    assert(TxLog.snapshot(spark, root).count() === 30)
  }

  test("optimizeRange restores stats granularity; vacuum respects nested dirs") {
    val root = freshRoot("opt")
    // arrival-order appends: every dir spans the whole key range
    // (id % 5 slices), so stats prune NOTHING before the optimize
    (0 until 5).foreach { k =>
      val ids = (0 until 500).filter(_ % 5 == k)
      TxLog.append(spark,
        root, ids.map(i => (i.toLong, s"doc-$i")).toDF("id", "text"),
        Some("id"))
    }
    assert(TxLog.pruneAudit(spark, root, "id", 100, 200).collect()
      .forall(_.getBoolean(3)), "pre-optimize: every dir scans")
    val v = TxLog.optimizeRange(spark, root, "id", buckets = 5)
    assert(v === 6)
    // post-optimize: disjoint 100-wide buckets; [100, 200) scans ONE
    val audit = TxLog.pruneAudit(spark, root, "id", 100, 200)
      .orderBy("min_key").collect()
    assert(audit.length === 5 && audit.count(_.getBoolean(3)) === 1,
      audit.mkString("; "))
    assert(audit.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      (0 until 5).map(k => (k * 100L, k * 100L + 99L)))
    // content identical through the re-clustering, range read exact
    assert(TxLog.snapshot(spark, root).count() === 500)
    assert(TxLog.snapshotRange(spark, root, "id", 100, 200).count() === 100)
    assert(TxLog.snapshotRange(spark, root, "id", 100, 200)
      .columns.toSeq === Seq("id", "text"), "no partition col leaks")
    // vacuum: the 5 superseded append dirs go once the window passes;
    // the optimize parent (live via its nested buckets) SURVIVES
    TxLog.append(spark, root, docs(9000, 9001), Some("id"))
    val gone = TxLog.vacuum(spark, root, retainVersions = 1, graceMs = 0)
    assert(gone.size === 5, gone.mkString(","))
    assert(TxLog.snapshot(spark, root).count() === 501)
    // appends still conform to the pinned schema afterwards
    TxLog.append(spark, root, docs(9001, 9002), Some("id"))
    assert(TxLog.snapshot(spark, root).count() === 502)
  }

  test("appendPartitioned: a batch lands stats-tight — range reads prune " +
      "inside it from day one") {
    val root = freshRoot("apart")
    // two partitioned batches over disjoint key spans
    TxLog.appendPartitioned(spark, root, docs(0, 400), "id", buckets = 4)
    TxLog.appendPartitioned(spark, root, docs(400, 800), "id", buckets = 4)
    assert(TxLog.latestVersion(spark, root) === 2)
    val (_, live) = TxLog.liveFiles(spark, root)
    assert(live.size === 8, "4 bucket dirs per batch")
    // each bucket carries tight 100-wide bounds
    assert(live.map(f => (f.min.get, f.max.get)).sorted ===
      (0 until 8).map(k => (k * 100L, k * 100L + 99L)))
    // [150, 250) scans exactly 2 of 8 dirs, result exact
    val audit = TxLog.pruneAudit(spark, root, "id", 150, 250).collect()
    assert(audit.count(_.getBoolean(3)) === 2)
    assert(TxLog.snapshotRange(spark, root, "id", 150, 250).count() === 100)
    assert(TxLog.snapshot(spark, root).count() === 800)
    // schema still pinned across the partitioned path
    intercept[IllegalArgumentException] {
      TxLog.appendPartitioned(spark, root,
        docs(800, 810).withColumn("extra", lit(1)), "id", 4)
    }
  }

  test("RunGc treats a tx table as a leaf: reports, applies TxLog's own vacuum plan") {
    val lake = java.nio.file.Files.createTempDirectory("graft_gc_tx").toString
    val root = s"$lake/events_tx"
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 5))
    // advance the window so the rewrite's removed input leaves it
    (0 until 10).foreach(k =>
      TxLog.append(spark, root, docs(100 + k, 101 + k), Some("id")))
    docs(900, 905).write.parquet(s"$root/data/orphan-crashed")
    // dry-run (aged): the unreachable dir + the orphan are REPORTED,
    // nothing deleted, and the generic orphan rules never fire inside
    // the tx leaf (no 'compaction-candidate' rows)
    val dry = graft.pipeline.RunGc.run(spark, lake, ageMinutes = 0)
    val txDry = dry.filter(_.kind == "tx-unreachable-data")
    assert(txDry.size === 2 &&
      txDry.forall(_.action === "would-vacuum-retain-10"),
      dry.mkString("; "))
    assert(dry.forall(f => f.kind == "tx-unreachable-data"),
      s"generic rules leaked into the tx leaf: ${dry.mkString("; ")}")
    val n0 = TxLog.snapshot(spark, root).count()
    // apply: vacuumed, table still reads, re-run is clean
    val applied = graft.pipeline.RunGc.run(spark, lake, ageMinutes = 0,
      apply = true)
    assert(applied.filter(_.kind == "tx-unreachable-data")
      .forall(_.action === "vacuumed-retain-10"), applied.mkString("; "))
    assert(TxLog.snapshot(spark, root).count() === n0)
    assert(graft.pipeline.RunGc.run(spark, lake, ageMinutes = 0).isEmpty)
    // young orphans survive the age gate
    docs(950, 955).write.parquet(s"$root/data/orphan-young")
    assert(graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60).isEmpty)
    // checkpoint cadence: 12 commits with no checkpoint — a tight
    // threshold reports the gap, --apply writes the checkpoint, and
    // the re-run is quiet again
    val due = graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      checkpointAfter = 5)
    assert(due.exists(f => f.kind == "tx-checkpoint-due" &&
      f.action.startsWith("would-checkpoint-gap-")), due.mkString("; "))
    graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      checkpointAfter = 5, apply = true)
    assert(TxLog.lastCheckpoint(spark, root).isDefined)
    assert(graft.pipeline.RunGc.run(spark, lake, ageMinutes = 60,
      checkpointAfter = 5).isEmpty)
  }

  test("CDC maintains the NB training state incrementally: counts add on " +
      "insert, subtract on delete; the model equals the one-shot build") {
    // composition of the two r12 families: a learned-filter model kept
    // current from the commit log's row deltas alone — counts are
    // group-sums, so a delete is a NEGATED state merge, and a rewrite's
    // physical delete-all + re-insert delta cancels exactly
    import graft.operators.Sampling
    val root = freshRoot("cdcnb")
    def labeled(lo: Int, hi: Int) = (lo until hi).map { i =>
      val lab = if (i % 2 == 0) "good" else "bad"
      val txt = if (i % 2 == 0) s"alpha beta gamma doc $i"
                else s"zork quux blarg doc $i"
      (i.toLong, txt, lab)
    }.toDF("id", "text", "label")
    TxLog.append(spark, root, labeled(0, 40), Some("id"))
    TxLog.append(spark, root, labeled(40, 80), Some("id"))
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") % 3 =!= 0))
    val B = 128
    // consumer: fold version deltas into the state (deletes negated)
    var state: Option[org.apache.spark.sql.DataFrame] = None
    (1L to TxLog.latestVersion(spark, root)).foreach { v =>
      val delta = TxLog.changes(spark, root, v - 1, v)
      val ins = delta.where(col("__change") === "insert")
      val del = delta.where(col("__change") === "delete")
      val parts = Seq(
        if (ins.isEmpty) None
        else Some(Sampling.nbState(ins, "label", "text", B, "t")),
        if (del.isEmpty) None
        else Some(Sampling.nbState(del, "label", "text", B, "t")
          .withColumn("n", -col("n")))).flatten
      state = Some(Sampling.mergeNbStates(state.toSeq ++ parts)
        .localCheckpoint())
    }
    val oneShot = Sampling.nbState(TxLog.snapshot(spark, root),
      "label", "text", B, "t")
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.where(col("n") =!= 0).as[(String, Int, Long)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(cells(state.get) === cells(oneShot),
      "incremental state must equal the one-shot (zero rows aside)")
    // and so do the models, cell for cell
    def modelCells(st: org.apache.spark.sql.DataFrame) =
      Sampling.nbModel(st, B).as[(String, Int, Long)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(modelCells(state.get) === modelCells(oneShot))
  }

  test("format guard: a future-major manifest is refused, not misread") {
    val root = freshRoot("fmt")
    TxLog.append(spark, root, docs(0, 5), Some("id"))
    // hand-write a v2 commit claiming a future format major
    val dir = new java.io.File(s"$root/_txlog")
    val name = f"v${2L}%020d.commit"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir.getPath, name),
      "format=99\naction=append\nadd=data/bogus|1|-|-\n")
    val e = intercept[java.io.IOException] {
      TxLog.snapshot(spark, root)
    }
    assert(e.getMessage.contains("format 99"), e.getMessage)
  }

  test("claim primitive: a full manifest is visible the instant the name exists") {
    // the create-if-absent publish must never expose a partial file:
    // hammer readers list+read the log while a writer commits
    val root = freshRoot("atomic")
    TxLog.append(spark, root, docs(0, 5), Some("id"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val (_, live) = TxLog.liveFiles(spark, root)
        // every resolved manifest parses completely: each live file
        // carries its committed row count
        if (live.exists(_.rows <= 0)) bad.incrementAndGet()
      }
    })
    reader.start()
    (1 until 20).foreach(k => TxLog.append(spark, root, docs(k * 5, k * 5 + 5), Some("id")))
    stop.set(true); reader.join(30000)
    assert(bad.get() === 0)
    assert(TxLog.snapshot(spark, root).count() === 100)
  }

  test("merge: keyed upsert updates/inserts/deletes; the write prunes to touched dirs") {
    val root = freshRoot("merge")
    (0 until 5).foreach(k =>
      TxLog.append(spark, root, docs(k * 100, k * 100 + 100), Some("id")))
    // update 150-159, delete 250-254 — key span [150, 254] admits dirs
    // 1 and 2 only; dirs 0/3/4 must stay untouched on disk
    val batch = ((150 until 160).map(i => (i.toLong, s"upd-$i", false)) ++
      (250 until 255).map(i => (i.toLong, "gone", true)))
      .toDF("id", "text", "del")
    val v = TxLog.merge(spark, root, batch, "id", deleteCol = Some("del"))
    assert(v === 6)
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 495)
    assert(snap.where(col("id") === 155).select("text")
      .as[String].head() === "upd-155")
    assert(snap.where(col("id") >= 250 && col("id") < 255).count() === 0)
    val h6 = TxLog.history(spark, root).where(col("version") === 6).head()
    assert(h6.getAs[String]("action") === "merge")
    assert(h6.getAs[Long]("n_removes") === 2)
    // a provably key-disjoint merge (pure insert) touches NOTHING —
    // it degenerates to a blind add
    val ins = (9000 until 9005).map(i => (i.toLong, s"new-$i"))
      .toDF("id", "text")
    TxLog.merge(spark, root, ins, "id")
    assert(TxLog.history(spark, root).where(col("version") === 7)
      .head().getAs[Long]("n_removes") === 0)
    assert(TxLog.snapshot(spark, root).count() === 500)
    // batch contract: duplicate keys refuse loud
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, root,
        Seq((1L, "a"), (1L, "b")).toDF("id", "text"), "id")
    }
  }

  test("merge conflicts: disjoint appends survive; overlapping or stat-less adds, " +
      "stolen inputs, and concurrent merges abort") {
    val root = freshRoot("mconf")
    TxLog.append(spark, root, docs(0, 100), Some("id"))
    // (a) intervening append DISJOINT from the merge key span: both land
    val b1 = (0 until 10).map(i => (i.toLong, s"u-$i")).toDF("id", "text")
    TxLog.mergeWithHook(spark, root, b1, "id", None, Seq.empty)(() =>
      TxLog.append(spark, root, docs(500, 520), Some("id")))
    assert(TxLog.snapshot(spark, root).count() === 120)
    assert(TxLog.snapshot(spark, root)
      .where(col("text") === "u-5").count() === 1)
    // (b) intervening append INSIDE the span: the merge never saw those
    // rows — abort
    val b2 = (0 until 10).map(i => (i.toLong, s"w-$i")).toDF("id", "text")
    intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root, b2, "id", None, Seq.empty)(() =>
        TxLog.append(spark, root, docs(5, 8), Some("id")))
    }
    // (c) stat-less intervening add: disjointness unprovable — abort
    val b3 = (600 until 610).map(i => (i.toLong, s"z-$i")).toDF("id", "text")
    intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root, b3, "id", None, Seq.empty)(() =>
        TxLog.append(spark, root, docs(700, 710)))
    }
    // (d) a concurrent merge that rewrote our touched dirs — abort
    val b4 = (0 until 5).map(i => (i.toLong, s"m-$i")).toDF("id", "text")
    val b5 = (50 until 55).map(i => (i.toLong, s"n-$i")).toDF("id", "text")
    intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root, b4, "id", None, Seq.empty)(() =>
        TxLog.merge(spark, root, b5, "id"))
    }
  }

  test("evolveSchema: add column + widen; mixed generations align; " +
      "time travel keeps the old shape") {
    val root = freshRoot("evolve")
    val genA = (0 until 50).map(i => (i.toLong, i * 2)).toDF("id", "n")
      .select(col("id"), col("n").cast("int").as("n"))
    TxLog.append(spark, root, genA, Some("id")) // v1 pins id BIGINT, n INT
    assert(TxLog.evolveSchema(spark, root,
      "id BIGINT, n BIGINT, lang STRING") === 2)
    // the OLD shape now fails the pin; the new shape lands
    intercept[IllegalArgumentException] { TxLog.append(spark, root, genA) }
    val genB = (50 until 80).map(i => (i.toLong, i * 2L, "en"))
      .toDF("id", "n", "lang")
    TxLog.append(spark, root, genB, Some("id"))
    val snap = TxLog.snapshot(spark, root)
    assert(snap.schema.fields.map(f =>
      (f.name, f.dataType.simpleString)).toSeq ===
      Seq(("id", "bigint"), ("n", "bigint"), ("lang", "string")))
    assert(snap.count() === 80)
    assert(snap.where(col("lang").isNull).count() === 50) // null backfill
    assert(snap.agg(sum("n")).head().getLong(0) ===
      (0 until 80).map(_ * 2L).sum) // widened ints survive exactly
    // pre-evolution time travel reads what THAT version's readers saw
    val old = TxLog.snapshot(spark, root, Some(1))
    assert(old.schema.fieldNames.toSeq === Seq("id", "n"))
    assert(old.schema("n").dataType.simpleString === "int")
    // non-additive / narrowing evolutions refuse loud
    intercept[IllegalArgumentException] {
      TxLog.evolveSchema(spark, root, "id BIGINT, lang STRING")
    }
    intercept[IllegalArgumentException] {
      TxLog.evolveSchema(spark, root, "id BIGINT, n INT, lang STRING")
    }
    // range reads and merges span the generations transparently
    assert(TxLog.snapshotRange(spark, root, "id", 40, 60).count() === 20)
    TxLog.merge(spark, root, Seq((40L, 999L, "fr")).toDF("id", "n", "lang"),
      "id")
    val merged = TxLog.snapshot(spark, root)
    assert(merged.where(col("id") === 40).select("n")
      .as[Long].head() === 999L)
    assert(merged.count() === 80)
  }

  test("stats-column safety: a dir with stats on ANOTHER column is never " +
      "pruned on keyCol; multi-column stats prune on each") {
    val root = freshRoot("statcol")
    val a = (0 until 100).map(i => (i.toLong, 5000L + i)).toDF("id", "ts")
    val b = (100 until 200).map(i => (i.toLong, 9000L + i)).toDF("id", "ts")
    TxLog.append(spark, root, a, Some("id"))
    TxLog.append(spark, root, b, Some("ts")) // stats on ts, NOT id
    // the id-range read must SCAN dir b (its ts stats say nothing about
    // id — the pre-r13 form would have pruned it and silently lost rows)
    assert(TxLog.snapshotRange(spark, root, "id", 150, 160).count() === 10)
    val audit = TxLog.pruneAudit(spark, root, "id", 9000, 9100).collect()
    val (withStat, statless) = audit.partition(!_.isNullAt(1))
    assert(withStat.length === 1 && !withStat.head.getBoolean(3)) // a pruned
    assert(statless.length === 1 && statless.head.getBoolean(3)) // b scanned
    // multi-column stats: one append records both, either predicate prunes
    val root2 = freshRoot("multicol")
    TxLog.appendCols(spark, root2, a, Seq("id", "ts"))
    TxLog.appendCols(spark, root2, b, Seq("id", "ts"))
    assert(TxLog.snapshotRangeMulti(spark, root2,
      Seq(("id", 0L, 200L), ("ts", 9100L, 9150L))).count() === 50)
    val audit2 = TxLog.pruneAudit(spark, root2, "ts", 5000, 6000).collect()
    assert(audit2.count(_.getBoolean(3)) === 1) // only dir a admits on ts
  }

  test("CDC→MERGE: incrementally applying a table's changes rebuilds it exactly") {
    val rootA = freshRoot("cdcsrc"); val rootB = freshRoot("cdcdst")
    TxLog.append(spark, rootA, docs(0, 100), Some("id"))
    TxLog.append(spark, rootA, docs(100, 160), Some("id"))
    TxLog.rewrite(spark, rootA, Some("id"))(_.where(col("id") % 3 =!= 0))
    TxLog.append(spark, rootA, docs(200, 230), Some("id"))
    val head = TxLog.latestVersion(spark, rootA)
    (1L to head).foreach { v =>
      val delta = TxLog.changes(spark, rootA, v - 1, v)
      // reconcile the physical delta per key: within a version an
      // insert beats a delete (a rewrite streams delete-all+re-insert)
      val batch = delta.groupBy("id")
        .agg(max(struct(col("__version"),
          (col("__change") === "insert").cast("int").as("ins"),
          col("text"))).as("m"))
        .select(col("id"), col("m.text").as("text"),
          (col("m.ins") === 0).as("del"))
      TxLog.merge(spark, rootB, batch, "id", deleteCol = Some("del"))
    }
    val aRows = TxLog.snapshot(spark, rootA).orderBy("id").collect()
    val bRows = TxLog.snapshot(spark, rootB).orderBy("id").collect()
    assert(bRows === aRows)
    assert(aRows.length === 136) // 160 − 54 multiples of 3 + 30 late adds
  }

  test("tombstone DV: a key list masks pre-existing rows everywhere; " +
      "re-insert resurrects; rewrite materializes and inerts; vacuum " +
      "reclaims the key dir; merge aborts on an intervening tombstone") {
    val root = freshRoot("dv")
    (0 until 4).foreach(k =>
      TxLog.append(spark, root, docs(k * 50, k * 50 + 50), Some("id")))
    // tombstone every %5==0 id (spread over all four dirs) — a KB key
    // write; no data dir is touched
    val doomed = (0 until 200 by 5).map(i => Tuple1(i.toLong)).toDF("id")
    assert(TxLog.tombstone(spark, root, doomed, "id") === 5)
    val snap = TxLog.snapshot(spark, root)
    assert(snap.count() === 160)
    assert(snap.where(col("id") % 5 === 0).count() === 0)
    val h = TxLog.history(spark, root).where(col("version") === 5).head()
    assert(h.getAs[String]("action") === "tombstone")
    assert(h.getAs[Long]("n_adds") === 0 && h.getAs[Long]("n_removes") === 0)
    // time travel BEFORE the tombstone still sees everything
    assert(TxLog.snapshot(spark, root, Some(4)).count() === 200)
    // CDC: the tombstone's delta is exactly its masked rows
    assert(TxLog.changes(spark, root, 4, 5)
      .where(col("__change") === "delete").count() === 40)
    // resurrection: a later append of a tombstoned key lives (its dir
    // postdates the mask)
    TxLog.append(spark, root, docs(0, 1), Some("id"))
    assert(TxLog.snapshot(spark, root).where(col("id") === 0).count() === 1)
    assert(TxLog.snapshot(spark, root).count() === 161)
    // range reads mask too: [0,50) = 40 survivors + the resurrected 0
    assert(TxLog.snapshotRange(spark, root, "id", 0, 50).count() === 41)
    // a checkpoint carries the live mask (with explicit versions)
    TxLog.checkpoint(spark, root)
    assert(TxLog.snapshot(spark, root).count() === 161)
    assert(TxLog.liveTombstones(spark, root).size === 1)
    // a rewrite reads the MASKED snapshot, so it materializes the mask
    // physically — the tombstone goes inert and drops from the fold
    val dvRel = TxLog.liveTombstones(spark, root).head.rel
    TxLog.rewrite(spark, root, Some("id"))(df => df)
    assert(TxLog.liveTombstones(spark, root).isEmpty)
    assert(TxLog.snapshot(spark, root).count() === 161)
    // ...and the key dir becomes vacuumable once out of retention
    val doomedDirs = TxLog.vacuumCandidates(spark, root,
      retainVersions = 1, graceMs = 0)
    assert(doomedDirs.contains(dvRel), doomedDirs.mkString(","))
    // an intervening tombstone aborts a mid-flight merge (its output
    // would silently erase the new mask)
    val b = Seq((3L, "m-3")).toDF("id", "text")
    intercept[TxLog.TxConflictException] {
      TxLog.mergeWithHook(spark, root, b, "id", None, Seq.empty)(() =>
        TxLog.tombstone(spark, root, Seq(Tuple1(7L)).toDF("id"), "id"))
    }
  }

  test("optimizeZOrder: EACH dimension alone prunes buckets of the z " +
      "layout — impossible for a single-key layout — and reads stay exact") {
    val root = freshRoot("zorder")
    // y anti-correlates with x so a single-x sort would leave y stats
    // spanning everything per bucket
    val data = (0 until 1024)
      .map(i => (i.toLong, (i * 37 % 1024).toLong, s"r-$i"))
      .toDF("x", "y", "text")
    TxLog.append(spark, root, data, Some("x"))
    TxLog.optimizeZOrder(spark, root, "x", "y", buckets = 16)
    val (_, live) = TxLog.liveFiles(spark, root)
    assert(live.size > 4, s"expected many z buckets, got ${live.size}")
    // per-dim manifest pruning: both x-only and y-only range reads
    // must skip buckets
    def prunedOn(c: String): Long = TxLog.pruneAudit(spark, root, c, 0, 128)
      .where(!col("scanned")).count()
    assert(prunedOn("x") > 0, "x-range must prune z buckets")
    assert(prunedOn("y") > 0, "y-range must prune z buckets")
    // and the 2-D box read is exact
    val box = TxLog.snapshotRangeMulti(spark, root,
      Seq(("x", 0L, 256L), ("y", 0L, 256L)))
    val expected = data.where(col("x") < 256 && col("y") < 256).count()
    assert(box.count() === expected)
    // every live bucket carries BOTH dims' stats
    assert(live.forall(f => f.statFor("x").isDefined && f.statFor("y").isDefined))
  }

  test("CHECK constraints: violating writes fail mid-write naming the rule; " +
      "existing violations block the pin; drop restores; the set survives " +
      "checkpoints") {
    val root = freshRoot("check")
    TxLog.append(spark, root, docs(0, 50), Some("id"))
    // a constraint the EXISTING data violates is refused with the count
    val e0 = intercept[TxLog.TxConstraintException] {
      TxLog.addConstraint(spark, root, "small_id", "id < 10")
    }
    assert(e0.getMessage.contains("40 existing rows"), e0.getMessage)
    TxLog.addConstraint(spark, root, "id_bounds", "id >= 0 AND id < 100000")
    TxLog.addConstraint(spark, root, "text_present", "text IS NOT NULL")
    assert(TxLog.constraints(spark, root).map(_._1) ===
      Seq("id_bounds", "text_present"))
    // a violating append fails MID-WRITE, names the rule, commits nothing
    val head0 = TxLog.latestVersion(spark, root)
    val bad = Seq((-5L, "x")).toDF("id", "text")
    val e1 = intercept[TxLog.TxConstraintException] {
      TxLog.append(spark, root, bad, Some("id"))
    }
    assert(e1.getMessage.contains("id_bounds"), e1.getMessage)
    assert(TxLog.latestVersion(spark, root) === head0)
    // merge upserts go through the same check
    val e2 = intercept[TxLog.TxConstraintException] {
      TxLog.merge(spark, root,
        Seq((3L, null.asInstanceOf[String])).toDF("id", "text"), "id")
    }
    assert(e2.getMessage.contains("text_present"), e2.getMessage)
    // valid writes pass; the set folds through a checkpoint
    TxLog.append(spark, root, docs(50, 60), Some("id"))
    TxLog.checkpoint(spark, root)
    TxLog.append(spark, root, docs(60, 70), Some("id"))
    assert(TxLog.constraints(spark, root).size === 2)
    intercept[TxLog.TxConstraintException] {
      TxLog.append(spark, root, bad, Some("id"))
    }
    // drop restores writability under the remaining rules
    TxLog.dropConstraint(spark, root, "id_bounds")
    TxLog.append(spark, root, bad, Some("id"))
    assert(TxLog.snapshot(spark, root).count() === 71)
  }

  test("time travel by wall clock: versionAtTime resolves each band via " +
      "in-commit timestamps; pre-history errors") {
    val root = freshRoot("astime")
    val t0 = System.currentTimeMillis()
    Thread.sleep(5)
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    Thread.sleep(5); val t1 = System.currentTimeMillis(); Thread.sleep(5)
    TxLog.append(spark, root, docs(10, 30), Some("id"))
    Thread.sleep(5); val t2 = System.currentTimeMillis(); Thread.sleep(5)
    TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 5))
    Thread.sleep(5); val t3 = System.currentTimeMillis()
    assert(TxLog.versionAtTime(spark, root, t1) === 1)
    assert(TxLog.versionAtTime(spark, root, t2) === 2)
    assert(TxLog.versionAtTime(spark, root, t3) === 3)
    assert(TxLog.snapshotAt(spark, root, t2).count() === 30)
    assert(TxLog.snapshotAt(spark, root, t3).count() === 5)
    intercept[IllegalArgumentException] {
      TxLog.versionAtTime(spark, root, t0)
    }
  }

  test("checkpoint-anchored versionAtTime: recent timestamps resolve " +
      "via the anchor chain in O(since-checkpoint) manifest reads, old " +
      "ones backscan; a repeated statement reads ZERO manifests") {
    val root = freshRoot("astime_ckpt")
    val after = scala.collection.mutable.Map.empty[Int, Long]
    for (i <- 1 to 24) {
      TxLog.append(spark, root, docs(i * 2, i * 2 + 2), Some("id"))
      if (i == 8 || i == 16) TxLog.checkpoint(spark, root)
      Thread.sleep(3); after(i) = System.currentTimeMillis()
      Thread.sleep(3)
    }
    // correctness across the bands, including AT an anchor version
    assert(TxLog.versionAtTime(spark, root, after(5)) === 5)
    assert(TxLog.versionAtTime(spark, root, after(8)) === 8)
    assert(TxLog.versionAtTime(spark, root, after(16)) === 16)
    assert(TxLog.versionAtTime(spark, root, after(24)) === 24)
    // RECENT timestamp, cold cache: the anchor chain brackets at
    // ckpt16, so resolution + the retention head-fold read the ckpt16
    // manifest plus commits 17..24 — NEVER the 16 pre-checkpoint
    // commits (the old walk read all 24)
    TxLog.clearManifestCache()
    val n0 = TxLog.manifestReadCount
    assert(TxLog.versionAtTime(spark, root, after(22)) === 22)
    val coldReads = TxLog.manifestReadCount - n0
    assert(coldReads <= 12,
      s"recent-timestamp travel read $coldReads manifests — the anchor " +
        "chain must keep this at O(since-checkpoint), not O(history)")
    // identical repeated statement: the immutable-manifest cache
    // serves everything — zero filesystem manifest reads
    val n1 = TxLog.manifestReadCount
    assert(TxLog.versionAtTime(spark, root, after(22)) === 22)
    assert(TxLog.manifestReadCount - n1 === 0,
      "a repeated TIMESTAMP AS OF must read zero manifests")
    // OLD timestamp: backscan walks the prevckpt chain (16 → 8 → v1
    // walk) and still answers exactly
    TxLog.clearManifestCache()
    assert(TxLog.versionAtTime(spark, root, after(3)) === 3)
    // pre-history still errors
    intercept[IllegalArgumentException] {
      TxLog.versionAtTime(spark, root, after(24) - 1000000L)
    }
  }

  test("the _hint pointer is advisory, never the truth: stale, corrupt " +
      "and deleted hints all read exactly; a checkpoint hints a " +
      "pre-hint-era log into the no-listing fold") {
    val root = freshRoot("hint")
    TxLog.append(spark, root, docs(0, 20), Some("id"))
    TxLog.append(spark, root, docs(20, 50), Some("id"))
    TxLog.append(spark, root, docs(50, 60), Some("id"))
    val hint = new java.io.File(s"$root/_txlog/_hint")
    assert(hint.exists(), "every publish must write the hint")
    def readAll(): Unit = {
      assert(TxLog.latestVersion(spark, root) === 3)
      assert(TxLog.snapshot(spark, root).count() === 60)
      assert(TxLog.snapshot(spark, root, Some(2)).count() === 50)
    }
    readAll()
    // STALE-LOW hint (a crashed writer never recorded v2/v3): the
    // forward probe recovers the true head
    java.nio.file.Files.write(hint.toPath, "1|0".getBytes("UTF-8"))
    readAll()
    // CORRUPT hint: the listing fallback serves, nothing breaks
    java.nio.file.Files.write(hint.toPath, "garbage".getBytes("UTF-8"))
    readAll()
    // DELETED hint (pre-hint-era log): listing fallback
    assert(hint.delete())
    readAll()
    // ...and the first new commit on that log records an UNKNOWN
    // checkpoint (-1: it cannot know without a listing) — folds still
    // exact via the fallback
    TxLog.append(spark, root, docs(60, 70), Some("id"))
    val s = new String(java.nio.file.Files.readAllBytes(hint.toPath),
      "UTF-8")
    assert(s === "4|-1", s)
    assert(TxLog.snapshot(spark, root).count() === 70)
    // one checkpoint() upgrades the log to the fully-hinted fold
    TxLog.checkpoint(spark, root)
    val s2 = new String(java.nio.file.Files.readAllBytes(hint.toPath),
      "UTF-8")
    assert(s2 === "4|4", s2)
    assert(TxLog.latestVersion(spark, root) === 4)
    assert(TxLog.snapshot(spark, root).count() === 70)
    // travel BELOW the hinted checkpoint takes the listing path
    assert(TxLog.snapshot(spark, root, Some(2)).count() === 50)
  }

  test("per-dir Bloom stats: a point read on a NON-clustered string " +
      "column stabs <=K dirs of the table; results exact; bloom-less " +
      "dirs conservative; the kind survives checkpoints and audits") {
    val root = freshRoot("bloom")
    // a PRE-declaration dir (no bloom — the legacy-dir class) holding
    // a duplicate of the probed value: it must admit conservatively
    val target = "https://site-22.example/p/7103"
    TxLog.append(spark, root,
      Seq((99999L, target)).toDF("id", "url"), Some("id"))
    // the declaration: 20 bloom-statted dirs (sticky from here on)
    for (i <- 0 until 20)
      TxLog.appendCols(spark, root,
        (i * 500 until (i + 1) * 500)
          .map(j => (j.toLong, s"https://site-${j % 97}.example/p/$j"))
          .toDF("id", "url"),
        Seq("id"), bloomCols = Seq("url"))
    def dirsRead(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(f => f.split("/data/")(1).split("/")(0))
        .distinct.length
    // both copies found: the statted dir via its bloom, the legacy
    // dir conservatively — and nothing else
    val hit = TxLog.snapshotPoint(spark, root, "url", target)
    assert(hit.count() === 2)
    assert(hit.select("id").collect().map(_.getLong(0)).sorted ===
      Array(7103L, 99999L))
    assert(dirsRead(hit) <= 4,
      s"the Bloom must stab <=4 of 21 dirs, read ${dirsRead(hit)}")
    // a value the table never held: nothing, and (almost) no dirs
    val miss = TxLog.snapshotPoint(spark, root, "url",
      "https://absent.example/x")
    assert(miss.count() === 0)
    assert(dirsRead(miss) <= 3)
    // the SQL door: a pushed string equality routes through the same
    // bloom-pruned path
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW bloom_v " +
      s"USING `graft-tx` OPTIONS (path '$root')")
    assert(spark.sql(s"SELECT id FROM bloom_v WHERE url = '$target'")
      .collect().map(_.getLong(0)).sorted === Array(7103L, 99999L))
    // statsAudit reports the kind with its fill over the statted dirs
    val audit = TxLog.statsAudit(spark, root, "url")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4)))
    val b = audit.find(_._1 === "url#bloom")
    assert(b.isDefined, audit.mkString(","))
    assert(b.get._2 === 20L, "20 of 21 dirs carry the bloom")
    assert(b.get._3 > 0L && b.get._3 < 500000L,
      s"fill must be sane, got ${b.get._3} ppm")
    // blooms ride AddFile through a checkpoint fold
    TxLog.checkpoint(spark, root)
    val after = TxLog.snapshotPoint(spark, root, "url", target)
    assert(after.count() === 2)
    assert(dirsRead(after) <= 4)
    // STICKY declaration: a maintenance re-cluster RE-RECORDS the
    // blooms on its fresh bucket dirs — the point read keeps pruning
    TxLog.optimizeHash(spark, root, "id", buckets = 16)
    val opt = TxLog.snapshotPoint(spark, root, "url", target)
    assert(opt.count() === 2)
    assert(dirsRead(opt) <= 4,
      s"post-optimize point read hit ${dirsRead(opt)} of 16 buckets")
    // ...and a keyed MERGE keeps the stat alive on its rewritten dir:
    // the replaced url vanishes from the probe, the new one is found
    TxLog.merge(spark, root,
      Seq((7103L, "https://replaced.example/z")).toDF("id", "url"), "id")
    assert(TxLog.snapshotPoint(spark, root, "url", target).count() === 1)
    val nu = TxLog.snapshotPoint(spark, root, "url",
      "https://replaced.example/z")
    assert(nu.count() === 1)
    assert(dirsRead(nu) <= 3)
    // INTEGRAL equalities probe blooms too: a LONG column with no
    // value span (not in statsCols) still stabs its dir through the
    // SQL door — the decimal rendering is the probe key
    val r2 = freshRoot("bloom_long")
    for (i <- 0 until 8)
      TxLog.appendCols(spark, r2,
        (i * 100 until (i + 1) * 100)
          .map(j => (j.toLong, (j * 7919L) % 100000L)).toDF("k", "v"),
        Seq("k"), bloomCols = Seq("v"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW bloomL_v " +
      s"USING `graft-tx` OPTIONS (path '$r2')")
    val hitL = spark.sql(
      s"SELECT k FROM bloomL_v WHERE v = ${(351L * 7919L) % 100000L}")
    assert(hitL.collect().map(_.getLong(0)).contains(351L))
    assert(dirsRead(hitL) <= 3,
      s"long-equality bloom probe read ${dirsRead(hitL)} of 8 dirs")
    // the sticky declaration FOLLOWS a rename (new writes record
    // under the new name; old dirs' old-name filters go conservative)
    TxLog.renameColumn(spark, r2, "v", "w")
    TxLog.appendCols(spark, r2,
      Seq((9001L, 424242L)).toDF("k", "w"), Seq("k"))
    val a2 = TxLog.statsAudit(spark, r2, "w")
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(a2.exists(p => p._1 == "w#bloom" && p._2 == 1L),
      s"declaration must follow the rename, got ${a2.mkString(",")}")
    assert(TxLog.snapshotPoint(spark, r2, "w", 424242L)
      .select("k").head().getLong(0) === 9001L)
    // ...and a drop CLEARS it (appends of the narrowed schema succeed
    // with nothing recorded)
    TxLog.dropColumn(spark, r2, "w")
    TxLog.append(spark, r2, Seq(5555L).toDF("k"), Some("k"))
    assert(TxLog.snapshot(spark, r2).count() === 802)
  }

  test("manifest cache vs external rebuild: deleting a table root and " +
      "rebuilding AT THE SAME PATH serves the new content, never the " +
      "cached old manifests") {
    val root = freshRoot("rebuild")
    TxLog.append(spark, root, docs(0, 30), Some("id"))
    assert(TxLog.snapshot(spark, root).count() === 30) // caches v1
    // external rm -rf + rebuild with DIFFERENT content, same names
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
    TxLog.append(spark, root, docs(0, 7), Some("id"))
    assert(TxLog.snapshot(spark, root).count() === 7,
      "the root-signature guard must invalidate the stale entries")
  }

  test("torn _hint reads stay exact: a numeric PREFIX naming a " +
      "checkpoint that never existed falls back to the listing; v0 " +
      "travel errors identically hinted and unhinted") {
    val root = freshRoot("hint_torn")
    TxLog.append(spark, root, docs(0, 20), Some("id"))
    TxLog.append(spark, root, docs(20, 50), Some("id"))
    val hint = new java.io.File(s"$root/_txlog/_hint")
    // torn overwrite exposing a clean-parsing prefix: '2|1' could be
    // torn from '2|<something>' where checkpoint v1 never existed —
    // the fold must stat the checkpoint manifest and fall back, not
    // throw FileNotFound mid-fold
    java.nio.file.Files.write(hint.toPath, "2|1".getBytes("UTF-8"))
    assert(TxLog.snapshot(spark, root).count() === 50)
    assert(TxLog.snapshot(spark, root, Some(1)).count() === 20)
    // v0 error parity: same caller-facing error with and without a hint
    java.nio.file.Files.write(hint.toPath, "2|0".getBytes("UTF-8"))
    val hinted = intercept[IllegalArgumentException] {
      TxLog.snapshot(spark, root, Some(0)).count()
    }
    assert(hint.delete())
    val unhinted = intercept[IllegalArgumentException] {
      TxLog.snapshot(spark, root, Some(0)).count()
    }
    assert(hinted.getMessage === unhinted.getMessage,
      s"hinted [$hinted] vs unhinted [$unhinted]")
    assert(hinted.getMessage.contains("empty at v0"), hinted.getMessage)
  }

  test("fused bucket stats (r18, stats ride the write's own scan) equal " +
      "the fallback second-pass stats manifest-for-manifest") {
    // same table built twice: once with the fused observe path (the
    // default) and once forced onto the classic bucketStats re-scan —
    // every AddFile's (bucket dir, rows, per-column min/max) must match
    def strDocs(lo: Int, hi: Int) = (lo until hi)
      .map(i => (f"key-$i%05d", i.toLong)).toDF("k", "v")
    def fpOf(roots: Seq[String]) = roots
      .flatMap(r => TxLog.liveFiles(spark, r)._2)
      .map(f => (f.dir.split("/").last, f.rows,
        f.stats.map(c => (c.col, c.min, c.max)).sortBy(_._1)))
      .sortBy(t => (t._1, t._2))
    def fp(root: String) = fpOf(Seq("", "_s", "_z").map(root + _))
    // returns the main table's live set after EACH of its writers: the
    // final compact replaces every earlier bucketed output, so `fp`
    // alone would compare only the compact's
    def build(root: String) = {
      val steps = Seq[() => Long](
        () => TxLog.appendPartitioned(spark, root, docs(0, 500), "id",
          buckets = 4),
        () => TxLog.optimizeRange(spark, root, "id", buckets = 4),
        () => TxLog.optimizeHash(spark, root, "id", buckets = 8),
        () => TxLog.optimizeCompact(spark, root, targetRows = 1000))
        .map { write => write(); fpOf(Seq(root)) }
      // a string-keyed table exercises the hash-stat spec too
      TxLog.append(spark, root + "_s", strDocs(0, 300), Some("k"))
      TxLog.optimizeHash(spark, root + "_s", "k", buckets = 8,
        extraStats = Seq("v"))
      // a two-long-column table exercises optimizeZOrder's two dims
      TxLog.append(spark, root + "_z",
        docs(0, 300).withColumn("m", col("id") % 37), Some("id"))
      TxLog.optimizeZOrder(spark, root + "_z", "id", "m", buckets = 4)
      steps
    }
    val a = freshRoot("fuseda")
    val b = freshRoot("fusedb")
    val stepsA = build(a)
    spark.conf.set("spark.graft.tx.fusedBucketStats", "false")
    val stepsB =
      try build(b)
      finally spark.conf.unset("spark.graft.tx.fusedBucketStats")
    assert(fp(a).nonEmpty)
    assert(fp(a) === fp(b))
    assert(stepsA === stepsB)
    // and the rows themselves are identical either way
    assert(TxLog.snapshot(spark, a).orderBy("id").collect() ===
      TxLog.snapshot(spark, b).orderBy("id").collect())
  }

  test("fused bucket stats rows×aggs work gate (r18): small writes fuse, " +
      "large writes take the codegen'd fallback pass") {
    val maxRA = 4L * 1000 * 1000
    // x170's shape: 2.2k rows, 16 buckets × 6 aggs — the saved stats
    // job dominates, so fuse
    assert(TxLog.wantsFusedBucketStats(enabled = true, nBuckets = 16,
      perBucketAggs = 6, rows = 2200, maxRowAggs = maxRA))
    // the r18 wide-fixture probe's shape: 200k rows × 480 aggs — the
    // interpreted per-row observe tax dominates, so fall back
    assert(!TxLog.wantsFusedBucketStats(enabled = true, nBuckets = 16,
      perBucketAggs = 30, rows = 200000, maxRowAggs = maxRA))
    // a 100 TB OPTIMIZE (trillions of rows) always falls back, even at
    // one bucket, and rows*aggs must not overflow into a false fuse
    assert(!TxLog.wantsFusedBucketStats(enabled = true, nBuckets = 1,
      perBucketAggs = 3, rows = 2L * 1000 * 1000 * 1000 * 1000,
      maxRowAggs = maxRA))
    // agg budget still binds independently of rows
    assert(!TxLog.wantsFusedBucketStats(enabled = true, nBuckets = 512,
      perBucketAggs = 2, rows = 1, maxRowAggs = maxRA))
    // conf escape hatch
    assert(!TxLog.wantsFusedBucketStats(enabled = false, nBuckets = 16,
      perBucketAggs = 6, rows = 2200, maxRowAggs = maxRA))
  }

  /** Run `write` on `frame` while its rows are held: a nondeterministic
    * UDF parks the frame's one task on [[TxLogSpec.go]] after signalling
    * [[TxLogSpec.started]], so `meanwhile` commits on this thread while
    * the write job is open. Returns the write's outcome. */
  private def whileWriting[A](frame: DataFrame)(write: DataFrame => A)
      (meanwhile: => Unit): scala.util.Try[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    TxLogSpec.started = new CountDownLatch(1)
    TxLogSpec.go = new CountDownLatch(1)
    val hold = udf { (id: Long) =>
      TxLogSpec.started.countDown()
      TxLogSpec.go.await()
      id
    }.asNondeterministic()
    val held = frame.coalesce(1).withColumn("id", hold(col("id")))
    val f = Future(write(held))(scala.concurrent.ExecutionContext.global)
    try {
      assert(TxLogSpec.started.await(120, TimeUnit.SECONDS),
        "the write never reached its rows")
      meanwhile
    } finally TxLogSpec.go.countDown()
    scala.util.Try(Await.result(f, 5.minutes))
  }

  private val evolvedDdl = org.apache.spark.sql.types.StructType
    .fromDDL("id BIGINT, text STRING, lang STRING").toDDL

  test("append vs evolveSchema landing during its write: the claim " +
      "collides and the old-shape batch aborts; the evolve stays") {
    val root = freshRoot("raceevo")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    val out = whileWriting(docs(10, 20))(
      TxLog.append(spark, root, _, Some("id")))(
      TxLog.evolveSchema(spark, root, evolvedDdl))
    val e = intercept[TxLog.TxConflictException](out.get)
    assert(e.getMessage.contains("lost to a concurrent schema change"),
      e.getMessage)
    assert(TxLog.pinnedSchema(spark, root).contains(evolvedDdl))
    assert(TxLog.latestVersion(spark, root) === 2)
  }

  test("append vs addConstraint landing during its write: the claim " +
      "collides and no unvalidated row goes live under the constraint") {
    val root = freshRoot("racecons")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    val out = whileWriting(docs(98, 102))(
      TxLog.append(spark, root, _, Some("id")))(
      TxLog.addConstraint(spark, root, "small", "id < 100"))
    val e = intercept[TxLog.TxConflictException](out.get)
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    assert(TxLog.constraints(spark, root).map(_._1) === Seq("small"))
    assert(TxLog.snapshot(spark, root).where(col("id") >= 100).count() === 0)
  }

  test("appendPartitioned vs evolveSchema landing during its write: the " +
      "claim collides and the old-shape batch aborts; the evolve stays") {
    val root = freshRoot("racepart")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    val out = whileWriting(docs(10, 20))(
      TxLog.appendPartitioned(spark, root, _, "id", buckets = 2))(
      TxLog.evolveSchema(spark, root, evolvedDdl))
    val e = intercept[TxLog.TxConflictException](out.get)
    assert(e.getMessage.contains("lost to a concurrent schema change"),
      e.getMessage)
    assert(TxLog.pinnedSchema(spark, root).contains(evolvedDdl))
    assert(TxLog.latestVersion(spark, root) === 2)
  }

  test("merge: the frozen change batch is freed once merge returns, " +
      "without a recompute WARN") {
    val root = freshRoot("mergefree")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    val before = CheckpointProbe.cachedRddIds(spark)
    CheckpointProbe.unpersistedDuring(spark) { unpersisted =>
      val (v, warnings) = CheckpointProbe.warningsDuring(
        TxLog.merge(spark, root, docs(5, 15), "id"))
      assert(v === 2)
      assert(!warnings.exists(_.contains(CheckpointProbe.RecomputeWarning)),
        warnings.mkString("\n"))
      assert(CheckpointProbe.gcUntil() {
        !unpersisted.isEmpty &&
          (CheckpointProbe.cachedRddIds(spark) -- before).isEmpty
      }, "merge left cached RDDs " +
        (CheckpointProbe.cachedRddIds(spark) -- before).mkString(","))
    }
    assert(TxLog.snapshot(spark, root).count() === 15)
  }

  test("one claim loop: only commit claims a version; checkpoint and " +
      "cloneTable publish create-if-absent names") {
    val src = java.nio.file.Paths.get(
      "src/main/scala/graft/operators/TxLog.scala")
    require(java.nio.file.Files.isRegularFile(src),
      s"$src not found: the suite runs from the repository root")
    val lines = scala.io.Source.fromFile(src.toFile, "UTF-8")
      .getLines().toVector
    // the enclosing top-level member of each line: the last `def`/`val`
    // at two-space indent above it
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val|lazy val) (\w+)""".r
    val owners = lines.scanLeft("")((cur, l) =>
      member.findFirstMatchIn(l).map(_.group(1)).getOrElse(cur)).tail
    def usersOf(token: String): Set[String] = lines.zip(owners).collect {
      case (l, o) if l.contains(token) && !l.trim.startsWith("*") &&
          !l.trim.startsWith("//") => o
    }.toSet
    assert(usersOf("MaxClaimRetries") === Set("MaxClaimRetries", "commit"))
    assert(usersOf("publishIfAbsent(") ===
      Set("publishIfAbsent", "commit", "checkpoint", "cloneTable"))
    assert(!lines.exists(_.contains("while (!publishIfAbsent")))
    // one clustered writer: no other member partitions by bucket or
    // fuses bucket stats
    assert(usersOf("partitionBy(\"__b\")") === Set("writeBuckets"))
    assert(usersOf("fuseBucketStats(") ===
      Set("fuseBucketStats", "writeBuckets"))
    // one pruned reader: the only other empty frame is changes'
    // metadata-only CDC window
    assert(usersOf("emptyRDD") === Set("prunedRead", "changes"))
  }

  test("one index table: only IndexTable writes, prunes, rewrites and " +
      "caches the persisted index tables") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    require(java.nio.file.Files.isDirectory(root),
      s"$root not found: the suite runs from the repository root")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector
    // (file stem, enclosing top-level member, code line) per line
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val|lazy val) (\w+)""".r
    val code = files.flatMap { f =>
      val lines = scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().toVector
      val owners = lines.scanLeft("")((cur, l) =>
        member.findFirstMatchIn(l).map(_.group(1)).getOrElse(cur)).tail
      val stem = f.getFileName.toString.stripSuffix(".scala")
      lines.zip(owners).collect {
        case (l, o) if !l.trim.startsWith("*") && !l.trim.startsWith("//") =>
          (stem, o, l)
      }
    }
    val indexFiles = Set("Dedup", "IvfAnn", "Pq", "Compaction", "IndexTable")
    def usersOf(token: String, in: Set[String] = indexFiles): Set[String] =
      code.collect {
        case (f, o, l) if in(f) && l.contains(token) => s"$f.$o"
      }.toSet
    val everywhere = files.map(_.getFileName.toString.stripSuffix(".scala")).toSet
    Seq("__shard", "__idshard", "__cell").foreach { c =>
      assert(usersOf(s"""partitionBy("$c")""", everywhere) === Set.empty, c)
    }
    assert(usersOf(".partitionBy(shardCol)") ===
      Set("IndexTable.write", "IndexTable.rewriteShards"))
    assert(usersOf("rewriteShards(") ===
      Set("IndexTable.takedown", "IndexTable.rewriteShards"))
    assert(usersOf(".isin(") === Set("IndexTable.read"))
    assert(usersOf("ConcurrentHashMap") === Set("IndexTable.metaCache"))
    assert(usersOf("emptyRDD") === Set("IndexTable.readAll"))
    // the removed pruning knob stays gone, from tests too
    val knob = "static" + "Prune"
    val src = java.nio.file.Paths.get("src")
    val knobUsers = java.nio.file.Files.walk(src).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => scala.io.Source.fromFile(f.toFile, "UTF-8").mkString
        .contains(knob)).toVector
    assert(knobUsers.isEmpty, knobUsers.mkString(", "))
  }
}

object TxLogSpec {
  // the write-hold gate of `whileWriting`: static, so the UDF reaches it
  // without serializing the latches into its closure
  @volatile var started = new CountDownLatch(0)
  @volatile var go = new CountDownLatch(0)
}
