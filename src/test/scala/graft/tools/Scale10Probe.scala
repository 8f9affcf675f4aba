package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog

/** Scale evidence ONE DECADE past the harness maximum (r9 verdict
  * item 8): ScaleProbe stops at sf0.1 because that is the largest
  * driver-generated drop; this probe synthesizes a ~10× corpus
  * (≈6M lineitem rows) from salted sf0.1 copies and re-runs the same
  * per-family representatives at sf0.1 → sf1, reporting min-of-N
  * floor ratios. A family whose ratio is ≲ 10 scales at-worst-
  * linearly through the NEW decade.
  *
  * Salting (plan/shape-faithful, the verdict's own recipe):
  *  - fact/entity tables union 10 copies with every KEY column
  *    offset by copy × (max+1), so each copy is a self-consistent
  *    shard — orders keep their lineitems, joins fan out exactly as
  *    a real 10× corpus;
  *  - dimension tables (nation, region) stay as-is (a bigger corpus
  *    does not grow the nation list) — nationkey references remain
  *    valid in every copy;
  *  - document TEXT is word-salted per copy (every token suffixed
  *    with the copy tag), so the vocabulary, n-gram, chunk and span
  *    spaces grow ×10 like genuinely new content would — without
  *    this, 10 verbatim copies would drive the dedup families into
  *    an all-duplicate regime no real corpus shows;
  *  - embeddings get a per-copy deterministic component offset (new
  *    ids, perturbed vectors — distinct near-neighbor structure).
  *
  *   sbt "Test/runMain graft.tools.Scale10Probe"           # build + run
  *   sbt "Test/runMain graft.tools.Scale10Probe --rebuild" # force re-synth
  */
object Scale10Probe {
  val synthDir = "/tmp/graft_sf1"
  val copies = 10

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    val src = "/root/testdata/sf0.1"

    if (args.contains("--rebuild") ||
        !new java.io.File(s"$synthDir/lineitem.parquet").exists())
      synthesize(spark, src)

    val reps = 3
    val defaultPicks = Seq("q19_agg_pricing", "q20_star_join", "x03_minhash_lsh",
      "x06_knn_cosine", "x10_quality", "x44_chunk_dedup",
      "x82_substring_dedup", "x88_bpe_train", "x30_sequence_packing",
      "x97_lm_score", "x114_kmv_distinct", "x116_overlap_matrix",
      "x153_nb_classify",
      // r17 evidence rows: the two families the r16 driver bench
      // inflated (x34 13–18s vs a 0.69s floor; x10 1.1–2.1s vs
      // 0.14) — committed scale bands adjudicate the next inflation
      // from the artifact alone
      "x34_semantic_dedup")
    // bare args (non --flags) narrow the run to those families
    // media rows are custom thunks, not catalog queries — route their
    // labels past the catalog pick loop
    val mediaLabels = Set("audio_vad_fullwidth", "image_ahash_neardup",
      "txlog_fold", "tx_merge", "tx_merge_str", "tx_dv", "tx_compact",
      "tx_restore", "tx_delete_where", "tx_null_probe", "tx_log_depth",
      "tx_bloom")
    val picks = {
      val only = args.filterNot(_.startsWith("--")).toSeq
        .filterNot(mediaLabels)
      if (only.nonEmpty || args.exists(mediaLabels)) only
      else defaultPicks
    }
    def floor(name: String, d: String): Double = {
      val q = Catalog.entries.find(_.name == name).get
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        q.build(spark, d).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    spark.read.parquet(s"$src/region.parquet").count()
    Console.err.println(
      f"[scale10] ${"query"}%-24s ${"sf0.1"}%8s ${"sf1"}%8s ${"ratio"}%6s  (rows x10)")
    picks.foreach { n =>
      val a = floor(n, src)
      val b = floor(n, synthDir)
      Console.err.println(f"[scale10] $n%-24s $a%8.3f $b%8.3f ${b / a}%6.2f")
    }
    // media families at FULL corpus width (the catalog queries cap
    // their synth corpora for oracle practicality — see ScaleProbe):
    // documents ×10 here, so these measure the decode/window/LSH data
    // terms one decade past the harness maximum
    val runAll = args.filterNot(_.startsWith("--")).isEmpty
    if (runAll || args.contains("audio_vad_fullwidth") ||
        args.contains("image_ahash_neardup")) {
      def mediaFloor(label: String,
          f: DataFrame => DataFrame): Unit = {
        def one(d: String): Double = (1 to reps).map { _ =>
          val docs = spark.read.parquet(s"$d/documents.parquet")
            .select("doc_id")
          val t0 = System.nanoTime()
          f(docs).count()
          (System.nanoTime() - t0) / 1e9
        }.min
        val a = one(src)
        val b = one(synthDir)
        Console.err.println(
          f"[scale10] $label%-24s $a%8.3f $b%8.3f ${b / a}%6.2f")
      }
      if (runAll || args.contains("audio_vad_fullwidth"))
      mediaFloor("audio_vad_fullwidth", docs =>
        graft.operators.Audio.vadSegments(graft.operators.Audio
          .audioWindows(spark, graft.operators.Audio
            .packVadWavs(spark, docs, "doc_id"))))
      // band-bits scale with log2(N) (the SCALE.md rule): 16-bit
      // bands give 65k buckets/band, so 50k signatures stay under the
      // bucket cap — Hamming-<=2 pairs still agree on >=2 of 4 bands
      if (runAll || args.contains("image_ahash_neardup"))
      mediaFloor("image_ahash_neardup", { docs =>
        val n = docs.count()
        val sigs = graft.operators.Multimodal.imageAHash(spark,
          graft.operators.Multimodal.packImageCopies(spark, docs,
            "doc_id", math.max(1L, n / 2)))
        graft.operators.Dedup.hammingNearDupPairs(sigs, 4, 16)
      })
    }
    // TxLog METADATA scaling: snapshot resolution cost vs COMMIT
    // COUNT (the axis that grows on a long-lived table — data dirs
    // are opaque to the fold). Expect ~linear in commits without a
    // checkpoint, and FLAT after one (fold = one checkpoint manifest
    // + zero commits) — the numbers behind the "readers fold from the
    // latest checkpoint" claim.
    if (runAll || args.contains("txlog_fold")) {
      import graft.operators.TxLog
      val rng = spark.range(16).selectExpr("id", "CAST(id AS STRING) AS v")
      def build(commits: Int): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_tx$commits").toString + "/t"
        (1 to commits).foreach(_ => TxLog.append(spark, root, rng, Some("id")))
        root
      }
      def foldFloor(root: String): Double = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        TxLog.liveFiles(spark, root)
        (System.nanoTime() - t0) / 1e9
      }.min
      val r100 = build(100); val r1000 = build(1000)
      val a = foldFloor(r100); val b = foldFloor(r1000)
      Console.err.println(
        f"[scale10] txlog_fold_100v1000c   $a%8.3f $b%8.3f ${b / a}%6.2f")
      TxLog.checkpoint(spark, r1000)
      val c = foldFloor(r1000)
      Console.err.println(
        f"[scale10] txlog_fold_1000c_ckpt  $b%8.3f $c%8.3f ${c / b}%6.2f  (post-checkpoint)")
    }
    // Keyed MERGE cost vs TABLE SIZE at a FIXED narrow batch (r13):
    // the claim under test is that the manifest prunes the merge's
    // write path to the touched dirs, so a table 10× larger costs the
    // same — the touched-dir rewrite and the batch write are the only
    // data terms. 64 range-clustered dirs either way; the 100-key
    // batch spans ~1 dir.
    if (runAll || args.contains("tx_merge")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit}
      def build(rows: Long): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_merge$rows").toString + "/t"
        val wide = spark.range(0, rows).select(col("id"),
          concat(lit("payload-"), col("id")).as("text"))
        TxLog.appendPartitioned(spark, root, wide, "id", buckets = 64)
        root
      }
      def mergeFloor(root: String): (Double, Long) = (1 to reps).map { _ =>
        val batch = spark.range(0, 100).select(col("id"),
          concat(lit("upd-"), col("id")).as("text"))
        val t0 = System.nanoTime()
        val v = TxLog.merge(spark, root, batch, "id")
        val sec = (System.nanoTime() - t0) / 1e9
        val touched = TxLog.history(spark, root)
          .where(col("version") === v).head().getAs[Long]("n_removes")
        (sec, touched)
      }.minBy(_._1)
      val (a, ta) = mergeFloor(build(1000000L))
      val (b, tb) = mergeFloor(build(10000000L))
      Console.err.println(
        f"[scale10] tx_merge_1Mv10M        $a%8.3f $b%8.3f ${b / a}%6.2f" +
          f"  (touched $ta%d vs $tb%d dirs of 64 — table size is not a term)")
    }
    // STRING-keyed MERGE cost vs table size (r14): the same fixed-
    // narrow-batch claim as tx_merge, but on a key with NO value span
    // (doc ids) — pruning rides the portable-hash stats instead. The
    // honest 100 TB layout rule applies: dir size stays bounded, so
    // bucket COUNT scales with the table (64 at 1M rows, 640 at 10M —
    // ~15.6k rows/dir either way); a hash-key batch has no locality,
    // so it stabs ~one bucket per distinct key, and the merge rewrites
    // K fixed-size dirs NO MATTER the table size — flat.
    if (runAll || args.contains("tx_merge_str")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit, lpad}
      def key(c: org.apache.spark.sql.Column) =
        concat(lit("doc-"), lpad(c.cast("string"), 9, "0"))
      def build(rows: Long): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_smerge$rows").toString + "/t"
        val wide = spark.range(0, rows).select(key(col("id")).as("key"),
          concat(lit("payload-"), col("id")).as("text"))
        TxLog.append(spark, root, wide, Some("key"))
        TxLog.optimizeHash(spark, root, "key",
          buckets = (rows / 15625L).toInt)
        root
      }
      def mergeFloor(root: String, rows: Long): (Double, Long) = {
        val runs = (1 to reps).map { _ =>
          val batch = spark.range(0, 10)
            .select(key(col("id") * (rows / 10L) + 7L).as("key"),
              concat(lit("upd-"), col("id")).as("text"))
          val t0 = System.nanoTime()
          val v = TxLog.merge(spark, root, batch, "key")
          val sec = (System.nanoTime() - t0) / 1e9
          val touched = TxLog.history(spark, root)
            .where(col("version") === v).head().getAs[Long]("n_removes")
          (sec, touched)
        }
        // time = min over reps; touched = rep 1's structural count
        // (later reps re-merge the same keys, which rep 1 co-located
        // into ONE output dir — an honest but uninteresting 1)
        (runs.map(_._1).min, runs.head._2)
      }
      val (a, ta) = mergeFloor(build(1000000L), 1000000L)
      val (b, tb) = mergeFloor(build(10000000L), 10000000L)
      Console.err.println(
        f"[scale10] tx_merge_str_1Mv10M    $a%8.3f $b%8.3f ${b / a}%6.2f" +
          f"  (touched $ta%d of 64 vs $tb%d of 640 hash buckets — " +
          "table size is not a term)")
    }
    // PREDICATE DELETE cost vs table size (r15): the SQL-door
    // `DELETE FROM t WHERE lo <= id < hi` lowers to deleteWhere under
    // the predicate's implied bounds, so a fixed 100-key band must
    // rewrite ~one 64th of the table's dirs NO MATTER the table size
    // — the touched-dir rewrite is the only data term. Disjoint band
    // per rep (a repeated band would re-touch the rep-1 output dir).
    if (runAll || args.contains("tx_delete_where")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit}
      def build(rows: Long): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_delw$rows").toString + "/t"
        val wide = spark.range(0, rows).select(col("id"),
          concat(lit("payload-"), col("id")).as("text"))
        TxLog.appendPartitioned(spark, root, wide, "id", buckets = 64)
        root
      }
      def delFloor(root: String): (Double, Long) = (1 to reps).map { r =>
        val lo = 1000L * r
        val t0 = System.nanoTime()
        val v = TxLog.deleteWhere(spark, root,
          col("id") >= lo && col("id") < lo + 100L,
          Seq(("id", lo, lo + 100L)))
        val sec = (System.nanoTime() - t0) / 1e9
        val touched = TxLog.history(spark, root)
          .where(col("version") === v).head().getAs[Long]("n_removes")
        (sec, touched)
      }.minBy(_._1)
      val (a, ta) = delFloor(build(1000000L))
      val (b, tb) = delFloor(build(10000000L))
      Console.err.println(
        f"[scale10] tx_delete_where_1Mv10M $a%8.3f $b%8.3f ${b / a}%6.2f" +
          f"  (touched $ta%d vs $tb%d of 64 dirs — bounds prune the " +
          "write path)")
    }
    // IS NULL probe vs table size (r15): the per-dir null counters
    // skip every null-free dir at the manifest, so a probe against a
    // table with ONE small null-carrying dir costs the same whether
    // the null-free bulk is 1M or 10M rows — flat, not table-sized.
    if (runAll || args.contains("tx_null_probe")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      def build(rows: Long): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_nullp$rows").toString + "/t"
        val bulk = spark.range(0, rows).select(col("id"),
          (col("id") * 3L).as("score"))
        TxLog.appendPartitioned(spark, root, bulk, "id", buckets = 64,
          extraStats = Seq("score"))
        val tail = spark.range(rows, rows + 10000L).select(col("id"),
          when(col("id") % 10L === 0L, lit(null).cast("long"))
            .otherwise(col("id") * 3L).as("score"))
        TxLog.appendCols(spark, root, tail, Seq("id", "score"))
        root
      }
      def probeFloor(root: String): Double = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        TxLog.snapshotNulls(spark, root, "score").count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val a = probeFloor(build(1000000L))
      val b = probeFloor(build(10000000L))
      Console.err.println(
        f"[scale10] tx_null_probe_1Mv10M   $a%8.3f $b%8.3f ${b / a}%6.2f" +
          "  (the null-free bulk never scans — 1 dir read either way)")
    }
    // COMMIT-LOG DEPTH vs read cost (r16 — the last unmeasured tx
    // axis): the fold starts at the newest checkpoint, so
    // snapshot/detail/changes cost O(commits since checkpoint) + one
    // log LISTING, never O(history). Two tables with the SAME data
    // (100k rows) and the same maintenance cadence (checkpoint every
    // 32 commits, compact every 256 — RunGc's tx-checkpoint-due /
    // --compact-below policy) but 1k vs 10k append commits must read
    // the same ≤32 manifests: flat floors prove the fold never pays
    // the 9k extra history. Tables cache under stable /tmp roots —
    // the 10k build is ~10 min of tiny commits, once per host.
    if (runAll || args.contains("tx_log_depth")) {
      import graft.operators.TxLog
      def build(commits: Int): String = {
        val root = s"/tmp/graft_s10_depth_$commits/t"
        if (TxLog.latestVersion(spark, root) >= commits) {
          // cached from a pre-hint build: one compact + checkpoint
          // hints the log (the documented migration for any
          // pre-hint-era table) AND normalizes the live-set shape so
          // the snap floors compare fold cost, not leftover small-dir
          // tails (the compact-cadence remainder differs between the
          // two tables)
          TxLog.optimizeCompact(spark, root, 1000000L)
          TxLog.checkpoint(spark, root)
          root
        } else {
          val dir = new java.io.File(s"/tmp/graft_s10_depth_$commits")
          if (dir.exists())
            org.apache.commons.io.FileUtils.deleteDirectory(dir)
          val per = 100000 / commits
          var i = 0
          while (i < commits) {
            TxLog.append(spark, root,
              spark.range(i.toLong * per, (i + 1).toLong * per, 1L, 1)
                .selectExpr("id", "id * 3 AS score"), Some("id"))
            i += 1
            if (i % 256 == 0) TxLog.optimizeCompact(spark, root, 1000000L)
            if (i % 32 == 0) TxLog.checkpoint(spark, root)
          }
          root
        }
      }
      def floors(root: String): (Double, Double, Double, Double, Double) = {
        // the measured CDC window is one fixed small append — NOT the
        // normalization compact (whose dir count differs between the
        // two tables by the cadence remainder)
        TxLog.append(spark, root,
          spark.range(0L, 10L, 1L, 1)
            .selectExpr("id", "id * 3 AS score"), Some("id"))
        val head = TxLog.latestVersion(spark, root)
        def f(op: => Unit): Double = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); op; (System.nanoTime() - t0) / 1e9
        }.min
        (f(TxLog.detail(spark, root).head()),
          f(TxLog.latestVersion(spark, root)),
          f(TxLog.changes(spark, root, head - 1, head).count()),
          f(TxLog.snapshot(spark, root).count()),
          // recent-timestamp TIMESTAMP AS OF, COLD manifest cache per
          // rep: checkpoint-anchored resolution must read one anchor
          // + O(since-checkpoint) commits — the r16 verdict's last
          // O(history) read path, now measured on this axis
          f { TxLog.clearManifestCache()
            TxLog.versionAtTime(spark, root, System.currentTimeMillis()) })
      }
      val (da, la, ca, sa, ta) = floors(build(1000))
      val (db, lb, cb, sb, tb) = floors(build(10000))
      Console.err.println(
        f"[scale10] tx_depth_detail_1kv10k $da%8.3f $db%8.3f ${db / da}%6.2f" +
          "  (full fold: O(since-checkpoint) manifests, zero listings)")
      Console.err.println(
        f"[scale10] tx_depth_latest_1kv10k $la%8.3f $lb%8.3f ${lb / la}%6.2f" +
          "  (hint + O(gap) forward exists-probes)")
      Console.err.println(
        f"[scale10] tx_depth_changes_1kv10k$ca%8.3f $cb%8.3f ${cb / ca}%6.2f" +
          "  (one manifest + one window's dirs)")
      Console.err.println(
        f"[scale10] tx_depth_snap_1kv10k   $sa%8.3f $sb%8.3f ${sb / sa}%6.2f" +
          "  (fold + compacted live set — history depth is not a term)")
      Console.err.println(
        f"[scale10] tx_depth_astime_1kv10k$ta%8.3f $tb%8.3f ${tb / ta}%6.2f" +
          "  (ckpt-anchored TIMESTAMP AS OF: one anchor + since-ckpt walk)")
    }
    // PER-DIR BLOOM point reads vs table size (r17): `url = '…'` on a
    // doc_id-clustered table has no usable span — pre-bloom it scans
    // every dir, so its cost is LINEAR in table size. With the 2 KB
    // blocked Bloom per dir the probe admits ~1 + fp·dirs dirs
    // (fp ≈ 2e-4), so the point read must be FLAT at 10× the dirs
    // while the full-scan control grows ~10×. Tables cache under
    // stable /tmp roots (32 vs 320 one-dir appends).
    if (runAll || args.contains("tx_bloom")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit, pmod}
      def build(nDirs: Int): String = {
        val root = s"/tmp/graft_s10_bloom_$nDirs/t"
        if (TxLog.latestVersion(spark, root) >= nDirs) root
        else {
          val dir = new java.io.File(s"/tmp/graft_s10_bloom_$nDirs")
          if (dir.exists())
            org.apache.commons.io.FileUtils.deleteDirectory(dir)
          var i = 0
          while (i < nDirs) {
            TxLog.appendCols(spark, root,
              spark.range(i * 2000L, (i + 1) * 2000L, 1L, 1)
                .select(col("id"),
                  concat(lit("https://h-"), pmod(col("id"), lit(977L))
                    .cast("string"), lit(".example/d/"),
                    col("id").cast("string")).as("url")),
              Seq("id"), bloomCols = Seq("url"))
            i += 1
          }
          root
        }
      }
      def floors(root: String): (Double, Double) = {
        val target = "https://h-356.example/d/3287" // lives in dir 1
        def f(op: => Unit): Double = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); op; (System.nanoTime() - t0) / 1e9
        }.min
        (f(assert(
          TxLog.snapshotPoint(spark, root, "url", target).count() == 1L)),
          f(TxLog.snapshot(spark, root)
            .where(col("url") === target).count()))
      }
      val (pa, sa) = floors(build(32))
      val (pb, sb) = floors(build(320))
      Console.err.println(
        f"[scale10] tx_bloom_point_32v320 $pa%8.3f $pb%8.3f ${pb / pa}%6.2f" +
          "  (bloom stabs ~1 dir — flat at 10x the dirs)")
      Console.err.println(
        f"[scale10] tx_bloom_scan_32v320  $sa%8.3f $sb%8.3f ${sb / sa}%6.2f" +
          "  (the full-scan control pays the 10x)")
    }
    // Tombstone READ TAX vs table size: the mask is a broadcast
    // anti-join against a constant (takedown-sized) key set, so a
    // masked snapshot should scale exactly like an unmasked one — the
    // overhead is the broadcast, not a data term.
    if (runAll || args.contains("tx_dv")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit}
      def build(rows: Long, masked: Boolean): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_dv$rows$masked").toString + "/t"
        val wide = spark.range(0, rows).select(col("id"),
          concat(lit("payload-"), col("id")).as("text"))
        TxLog.appendPartitioned(spark, root, wide, "id", buckets = 64)
        if (masked) TxLog.tombstone(spark, root,
          spark.range(0, 100).select((col("id") * (rows / 100)).as("id")),
          "id")
        root
      }
      def snapFloor(root: String): Double = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // id >= 0 blocks the metadata-only count path: both sides pay
        // a genuine scan, so the ratio isolates the mask, not a
        // footer-count shortcut on the unmasked side
        TxLog.snapshot(spark, root).where(col("id") >= 0L).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val m1 = snapFloor(build(1000000L, masked = true))
      val m10 = snapFloor(build(10000000L, masked = true))
      val u10 = snapFloor(build(10000000L, masked = false))
      Console.err.println(
        f"[scale10] tx_dv_masked_1Mv10M    $m1%8.3f $m10%8.3f ${m10 / m1}%6.2f" +
          f"  (unmasked 10M $u10%7.3f — mask tax ${m10 / u10}%5.2fx)")
    }
    // COMPACTION cost vs table size (r14): optimizeCompact reads only
    // the live dirs under targetRows, so packing a FIXED 20-dir small
    // tail must cost the same whether it sits beside 1M or 10M base
    // rows — O(tail), never O(table). The base stays range-clustered
    // (64/640 buckets, ~15.6k rows/dir, all >= target) so none of it
    // qualifies; each rep re-seeds a fresh tail on the same base.
    if (runAll || args.contains("tx_compact")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit}
      def build(rows: Long): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_compact$rows").toString + "/t"
        val wide = spark.range(0, rows).select(col("id"),
          concat(lit("payload-"), col("id")).as("text"))
        TxLog.appendPartitioned(spark, root, wide, "id",
          buckets = (rows / 15625L).toInt)
        root
      }
      def compactFloor(root: String, rows: Long): (Double, Long) =
        (1 to reps).map { _ =>
          (0 until 20).foreach(k => TxLog.append(spark, root,
            spark.range(rows + k * 1000L, rows + k * 1000L + 1000L)
              .select(col("id"),
                concat(lit("tail-"), col("id")).as("text")),
            Some("id")))
          val t0 = System.nanoTime()
          val v = TxLog.optimizeCompact(spark, root, targetRows = 5000L)
          val sec = (System.nanoTime() - t0) / 1e9
          val packed = TxLog.history(spark, root)
            .where(col("version") === v).head().getAs[Long]("n_removes")
          (sec, packed)
        }.minBy(_._1)
      val (a, pa) = compactFloor(build(1000000L), 1000000L)
      val (b, pb) = compactFloor(build(10000000L), 10000000L)
      Console.err.println(
        f"[scale10] tx_compact_1Mv10M     $a%8.3f $b%8.3f ${b / a}%6.2f" +
          f"  (packed $pa%d vs $pb%d tail dirs beside 64 vs 640 base " +
          "buckets — table size is not a term)")
    }
    // RESTORE cost vs table size (r14): with no post-target tombstone
    // the restore commit is pure manifest arithmetic — re-add the
    // target dirs, remove the extras — so rolling back a botched
    // append must cost the same at 1M and 10M base rows (zero data
    // bytes move at either size).
    if (runAll || args.contains("tx_restore")) {
      import graft.operators.TxLog
      import org.apache.spark.sql.functions.{col, concat, lit}
      def restoreFloor(rows: Long): Double = {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft_s10_restore$rows").toString + "/t"
        val wide = spark.range(0, rows).select(col("id"),
          concat(lit("payload-"), col("id")).as("text"))
        TxLog.appendPartitioned(spark, root, wide, "id",
          buckets = (rows / 15625L).toInt)
        val target = TxLog.latestVersion(spark, root)
        (1 to reps).map { _ =>
          TxLog.append(spark, root, spark.range(0, 1000L)
            .select((col("id") + 2L * rows).as("id"),
              concat(lit("junk-"), col("id")).as("text")), Some("id"))
          val t0 = System.nanoTime()
          TxLog.restore(spark, root, target)
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      val a = restoreFloor(1000000L)
      val b = restoreFloor(10000000L)
      Console.err.println(
        f"[scale10] tx_restore_1Mv10M     $a%8.3f $b%8.3f ${b / a}%6.2f" +
          "  (metadata-only rollback — zero data bytes at either size)")
    }
    spark.stop()
  }

  /** Union `copies` salted copies of `df`, remapping each column in
    * `keys` by copy × (max+1) of that column in the base table. */
  private def salt(df: DataFrame, keys: Seq[String],
      extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
    val strides = keys.map { k =>
      k -> (df.agg(max(col(k))).collect()(0).getLong(0) + 1L)
    }.toMap
    (0 until copies).map { i =>
      val remapped = keys.foldLeft(df) { (d, k) =>
        d.withColumn(k, col(k) + lit(i * strides(k)))
      }
      extra(remapped, i)
    }.reduce(_.unionByName(_))
  }

  private def synthesize(spark: SparkSession, src: String): Unit = {
    new java.io.File(synthDir).mkdirs()
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$synthDir/$t.parquet")
      Console.err.println(s"[scale10] synthesized $t")
    }
    // dims stay as-is: nationkey references remain valid per copy
    write(read("nation"), "nation")
    write(read("region"), "region")
    write(salt(read("customer"), Seq("c_custkey")), "customer")
    write(salt(read("supplier"), Seq("s_suppkey")), "supplier")
    write(salt(read("part"), Seq("p_partkey")), "part")
    write(salt(read("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(salt(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // word-salt the text so the token/gram/chunk/span spaces grow ×10
    // (copy 0 keeps the original corpus verbatim)
    write(salt(read("documents"), Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1q$i"))),
      "documents")
    write(salt(read("embeddings"), Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"),
          x => x + lit((i * 7 % 13) * 0.003f)))),
      "embeddings")
    // events only matters to the streaming families (not probed here)
    // but keep the dir self-contained for ad-hoc runs
    write(spark.read.parquet(s"$src/events.parquet"), "events")
  }
}
