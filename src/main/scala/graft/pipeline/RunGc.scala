package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.operators.Compaction

/** LAKE HOUSEKEEPING journey — the maintenance pass a long-lived
  * deployment schedules beside [[RunIntake]]/[[RunAudit]]: every
  * destroy-last swap ([[graft.operators.Compaction.replaceTable]] —
  * index compaction, growing-state merges) can leave
  * `.compact.tmp` / `.compact.old` siblings if a run dies mid-swap.
  * The swap contract guarantees a complete copy always survives; this
  * journey is the piece that RESTORES the invariant corpus-wide:
  *
  *   1. walk the lake root (bounded depth, DIRECTORY listings only —
  *      metadata-scale over tables, never a file scan) for swap
  *      leftovers;
  *   2. age-gate them (a `.tmp` younger than `--age-minutes` may
  *      belong to a swap IN FLIGHT — skipped, reported as `skipped-
  *      young`; the quiesce contract means anything older is a crash
  *      remnant);
  *   3. dry-run by default: report what WOULD happen; `--apply` runs
  *      [[graft.operators.Compaction.recoverTable]] per affected base
  *      dir (live authoritative → clear strays; live missing →
  *      restore `.old`, else `.tmp`);
  *   4. report compaction candidates: tables whose per-partition file
  *      counts exceed `--max-files` (the appends-accumulate problem
  *      [[graft.operators.Compaction.compactTable]] solves) — report
  *      only, compaction stays an explicit quiesced operation.
  *
  * Deterministic report (sorted paths), one JSON line per finding in
  * `gc_report.jsonl` under the root. Exit state is inspectable: a
  * re-run after `--apply` reports zero leftovers.
  *
  * Usage: runMain graft.pipeline.RunGc [rootDir]
  *          [--age-minutes N] [--max-files N] [--retain-versions N]
  *          [--checkpoint-after N] [--audit-stats]
  *          [--stats-overlap-ppm N] [--compact-below N] [--apply]
  * Defaults: /tmp/graft_intake, age 60, max-files 8, retain 10,
  * dry-run. `--retain-versions` widens/narrows the tx-table vacuum
  * window (versions whose data time-travel/CDC readers can still
  * reach); the enforced window is recorded in every tx finding so an
  * `--apply` run is auditable. `--audit-stats` adds the manifest-stats
  * HEALTH pass over tx tables ([[graft.operators.TxLog.statsAudit]]):
  * interleaved appends each spanning the key range degrade
  * `overlap_ppm` to k×1e6 (every range read and every merge scans
  * every dir — the skipping the table was clustered FOR is gone);
  * past `--stats-overlap-ppm` (default 3,000,000 = the domain tiled
  * 3× over) the finding recommends the matching maintenance rewrite
  * (`optimizeRange`/`optimizeZOrder` for value-statted keys,
  * `optimizeHash` for hash-statted string keys). Recommend-only, like
  * compaction-candidate: an optimize is a table-sized rewrite that
  * stays an explicit quiesced operation. `--compact-below N` watches
  * the tx small-dir TAIL instead (≥2 live dirs under N rows — the
  * debris streaming intakes and per-key merges accrete); because
  * [[graft.operators.TxLog.optimizeCompact]] is O(tail) rather than
  * O(table), `--apply` runs it in place under TxLog's own optimistic
  * claim. */
object RunGc {

  final case class Finding(path: String, kind: String, action: String)

  def main(args: Array[String]): Unit = {
    var ageMinutes = 60L
    var maxFiles = 8
    var retainVersions = 10
    var checkpointAfter = 32
    var auditStats = false
    var statsOverlapPpm = 3000000L
    var compactBelow = 0L
    var apply = false
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--age-minutes" =>
          require(i + 1 < args.length, "--age-minutes needs a number")
          ageMinutes = args(i + 1).toLong; i += 1
        case "--max-files" =>
          require(i + 1 < args.length, "--max-files needs a count")
          maxFiles = args(i + 1).toInt; i += 1
        case "--retain-versions" =>
          require(i + 1 < args.length, "--retain-versions needs a count")
          retainVersions = args(i + 1).toInt; i += 1
        case "--checkpoint-after" =>
          require(i + 1 < args.length, "--checkpoint-after needs a count")
          checkpointAfter = args(i + 1).toInt; i += 1
        case "--audit-stats" => auditStats = true
        case "--compact-below" =>
          require(i + 1 < args.length, "--compact-below needs a row count")
          compactBelow = args(i + 1).toLong; i += 1
        case "--stats-overlap-ppm" =>
          require(i + 1 < args.length, "--stats-overlap-ppm needs a ppm")
          statsOverlapPpm = args(i + 1).toLong; i += 1
        case "--apply" => apply = true
        case other => positional += other
      }
      i += 1
    }
    val root = positional.headOption.getOrElse("/tmp/graft_intake")
    val spark = graft.Sessions.local()
    val findings = run(spark, root, ageMinutes, maxFiles, apply,
      retainVersions = retainVersions, checkpointAfter = checkpointAfter,
      auditStats = auditStats, statsOverlapPpm = statsOverlapPpm,
      compactBelow = compactBelow)
    findings.foreach(f => println(s"[gc] ${f.kind} ${f.path} -> ${f.action}"))
    spark.stop()
  }

  /** Walk + recover + report. Returns the findings (also written as
    * `gc_report.jsonl` under `root`). */
  def run(spark: SparkSession, root: String, ageMinutes: Long = 60L,
      maxFiles: Int = 8, apply: Boolean = false,
      maxDepth: Int = 8, retainVersions: Int = 10,
      checkpointAfter: Int = 32, auditStats: Boolean = false,
      statsOverlapPpm: Long = 3000000L,
      compactBelow: Long = 0L): Seq[Finding] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath)) return Nil
    // an APPLYING gc mutates tables (recoverTable renames) — same
    // single-writer critical section as the journeys that write them.
    // Dry-run stays lease-free (read-only walk + report).
    if (apply)
      graft.operators.Lease.withLease(conf, root,
        graft.operators.Lease.defaultOwner())(_ => runInner(
          spark, root, ageMinutes, maxFiles, apply, maxDepth,
          retainVersions, checkpointAfter, auditStats, statsOverlapPpm,
          compactBelow, fs))
    else runInner(spark, root, ageMinutes, maxFiles, apply, maxDepth,
      retainVersions, checkpointAfter, auditStats, statsOverlapPpm,
      compactBelow, fs)
  }

  /** The nearest STRICT ancestor of `base` (below `root`) that looks
    * like a journey state dir — carries `_lease`, `schema.json`, or
    * `runs.jsonl`. RunIntake/RunSync lease `<stateDir>/_lease`, NOT
    * the gc root, so a root-only lease would not exclude a concurrent
    * intake on a child state dir (ADVICE r9): an applying gc must
    * take the child's own lease before renaming tables inside it. */
  private[pipeline] def nearestStateDir(fs: org.apache.hadoop.fs.FileSystem,
      root: String, base: String): Option[String] = {
    val rootU = new org.apache.hadoop.fs.Path(root).toUri.getPath
    var p = new org.apache.hadoop.fs.Path(base).getParent
    val markers = Seq("_lease", "schema.json", "runs.jsonl")
    while (p != null && p.toUri.getPath != rootU &&
        p.toUri.getPath.startsWith(rootU)) {
      if (markers.exists(m =>
          fs.exists(new org.apache.hadoop.fs.Path(p, m))))
        return Some(p.toUri.getPath)
      p = p.getParent
    }
    None
  }

  private def runInner(spark: SparkSession, root: String,
      ageMinutes: Long, maxFiles: Int, apply: Boolean, maxDepth: Int,
      retainVersions: Int, checkpointAfter: Int, auditStats: Boolean,
      statsOverlapPpm: Long, compactBelow: Long,
      fs: org.apache.hadoop.fs.FileSystem): Seq[Finding] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val cutoff = System.currentTimeMillis() - ageMinutes * 60000L

    // bounded-depth directory walk; stop descending once inside a
    // parquet table (its children are partition dirs / data files)
    val leftovers = scala.collection.mutable.Buffer[(String, Long)]()
    val tables = scala.collection.mutable.Buffer[String]()
    val txTables = scala.collection.mutable.Buffer[String]()
    def walk(p: org.apache.hadoop.fs.Path, depth: Int): Unit = {
      if (depth > maxDepth) return
      val children = fs.listStatus(p)
      // transactional tables are leaves: their data dirs are commit-
      // addressed (reachability comes from the LOG, not the listing),
      // so the generic orphan rules must not touch them — TxLog's own
      // vacuum plan is the authority
      if (children.exists(c =>
          c.isDirectory && c.getPath.getName == "_txlog")) {
        txTables += p.toUri.getPath
        return
      }
      val isTable = children.exists { c =>
        val n = c.getPath.getName
        n == "_SUCCESS" || (c.isFile && n.endsWith(".parquet"))
      }
      if (isTable) tables += p.toUri.getPath
      children.filter(_.isDirectory).foreach { c =>
        val name = c.getPath.getName
        if (name.endsWith(".compact.tmp") || name.endsWith(".compact.old"))
          leftovers += ((c.getPath.toUri.getPath, c.getModificationTime))
        else if (!isTable) walk(c.getPath, depth + 1)
      }
    }
    walk(rootPath, 0)

    val swapFindings = leftovers.sortBy(_._1).map { case (path, mtime) =>
      val kind =
        if (path.endsWith(".compact.tmp")) "swap-leftover-tmp"
        else "swap-leftover-old"
      val base = path.stripSuffix(".compact.tmp").stripSuffix(".compact.old")
      val action =
        if (mtime > cutoff) "skipped-young"
        else if (!apply) "would-recover"
        else nearestStateDir(fs, root, base) match {
          // the table lives inside a journey state dir whose writers
          // lease <stateDir>/_lease, not the gc root — take THAT
          // lease for the rename; a live intake there means the
          // "leftover" may be its in-flight swap: skip, don't race
          case Some(sd) =>
            try graft.operators.Lease.withLease(
                spark.sparkContext.hadoopConfiguration, sd,
                graft.operators.Lease.defaultOwner())(_ =>
              Compaction.recoverTable(spark, base))
            catch {
              case e: graft.operators.Lease.LeaseHeld =>
                s"skipped-lease-held-by-${e.holder}"
            }
          case None => Compaction.recoverTable(spark, base)
        }
      Finding(path, kind, action)
    }.toSeq
    // one base dir can surface via both siblings; recoverTable is
    // idempotent ("clean" the second time), so duplicates are safe
    val fileFindings = tables.sorted.flatMap { t =>
      val counts = Compaction.partFileCounts(spark, t)
      val worst = if (counts.isEmpty) 0 else counts.values.max
      if (worst > maxFiles)
        Some(Finding(t, "compaction-candidate",
          s"max-files-per-partition=$worst"))
      else None
    }.toSeq
    // tx tables: report (and under --apply, vacuum) data dirs no
    // retained reader can reach, under the SAME age gate as the other
    // orphan classes — a manifest-less dir younger than the cutoff
    // may be an in-flight writer's. No lease needed: commits are
    // atomic and vacuum's grace window already excludes live writers.
    val txFindings = txTables.sorted.flatMap { t =>
      val graceMs = ageMinutes * 60000L
      // checkpoint cadence: the snapshot fold reads O(commits since
      // checkpoint) manifests (measured linear, Scale10 txlog_fold),
      // so housekeeping checkpoints once the gap passes the threshold
      // — under --apply the checkpoint is written here (racing
      // checkpointers are harmless: create-if-absent, identical fold)
      val head = graft.operators.TxLog.latestVersion(spark, t)
      val since = head -
        graft.operators.TxLog.lastCheckpoint(spark, t).getOrElse(0L)
      val ckptFinding =
        if (since <= checkpointAfter) Seq.empty
        else Seq(Finding(t, "tx-checkpoint-due",
          if (!apply) s"would-checkpoint-gap-$since"
          else {
            graft.operators.TxLog.checkpoint(spark, t)
            s"checkpointed-at-$head-gap-$since"
          }))
      val plan = graft.operators.TxLog.vacuumCandidates(
        spark, t, retainVersions = retainVersions, graceMs = graceMs)
      val applied =
        if (apply && plan.nonEmpty)
          graft.operators.TxLog.vacuum(spark, t,
            retainVersions = retainVersions, graceMs = graceMs).toSet
        else Set.empty[String]
      // manifest-stats HEALTH (--audit-stats): overlap_ppm ≈ k×1e6
      // after k fully-interleaved appends — merge/range reads prune
      // nothing until the next optimize. Manifest arithmetic only
      // (statsAudit folds the log; no data scan), metadata-sized rows
      // collected per table — one PER STAT KIND, so a half-migrated
      // layout (value-statted dirs beside hash-clustered ones)
      // surfaces a finding for EACH degraded side. Recommend-only:
      // the fix is a table-sized rewrite a human schedules quiesced.
      val auditFinding =
        if (!auditStats) Seq.empty
        else graft.operators.TxLog.statsColumn(spark, t).toSeq.flatMap {
          keyCol =>
            graft.operators.TxLog.statsAudit(spark, t, keyCol)
              .collect().toSeq.flatMap { r =>
                val (stat, ppm) = (r.getString(0), r.getLong(4))
                // the #nulls row's ppm is a DATA property (share of
                // dirs that hold nulls), not a layout defect an
                // optimize can fix — never a degradation finding
                if (stat.endsWith("#nulls") || ppm <= statsOverlapPpm)
                  Seq.empty
                else {
                  val fix = if (stat == keyCol) "optimizeRange-or-zorder"
                            else "optimizeHash"
                  Seq(Finding(t, "tx-stats-degraded",
                    s"recommend-$fix-on-$stat-overlap-${ppm}ppm"))
                }
              }
        }
      // small-dir TAIL (--compact-below N): streaming intakes and
      // per-key merges accrete tiny dirs whose per-dir manifest and
      // task overhead grows with COUNT, not bytes. Metadata-only scan
      // (liveFiles reads manifests); unlike the optimize family this
      // fix is O(tail), so --apply runs it here — TxLog's optimistic
      // claim handles racing writers, no lease needed
      val compactFinding =
        if (compactBelow <= 0L) Seq.empty
        else {
          val live = graft.operators.TxLog.liveFiles(spark, t)._2
          val small = live.count(_.rows < compactBelow)
          if (small < 2) Seq.empty
          else Seq(Finding(t, "tx-small-dirs",
            if (!apply)
              s"would-compact-$small-of-${live.size}-dirs-below-" +
                s"$compactBelow-rows"
            else {
              val v = graft.operators.TxLog.optimizeCompact(spark, t,
                targetRows = compactBelow, conflictRetries = 2)
              s"compacted-$small-dirs-at-v$v"
            }))
        }
      // stale clone markers: a deleted fork's registration pins
      // nothing but lingers as debris — report it, remove under
      // --apply (live clones' pins are never touched by construction)
      val staleMarkers =
        if (!apply)
          graft.operators.TxLog.staleCloneMarkers(spark, t).map {
            case (_, dead) =>
              Finding(t, "tx-stale-clone-marker",
                s"would-drop-marker-for-$dead")
          }
        else graft.operators.TxLog.dropStaleCloneMarkers(spark, t).map {
          dead => Finding(t, "tx-stale-clone-marker",
            s"dropped-marker-for-$dead")
        }
      // the enforced window rides in the action so an --apply run
      // RECORDS what it deleted against (an under-retained vacuum is
      // only diagnosable from its report)
      ckptFinding ++ auditFinding ++ compactFinding ++ staleMarkers ++
        plan.map(rel => Finding(s"$t/$rel",
        "tx-unreachable-data",
        if (!apply) s"would-vacuum-retain-$retainVersions"
        else if (applied.contains(rel)) s"vacuumed-retain-$retainVersions"
        else "skipped"))
    }.toSeq
    val all = swapFindings ++ fileFindings ++ txFindings
    val json = all.map(f =>
        s"""{"path":"${f.path}","kind":"${f.kind}","action":"${f.action}"}""")
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "gc_report.jsonl"), json)
    all
  }
}
