package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for the persisted, partition-appended index
  * layouts ([[IndexTable]]s: [[Dedup.buildFuzzyIndex]] +
  * [[Dedup.appendToFuzzyIndex]], [[IvfAnn.buildIndexInt]] +
  * [[IvfAnn.appendToIndexInt]], [[Dedup.buildSpanIndex]]): every
  * append adds at least one parquet file to each shard/cell partition
  * it touches, so a long-lived growing index accumulates files whose
  * per-file overhead (footer reads, task scheduling) eventually
  * dominates probe latency — the standard lake-maintenance problem
  * (Delta/Iceberg OPTIMIZE), solved here with plain parquet.
  *
  * Mechanics: read the table, `repartition(partitionCol)` so each
  * partition's rows land in exactly ONE task (one output file per
  * partition dir), write to a sibling `<dir>.compact.tmp`, then swap
  * via two renames (live → `<dir>.compact.old`, tmp → live) and only
  * then delete the `.old` copy — destroy-last, so a crash at ANY
  * point leaves a complete copy of the table under a deterministic
  * name (live, `.tmp`, or `.old`), never a window with no table.
  *
  * Contract:
  *  - row-level content is IDENTICAL before/after (spec-asserted);
  *    only file layout changes — probes, appends and searches are
  *    unaffected because nothing reads file boundaries;
  *  - the swap is NOT atomic (two renames): this is a MAINTENANCE
  *    operation — quiesce probes/appends for the table being swapped,
  *    exactly as for any in-place parquet overwrite. Recovery after a
  *    crash: if live exists, delete stray `.tmp`/`.old` siblings; if
  *    live is missing, rename whichever of `.old` (pre-swap content)
  *    or `.tmp` (compacted content — equivalent rows) survives into
  *    place. On object stores without cheap rename, prefer
  *    compact-to-new-path + repoint;
  *  - partition VALUES are preserved (dir names unchanged), so
  *    static-prune filters and partition-type inference behave
  *    exactly as before.
  */
object Compaction {

  /** Files-per-partition-dir count of `dir` (parquet data files only),
    * the observability half of compaction. */
  def partFileCounts(spark: SparkSession, dir: String): Map[String, Int] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Map.empty
    else fs.listStatus(path).filter(_.isDirectory).map { d =>
      d.getPath.getName ->
        fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))
    }.toMap
  }

  /** Compact one partitioned parquet table in place: one file per
    * partition dir afterwards. Returns (files before, files after). */
  def compactTable(spark: SparkSession, dir: String,
      partitionCol: String): (Int, Int) =
    compactWith(spark, dir, partitionCol)(_ => ())

  /** [[compactTable]], running `alongside(tmp)` after the compacted
    * copy is written and before the swap. */
  private def compactWith(spark: SparkSession, dir: String,
      partitionCol: String)(alongside: String => Unit): (Int, Int) = {
    val before = partFileCounts(spark, dir).values.sum
    replaceTable(spark, dir) { tmp =>
      spark.read.parquet(dir)
        .repartition(col(partitionCol))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(tmp)
      alongside(tmp)
    }
    (before, partFileCounts(spark, dir).values.sum)
  }

  /** Replace a parquet table's content with whatever `write` produces
    * at the sibling `.compact.tmp` path, via the destroy-LAST swap
    * (ADVICE r7): park the live table aside, promote the new copy,
    * and only then delete the parked original — a crash at ANY point
    * leaves a complete copy under a deterministic name (live, `.tmp`,
    * or `.old`), never a window with no table. The recovery rule and
    * quiesce contract are the object-level scaladoc above. Shared by
    * [[compactTable]], the index compactors and the journeys'
    * growing side-state merges ([[graft.pipeline.RunIntake]]). */
  def replaceTable(spark: SparkSession, dir: String)
      (write: String => Unit): Unit = {
    val tmp = dir + ".compact.tmp"
    write(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val oldPath = new org.apache.hadoop.fs.Path(dir + ".compact.old")
    val fs = dirPath.getFileSystem(conf)
    if (fs.exists(oldPath) && !fs.delete(oldPath, true))
      throw new java.io.IOException(
        s"replaceTable: could not clear stale $oldPath")
    if (!fs.rename(dirPath, oldPath))
      throw new java.io.IOException(
        s"replaceTable: could not park $dir aside — table untouched, " +
          s"new copy left at $tmp")
    if (!fs.rename(tmpPath, dirPath)) {
      fs.rename(oldPath, dirPath) // roll back; original content intact
      throw new java.io.IOException(
        s"replaceTable: could not promote $tmp — original restored at $dir")
    }
    fs.delete(oldPath, true) // best-effort reclaim; content already live
  }

  /** The [[replaceTable]] crash-recovery rule as CODE (the scaladoc
    * prose above, executable): given a table dir that may carry
    * `.compact.tmp` / `.compact.old` siblings from an interrupted
    * swap, restore the invariant "exactly one complete copy, at the
    * live path". Returns what was done:
    *
    *  - `"clean"`        — live exists, no siblings; nothing to do
    *  - `"cleared"`      — live exists; stray siblings deleted (the
    *                       crash hit before the park, or after the
    *                       promote but before the reclaim — live is
    *                       authoritative either way)
    *  - `"restored-old"` — live missing; `.old` (pre-swap content)
    *                       renamed into place, stray `.tmp` deleted
    *                       (crash between park and promote)
    *  - `"restored-tmp"` — live and `.old` missing; `.tmp` (the new
    *                       copy — row-equivalent by the replaceTable
    *                       contract) renamed into place
    *
    * Throws if no copy exists at all (nothing to recover — the dir
    * never was a table, or something other than the swap destroyed
    * it). Idempotent: a second call returns `"clean"`. QUIESCE
    * REQUIRED, exactly as for the swap itself. */
  def recoverTable(spark: SparkSession, dir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(dir + ".compact.old")
    val fs = live.getFileSystem(conf)
    def clear(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(p) && fs.delete(p, true)
    if (fs.exists(live)) {
      val cleared = clear(tmp) | clear(old)
      if (cleared) "cleared" else "clean"
    } else if (fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(
          s"recoverTable: could not restore $old to $dir")
      clear(tmp)
      "restored-old"
    } else if (fs.exists(tmp)) {
      if (!fs.rename(tmp, live))
        throw new java.io.IOException(
          s"recoverTable: could not restore $tmp to $dir")
      "restored-tmp"
    } else throw new java.io.IOException(
      s"recoverTable: no copy of $dir exists (live/.old/.tmp all absent)")
  }

  /** Compact a [[Dedup.buildFuzzyIndex]] layout: both the `sets/` and
    * `bands/` tables (meta is one file — untouched). Returns the
    * (before, after) total file counts per table. */
  def compactFuzzyIndex(spark: SparkSession, path: String)
      : Map[String, (Int, Int)] = Map(
    "sets" -> compactTable(spark, s"$path/sets", "__idshard"),
    "bands" -> compactTable(spark, s"$path/bands", "__shard"))

  /** Compact a [[IvfAnn.buildIndexInt]] layout (one table, cell-
    * partitioned). The persisted centroid model (`_centroids/`, an
    * underscore-hidden subdirectory the data read never sees) would be
    * destroyed with the parked `.compact.old` copy by a plain
    * [[compactTable]] swap — so it is copied INTO the compacted copy
    * before the swap, keeping the layout self-describing through the
    * whole destroy-last window. Layouts predating the persisted model
    * (no `_centroids/`) compact as before. */
  def compactIvfIndex(spark: SparkSession, path: String): (Int, Int) = {
    val model = s"$path/_centroids"
    val centPath = new org.apache.hadoop.fs.Path(model)
    val hasModel = centPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(centPath)
    compactWith(spark, path, "__cell") { tmp =>
      if (hasModel)
        IndexTable.writeMeta(IndexTable.readParts(spark, model), s"$tmp/_centroids")
    }
  }

  /** Compact a [[Dedup.buildSpanIndex]] layout (grams table; `meta/`
    * lives beside the table and is untouched by the swap). */
  def compactSpanIndex(spark: SparkSession, path: String): (Int, Int) =
    compactTable(spark, s"$path/grams", "__shard")
}
