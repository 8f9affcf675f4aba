package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Ensure a DataFrame entering a compute-bound per-row stage (tokenize,
  * hash, vector math) has enough partitions to use the cluster — without
  * over-splitting a small input into pure per-task fixed cost.
  *
  * Why a floor at all: a single parquet file with one row group plans as
  * ONE input split, so every downstream narrow transform runs on one core
  * no matter how many exist. At real scale (100 TB = tens of thousands of
  * splits) this is a no-op — well-split inputs are never shuffled.
  *
  * Why the target is NOT `defaultParallelism` (the r1–r17 behavior): the
  * r17 driver measurement showed every Rebalance-rooted query SLOWER at
  * 32 cores than at 8 (scaling ratios 0.22–0.62) — repartitioning a
  * sub-MB input to `cores` partitions multiplies per-task fixed cost
  * (scheduling, codegen instantiation, checkpoint block registration,
  * all ∝ partition count) with no extra data to amortize it. The target
  * is therefore derived from the input size (guide §2.2 "fewer, larger
  * partitions"; brief: partitioning must be scale-adaptive, not a
  * constant tuned to the local core count): ceil(bytes / DefaultBytesPerTask)
  * clamped to [1, defaultParallelism]. `DefaultBytesPerTask` is compressed
  * parquet bytes; the default is deliberately small (text expands 2–4×
  * on decode and the downstream stage is per-row compute, not scan), so
  * any input above ~cores×DefaultBytesPerTask still fans out to every core —
  * on a production cluster this constant is irrelevant because inputs that
  * large arrive well-split and skip the shuffle entirely.
  */
object Rebalance {
  /** Compressed input bytes per task for the fan-out target. Probed at
    * sf0.1 (see OPTIMIZATION_r18.md): per-task fixed cost dominates
    * below ~100 KB/task; scan/tokenize parallelism wins above. */
  private val DefaultBytesPerTask: Long = 128L * 1024

  def apply(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    narrowScanFacts(df) match {
      case Some((splits, bytes)) =>
        val want = math.min(p.toLong,
          math.max(1L, (bytes + DefaultBytesPerTask - 1) / DefaultBytesPerTask)).toInt
        if (splits < want) df.repartition(want) else df
      case None =>
        // Post-shuffle or non-file input: partition count already governed
        // by shuffle.partitions/AQE (or unknowable from the logical plan) —
        // keep the original physical-plan probe and cores target.
        if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
  }

  /** For a plan that is pure narrow ops over parquet scans, estimate
    * (current scan splits, input bytes) from the LOGICAL plan — avoiding
    * the physical-plan + RDD build `df.rdd` costs (~10 ms per call,
    * r17 verdict item 6). Returns None when any node could introduce an
    * exchange (then the partition count is not scan-derived). */
  private def narrowScanFacts(df: DataFrame): Option[(Long, Long)] = {
    var splits = 0L
    var scanBytes = 0L
    var ok = true
    df.queryExecution.analyzed.foreach {
      case _: Project | _: Filter | _: SubqueryAlias | _: Generate | _: Union => ()
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          val maxSplit = math.max(1L,
            fs.sparkSession.sessionState.conf.filesMaxPartitionBytes)
          val sz = fs.location.sizeInBytes
          splits += math.max(1L, (sz + maxSplit - 1) / maxSplit)
          scanBytes += sz
        case _ => ok = false
      }
      case _ => ok = false
    }
    if (ok && splits > 0) Some((splits, scanBytes)) else None
  }
}
