package graft.streaming

import graft.operators.TxLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The tx commit log AS a stream — the materialized-view pattern the
  * StreamingSpec drives, promoted to a library surface so a replica
  * is one line instead of forty. The log dir is the stream source
  * (Structured Streaming's file source tails the `v….commit` names
  * under `_txlog`; a commit manifest is immutable-once-named, so the
  * file-arrival event IS the commit event), and each version's CDC
  * delta ([[TxLog.changes]]) reconciles per key — latest version
  * wins; within a version insert beats delete, which is exactly a
  * rewrite's delete-all + re-insert collapsing to an upsert — then
  * lands downstream as ONE keyed MERGE.
  *
  * Exactly-once: every applied version goes through
  * [[TxLog.mergeIdempotent]] keyed by `(appId, sourceVersion)`, so a
  * replayed foreachBatch micro-batch (crash recovery, at-least-once
  * delivery) re-resolves to its original commit and lands nothing —
  * the kill-and-replay contract StreamingSpec pins. Versions apply in
  * order within a batch; a restart resumes from whatever the replica
  * has already admitted (the token check is the cursor — no side
  * state to lose).
  *
  * Scale: per micro-batch the work is O(delta), not O(table) — the
  * MERGE write path prunes to the dirs that can hold the delta's
  * keys (value spans; portable-hash spans for string keys), and
  * metadata-only source commits (evolve/constrain/gc) stream as
  * empty deltas and are skipped. Restore and compact commits stream
  * as their honest physical deltas and reconcile like any rewrite
  * (TxLakeSpec pins replica convergence across both). */
object TxStream {

  /** The reconciled, MERGE-ready delta of ONE source version:
    * `(keyCol, <table columns...>, __del)` — the key's latest row in
    * the window, `__del` true when its final state is deleted. */
  def reconciledDelta(spark: SparkSession, root: String, version: Long,
      keyCol: String): DataFrame =
    reconcile(TxLog.changes(spark, root, version - 1, version), keyCol)

  /** The replay START version for `(dstRoot, appId)`: the replica's
    * own admitted `(appId, sourceVersion)` tokens ARE the cursor —
    * every invocation resumes from the high-water token instead of
    * re-walking the whole source history (the pre-r15 form replayed
    * O(history) versions per cron run and hard-crashed into the
    * source's retention horizon even when the replica was current).
    * A replica genuinely BEHIND the horizon — its next version's
    * delta already vacuumed — is an explicit, named bootstrap error,
    * never a silent gap: the operator re-bootstraps (cloneTable, or a
    * fresh snapshot copy) rather than serving a replica missing
    * deltas. */
  private def startVersion(spark: SparkSession, srcRoot: String,
      dstRoot: String, appId: String): Long = {
    val admitted = TxLog.lastTxnBatch(spark, dstRoot, appId).getOrElse(0L)
    TxLog.retentionHorizon(spark, srcRoot).foreach { h =>
      if (admitted + 1 < h) throw new TxLog.TxRetentionException(
        s"replica $dstRoot (appId=$appId) admitted through " +
          s"v$admitted, but $srcRoot retains deltas only from v$h — " +
          "the versions between were vacuumed at the source. " +
          "Re-bootstrap the replica (cloneTable / fresh snapshot " +
          "copy), or widen the source's --retain-versions.")
    }
    admitted
  }

  /** Reconcile a RAW CDC window (the `graft-tx` stream's batch shape:
    * table columns + `__version`/`__change`) into one MERGE-ready
    * frame — latest version wins per key; within a version insert
    * beats delete (a rewrite's delete-all + re-insert collapses to an
    * upsert). [[reconciledDelta]] is its one-version window.
    * Collapsing a whole window into one keyed merge lands the same
    * final state as applying its versions in order, because the
    * reconciliation picks exactly the row the last version left
    * behind. */
  def reconcile(delta: DataFrame, keyCol: String): DataFrame = {
    val valueCols = delta.columns
      .filterNot(c => c == keyCol || c.startsWith("__")).toSeq
    delta.groupBy(keyCol)
      .agg(max(struct((col("__version") +:
        (col("__change") === "insert").cast("int").as("__ins") +:
        valueCols.map(col)): _*)).as("__m"))
      .select(col(keyCol) +:
        valueCols.map(c => col(s"__m.$c").as(c)) :+
        (col("__m.__ins") === 0).as("__del"): _*)
  }

  /** Follow `srcRoot`'s commit log and maintain `dstRoot` as an
    * exactly-once keyed replica — riding the registered `graft-tx`
    * STREAMING SOURCE (offsets = commit versions, each micro-batch an
    * exact [[TxLog.changes]] window; pre-r15 this tailed the
    * `_txlog` commit-file names through the text file source and
    * re-read every window). Each batch reconciles to one keyed MERGE
    * through [[TxLog.mergeIdempotent]] with the window's LAST version
    * as the idempotence token, so a replayed batch (crash recovery,
    * at-least-once delivery) re-resolves to its original commit and
    * lands nothing. Returns the running [[StreamingQuery]]; stop it
    * to pause — a later `replicate` call resumes from the tokens
    * already admitted. `appId` names the replica's idempotence
    * stream (two replicas of one source use two ids). */
  def replicate(spark: SparkSession, srcRoot: String, dstRoot: String,
      keyCol: String, appId: String = "tx-replica",
      conflictRetries: Int = 2,
      maxVersionsPerBatch: Long = Long.MaxValue): StreamingQuery = {
    val base = startVersion(spark, srcRoot, dstRoot, appId)
    spark.readStream.format("graft-tx")
      .option("startingVersion", base + 1)
      .option("maxVersionsPerBatch", maxVersionsPerBatch)
      .load(srcRoot)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyWindow(spark, dstRoot, batch, keyCol, appId, conflictRetries)
      }
      .start()
  }

  /** Land one CDC window on the replica: reconcile, then ONE
    * idempotent merge under the window-max version token. Empty
    * windows (metadata-only source commits) land nothing. */
  private def applyWindow(spark: SparkSession, dstRoot: String,
      window: DataFrame, keyCol: String, appId: String,
      conflictRetries: Int): Unit = {
    val vRow = window.agg(max(col("__version"))).head()
    if (vRow.isNullAt(0)) return // empty window
    val v = vRow.getLong(0)
    val b = reconcile(window, keyCol)
    TxLog.mergeIdempotent(spark, dstRoot, b, keyCol, appId, v,
      deleteCol = Some("__del"), conflictRetries = conflictRetries)
    ()
  }

  /** One-shot catch-up: apply every source version the replica has
    * not yet admitted, synchronously (the batch form of [[replicate]]
    * — the cron-able RunReplica pass, backfill after downtime,
    * tests). The default start (`fromV = -1`) derives from the
    * replica's own idempotence tokens — O(delta) per run, never
    * O(history); an explicit `fromV >= 0` overrides the cursor (the
    * bootstrap-from-known-point form). Returns the source head
    * walked. Idempotent either way: admitted versions re-resolve to
    * their original commits via the same tokens. */
  def catchUp(spark: SparkSession, srcRoot: String, dstRoot: String,
      keyCol: String, appId: String = "tx-replica",
      fromV: Long = -1L, conflictRetries: Int = 2): Long = {
    val start =
      if (fromV >= 0L) fromV
      else startVersion(spark, srcRoot, dstRoot, appId)
    val head = TxLog.latestVersion(spark, srcRoot)
    ((start + 1) to head).foreach { v =>
      val b = reconciledDelta(spark, srcRoot, v, keyCol)
      if (!b.isEmpty)
        TxLog.mergeIdempotent(spark, dstRoot, b, keyCol, appId, v,
          deleteCol = Some("__del"), conflictRetries = conflictRetries)
    }
    head
  }
}
