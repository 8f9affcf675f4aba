package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.operators.TxLog
import graft.streaming.TxStream

/** The REPLICA journey — keep a serving copy of a tx table current
  * (the reference's E3 "refresh the serving database" loop, K7,
  * re-expressed against the commit log): one command bootstraps a
  * replica from nothing, catches it up after downtime, or follows the
  * source live — all three are the SAME operation, because the
  * replica's `(appId, sourceVersion)` idempotence tokens are the
  * cursor ([[graft.streaming.TxStream]]): a version already admitted
  * lands nothing, so every invocation is safe to repeat, resume, or
  * race.
  *
  * Cost per applied version is O(that version's delta), never
  * O(table): the reconciled delta merges through the manifest-pruned
  * write path, metadata-only source commits skip, and restore/compact
  * commits reconcile like any rewrite.
  *
  * Usage: runMain graft.pipeline.RunReplica srcRoot dstRoot
  *          [--key COL] [--app-id ID] [--watch-seconds N]
  * Default is ONE catch-up pass (cron-able; the RunScheduled shape).
  * `--watch-seconds N` instead live-tails the source's commit log as
  * a stream for N seconds, then drains and exits — the long-running
  * daemon form. Prints one summary line either way: versions applied
  * this run and the replica head. */
object RunReplica {

  def main(args: Array[String]): Unit = {
    var key = "doc_id"
    var appId = "tx-replica"
    var watchSeconds = 0L
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--key" =>
          require(i + 1 < args.length, "--key needs a column name")
          key = args(i + 1); i += 1
        case "--app-id" =>
          require(i + 1 < args.length, "--app-id needs an id")
          appId = args(i + 1); i += 1
        case "--watch-seconds" =>
          require(i + 1 < args.length, "--watch-seconds needs a number")
          watchSeconds = args(i + 1).toLong; i += 1
        case other => positional += other
      }
      i += 1
    }
    require(positional.size == 2, "RunReplica needs srcRoot and dstRoot")
    val spark = graft.Sessions.local()
    val (applied, head) = run(spark, positional(0), positional(1), key,
      appId, watchSeconds)
    println(s"[replica] applied=$applied head=$head dst=${positional(1)}")
    spark.stop()
  }

  /** One invocation: catch up (default) or live-tail for
    * `watchSeconds`, then drain. Returns (versions applied this run,
    * replica head after). */
  def run(spark: SparkSession, srcRoot: String, dstRoot: String,
      key: String, appId: String = "tx-replica",
      watchSeconds: Long = 0L): (Long, Long) = {
    val before = TxLog.latestVersion(spark, dstRoot)
    if (watchSeconds <= 0L) {
      TxStream.catchUp(spark, srcRoot, dstRoot, key, appId)
    } else {
      val q = TxStream.replicate(spark, srcRoot, dstRoot, key, appId)
      try {
        q.awaitTermination(watchSeconds * 1000L)
        q.processAllAvailable() // drain whatever arrived at the bell
      } finally q.stop()
    }
    val after = TxLog.latestVersion(spark, dstRoot)
    (after - before, after)
  }
}
