package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curate, Dedup, Snapshot, TxLog}

/** The SNAPSHOT-SYNC journey — the maintenance loop for a managed
  * corpus whose upstream RE-DELIVERS (re-crawls, license changes,
  * takedown lists): given the previous and current snapshot of the
  * raw corpus, apply exactly the churn to a [[RunIntake]] state dir:
  *
  *   diff = [[graft.operators.Snapshot.diff]] over raw-text digests
  *   removed + changed  → takedown on both growing index tiers
  *                        + keyed MERGE-delete on `accepted/`
  *   added + changed    → one [[graft.operators.Curate.intakeStep]]
  *                        batch, appended to `accepted/`
  *
  * Cost ∝ churn, never corpus: the diff shuffles id+digest pairs, the
  * deletes rewrite only the shards the doomed digests/ids live in,
  * and the intake probes shard-pruned. Change detection digests the
  * RAW text (arrival bytes) — a change the cleaner would strip still
  * re-presents the doc, and the funnel then decides whether anything
  * downstream differs.
  *
  * Contract (FORWARD-ONLY, the x53/x54 takedown semantics at journey
  * level): after a sync, a removed doc's rows are gone from
  * `accepted/` and its digests/signatures from both tiers, so a NEW
  * copy of that content is admitted by later intakes; a changed doc
  * re-enters the funnel under its own id against the cleaned index
  * state. Docs of earlier batches that were REJECTED as duplicates of
  * now-removed content are NOT retroactively re-admitted — the
  * unchanged bulk is never re-presented (that re-adjudication is a
  * re-curation, not a sync). Crash recovery = re-run the sync: the
  * deletes are idempotent, the intake probes are replay-idempotent,
  * and each `accepted/` change is one [[graft.operators.TxLog]]
  * commit (duplicate accepted rows are possible only in the crash
  * window — the RunIntake rule).
  *
  * Usage: runMain graft.pipeline.RunSync [oldDir] [newDir] [stateDir]
  *          [--threshold T] [--scrub-pii] [--semantic]
  * `oldDir`/`newDir` must contain `documents.parquet` (and, with
  * `--semantic`, `embeddings.parquet` — vec_id as the doc id, the
  * [[RunIntake]] convention; the churn then also reaches the
  * `indexes/semantic/` tier: removed+changed docs' OLD vectors are
  * deleted cell-pruned and the re-intake runs the three-tier funnel);
  * `stateDir` is a [[RunIntake]] state dir (indexes/, accepted/,
  * runs.jsonl). */
object RunSync {

  def main(args: Array[String]): Unit = {
    var scrubPii = false
    var threshold = 0.8
    var semantic = false
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--threshold" =>
          require(i + 1 < args.length, "--threshold needs a fraction")
          threshold = args(i + 1).toDouble; i += 1
        case "--scrub-pii" => scrubPii = true
        case "--semantic" => semantic = true
        case other => positional += other
      }
      i += 1
    }
    require(positional.size >= 2,
      "RunSync needs oldDir and newDir (documents.parquet in each)")
    val oldDir = positional(0)
    val newDir = positional(1)
    val stateDir = positional.drop(2).headOption.getOrElse("/tmp/graft_intake")
    val spark = graft.Sessions.local()
    val vectors =
      if (semantic)
        Some((spark.read.parquet(s"$oldDir/embeddings.parquet"),
          spark.read.parquet(s"$newDir/embeddings.parquet"),
          "vec_id", "embedding"))
      else None
    run(spark,
      spark.read.parquet(s"$oldDir/documents.parquet"),
      spark.read.parquet(s"$newDir/documents.parquet"),
      stateDir,
      Curate.Config(scrubPii = scrubPii, jaccardThreshold = threshold,
        keep = Seq("source")),
      vectors = vectors)
    spark.stop()
  }

  /** One sync: diff `oldSnap`→`newSnap` (raw-text md5), take down
    * removed+changed from both index tiers and `accepted/`, intake
    * added+changed as one batch. With `vectors` = (oldVecs, newVecs,
    * vecIdCol, vecCol) the semantic tier at `indexes/semantic/` joins
    * the churn: removed+changed docs' OLD vectors (what the index
    * actually holds) are deleted cell-pruned, and the re-intake runs
    * the full three-tier [[graft.operators.Curate
    * .intakeStepWithSemantic]] against the NEW vectors. Appends a
    * history line to `runs.jsonl` and returns the report. */
  def run(spark: SparkSession, oldSnap: DataFrame, newSnap: DataFrame,
      stateDir: String, cfg: Curate.Config = Curate.Config(keep = Seq("source")),
      idCol: String = "doc_id", textCol: String = "text",
      eval: Option[(DataFrame, String, String)] = None,
      vectors: Option[(DataFrame, DataFrame, String, String)] = None)
      : Seq[(String, Long)] = {
    // the sync mutates every index tier plus accepted/ — same
    // single-writer critical section as RunIntake (see
    // graft.operators.Lease)
    graft.operators.Lease.withLease(
      spark.sparkContext.hadoopConfiguration, stateDir,
      graft.operators.Lease.defaultOwner()) { _ =>
    // resolved first: an older-layout sink fails before any state moves
    val acceptedPath = RunIntake.acceptedRoot(spark, stateDir)
    val t0 = System.nanoTime()
    def digested(snap: DataFrame) =
      snap.select(col(idCol), md5(col(textCol)).as("digest"))
    val diff = Snapshot.diff(digested(oldSnap), digested(newSnap),
      idCol, "digest").cache()
    val nRemoved = diff.where(col("status") === "removed").count()
    val nChanged = diff.where(col("status") === "changed").count()
    val nAdded = diff.where(col("status") === "added").count()

    // 1. takedown: removed + changed leave the indexes and accepted/.
    // The exact tier is located by DIGEST, so the doomed docs' OLD
    // text runs through the funnel's own clean expression.
    val goneIds = diff.where(col("status").isin("removed", "changed"))
      .select(col(idCol))
    def exists(p: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }
    val exactPath = s"$stateDir/indexes/exact"
    val fuzzyPath = s"$stateDir/indexes/fuzzy"
    val deletedExact =
      if (!exists(s"$exactPath/meta")) 0L
      else Dedup.deleteFromExactIndex(spark, exactPath,
        oldSnap.join(goneIds, Seq(idCol), "left_semi"), idCol,
        graft.operators.TextAnalysis.fingerprint(
          Curate.cleanedText(col(textCol), cfg))).rowsDeleted
    val deletedFuzzy =
      if (!exists(s"$fuzzyPath/meta")) 0L
      else Dedup.deleteFromFuzzyIndex(spark, fuzzyPath, goneIds, idCol)
        .getOrElse("sets", Dedup.IndexDeleteReport(0L, Nil)).rowsDeleted
    val semPath = s"$stateDir/indexes/semantic"
    val deletedSem = vectors match {
      case Some((oldVecs, _, vId, vCol)) if exists(s"$semPath/_centroids") =>
        graft.operators.IvfAnn.deleteFromIndexInt(spark, semPath,
          oldVecs.select(col(vId).as(idCol), col(vCol))
            .join(goneIds, Seq(idCol), "left_semi"),
          idCol, vCol,
          graft.operators.IvfAnn.loadCentroidsInt(spark, semPath))
          .rowsDeleted
      case _ => 0L
    }
    // the takedown is a keyed MERGE-delete (r13): only the data dirs
    // whose manifest stats admit the churn ids are rewritten, so a
    // narrow takedown against a large clustered sink costs its touched
    // dirs, not a whole-table rewrite (Scale10 tx_merge: table size is
    // not a term). CDC-visible as delete-of-touched + re-insert of
    // survivors. Zero churn commits nothing.
    val sinkExists = exists(s"$acceptedPath/_txlog")
    if (sinkExists && nRemoved + nChanged > 0)
      TxLog.mergeDelete(spark, acceptedPath, goneIds, idCol)
    val acceptedAfterTakedown =
      if (sinkExists) TxLog.snapshot(spark, acceptedPath).count() else 0L

    // 2. re-intake the arriving side of the churn as ONE batch
    val batch = newSnap.join(
      diff.where(col("status").isin("added", "changed")).select(col(idCol)),
      Seq(idCol), "left_semi")
    val accepted = vectors match {
      case Some((_, newVecs, vId, vCol)) =>
        Curate.intakeStepWithSemantic(spark, batch, idCol, textCol,
          exactPath, fuzzyPath, semPath, newVecs, vId, vCol,
          cfg = cfg, eval = eval)
      case None =>
        Curate.intakeStep(spark, batch, idCol, textCol,
          exactPath, fuzzyPath, cfg, eval)
    }
    TxLog.append(spark, acceptedPath, accepted, Some(idCol))
    diff.unpersist()
    // count from the read-back (the RunCurate one-execution lesson);
    // the per-run admission count is the delta over the takedown floor
    val acceptedTotal = TxLog.snapshot(spark, acceptedPath).count()
    val nNewAccepted = acceptedTotal - acceptedAfterTakedown
    val report = Seq(
      "removed" -> nRemoved, "changed" -> nChanged, "added" -> nAdded,
      "deleted_exact" -> deletedExact, "deleted_fuzzy" -> deletedFuzzy,
      "deleted_semantic" -> deletedSem,
      "intake_accepted" -> nNewAccepted,
      "accepted_total" -> acceptedTotal,
      "millis" -> (System.nanoTime() - t0) / 1000000L)
    report.foreach { case (k, v) => println(f"[sync] $k%-16s $v%d") }
    val json = report.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    new java.io.File(stateDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stateDir, "runs.jsonl"), json + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    report
    } // writer lease released (success or failure)
  }
}
