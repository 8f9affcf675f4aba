package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, length, md5}

import graft.operators.{Bpe, Compaction, Curate, Kmv, Sampling, TextAnalysis, TxLog}

/** The INCREMENTAL-INGESTION journey — the fourth runnable main,
  * completing the operability story around
  * [[graft.operators.Curate.intakeStep]]: where [[RunCurate]] curates
  * a corpus in one shot, RunIntake is invoked once per ARRIVING batch
  * (one spark-submit per delivery, or a scheduler loop) and maintains
  * the growing state in the lake:
  *
  *   batch.parquet ── clean/filter ── exact-index probe+append
  *                 ── fuzzy-index probe+append ── [decontaminate]
  *                 ──> accepted/ (one TxLog commit), runs.jsonl (history)
  *
  * The FIRST run bootstraps both index tiers from its own survivors
  * (the intakeStep contract) — no separate build step. Sequential
  * runs land exactly where one-shot [[graft.operators.Curate.curate]]
  * of the concatenated corpus lands (StreamingSpec + the x52 oracle);
  * a crashed run is recovered by RE-RUNNING it (the replay-idempotent
  * probe contract — decisions cannot flip; with `--batch-id` the
  * replayed sink commit lands at most once, without it rows may
  * duplicate in `accepted/`: dedupe the sink by doc_id downstream or
  * wrap the write in the streaming checkpoint via
  * [[graft.streaming.DocStream.intakeAndCurate]]).
  *
  * Usage: runMain graft.pipeline.RunIntake [batchDir] [stateDir]
  *          [--threshold T] [--scrub-pii] [--eval PATH] [--semantic]
  *          [--span N] [--lm-model PATH --lm-band lo:hi] [--batch-id N]
  * `--lm-model`/`--lm-band` pre-filter each batch to the x97 fluency
  * band (mean nll micro-nats) against a FROZEN model artifact
  * ([[graft.operators.Sampling.lmModelFromState]] written to parquet)
  * — frozen so acceptance is arrival-order independent and the
  * sequential == one-shot contract holds over the gated corpus.
  * Defaults: /root/testdata/sf0.001 -> /tmp/graft_intake.
  * `batchDir` must contain `documents.parquet` (TESTDATA.md shape);
  * with `--semantic` it must also contain `embeddings.parquet`, whose
  * `vec_id` is taken as the document id (the testdata convention) —
  * the batch then flows [[graft.operators.Curate
  * .intakeStepWithSemantic]], growing a third (IVF semantic) tier at
  * `indexes/semantic/`; docs with no embedding pass that tier
  * un-judged. `stateDir` holds everything the journey owns:
  *  indexes/exact/, indexes/fuzzy/   the growing index tiers
  *  indexes/semantic/                (with --semantic) the IVF tier
  *  accepted/                        curated accepted rows, a
  *                                   [[graft.operators.TxLog]] table
  *                                   keyed by doc_id (one commit per
  *                                   run; read it with TxLog.snapshot)
  *  profile_state/                   growing per-source report card —
  *                                   the x69 mergeable state, updated
  *                                   per batch from the funnel's own
  *                                   scores (read it with
  *                                   [[graft.operators.TextAnalysis
  *                                   .profileFromState]])
  *  hist_state/                      growing per-source quality
  *                                   histogram — the x70 mergeable
  *                                   state, same per-batch growth
  *                                   (quantile estimates via
  *                                   [[graft.operators.TextAnalysis
  *                                   .histQuantiles]]; diffable by
  *                                   [[graft.operators.TextAnalysis
  *                                   .profileHistDrift]] / RunAudit)
  *  dsir_state/                      growing hashed bag-of-ngrams
  *                                   counts of the accepted corpus —
  *                                   the x77 mergeable state (Long
  *                                   counts add; grown == one-shot),
  *                                   so a DSIR model over the corpus
  *                                   ([[graft.operators.Sampling
  *                                   .dsirModelFromStates]]) never
  *                                   re-scans it; bucket count is the
  *                                   jar-pinned [[dsirStateBuckets]]
  *                                   (states only merge at one size)
  *  bpe_state/                       growing word-frequency state of
  *                                   the accepted corpus — the x90
  *                                   mergeable state, so BPE tokenizer
  *                                   training ([[graft.operators.Bpe
  *                                   .train]]) runs vocab-sized from
  *                                   state, never re-scanning the
  *                                   corpus; grown == one-shot exactly
  *  schema.json                      the batch schema PINNED by the
  *                                   first run — later batches must
  *                                   match exactly (fail-fast gate; an
  *                                   intentional schema change is a
  *                                   re-curation, not an intake)
  *  runs.jsonl                       one JSON line per run (history)
  */
object RunIntake {

  /** Bucket domain of the journey-owned `dsir_state/`. Fixed for the
    * life of a state dir: states of different sizes must never merge,
    * and every reader passes the same value to
    * [[graft.operators.Sampling.dsirModelFromStates]]. */
  val dsirStateBuckets: Int = 4096

  /** Sketch size of the journey-owned `kmv_state/` (per-source
    * bottom-k digest sketches). Fixed for the life of a state dir:
    * sketches of different k must never merge. */
  val kmvStateK: Int = 64

  /** The `accepted/` sink of `stateDir`, the one place the journeys
    * (RunIntake, [[RunSync]], [[RunMix]] `--accepted`) resolve it. The
    * sink is always a [[graft.operators.TxLog]] table. A sink written
    * in an older layout (a `_current` pointer over `gen-N/` dirs, or
    * plain parquet) has no `_txlog/`, and a TxLog write there would
    * found an empty log beside the old rows and hide them, so it fails
    * loud. A lone `data/` dir is TxLog's own first write that crashed
    * before its commit, not an older layout. */
  def acceptedRoot(spark: SparkSession, stateDir: String): String = {
    val root = s"$stateDir/accepted"
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = fs.exists(p) &&
      !fs.exists(new org.apache.hadoop.fs.Path(p, "_txlog")) &&
      fs.listStatus(p).exists(_.getPath.getName != "data")
    if (legacy)
      throw new IllegalStateException(
        s"$root: pre-TxLog accepted/ layout; re-curate into a fresh state dir")
    root
  }

  def main(args: Array[String]): Unit = {
    var scrubPii = false
    var threshold = 0.8
    var evalPath: Option[String] = None
    var semantic = false
    var span: Option[Int] = None
    var lmModelPath: Option[String] = None
    var lmBand: Option[(Long, Long)] = None
    var txBatchId: Option[Long] = None
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--threshold" =>
          require(i + 1 < args.length, "--threshold needs a fraction")
          threshold = args(i + 1).toDouble; i += 1
        case "--scrub-pii" => scrubPii = true
        case "--eval" =>
          require(i + 1 < args.length, "--eval needs a parquet path")
          evalPath = Some(args(i + 1)); i += 1
        case "--semantic" => semantic = true
        case "--span" =>
          require(i + 1 < args.length, "--span needs a token width")
          span = Some(args(i + 1).toInt); i += 1
        case "--lm-model" =>
          require(i + 1 < args.length, "--lm-model needs a parquet path")
          lmModelPath = Some(args(i + 1)); i += 1
        case "--lm-band" =>
          require(i + 1 < args.length,
            "--lm-band needs lo:hi (mean nll micro-nats)")
          val Array(lo, hi) = args(i + 1).split(":", 2)
          lmBand = Some((lo.toLong, hi.toLong)); i += 1
        case "--batch-id" =>
          require(i + 1 < args.length, "--batch-id needs a number")
          txBatchId = Some(args(i + 1).toLong); i += 1
        case other => positional += other
      }
      i += 1
    }
    val batchDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val stateDir = positional.drop(1).headOption.getOrElse("/tmp/graft_intake")
    val spark = graft.Sessions.local()
    val batch = spark.read.parquet(s"$batchDir/documents.parquet")
    val eval = evalPath.map(p =>
      (spark.read.parquet(p), "doc_id", "text"))
    val vectors =
      if (semantic)
        Some(spark.read.parquet(s"$batchDir/embeddings.parquet")
          .select(org.apache.spark.sql.functions.col("vec_id"),
            org.apache.spark.sql.functions.col("embedding")))
      else None
    require(lmModelPath.isEmpty == lmBand.isEmpty,
      "--lm-model and --lm-band come together (the x97 fluency gate)")
    run(spark, batch, stateDir,
      Curate.Config(scrubPii = scrubPii, jaccardThreshold = threshold,
        keep = Seq("source")), eval, vectors.map((_, "vec_id", "embedding")),
      span,
      lmGate = lmModelPath.map(p =>
        (spark.read.parquet(p), lmBand.get._1, lmBand.get._2)),
      txBatchId = txBatchId)
    spark.stop()
  }

  /** One intake run: the batch flows through
    * [[graft.operators.Curate.intakeStep]] against the stateDir's
    * growing indexes — or, when `vectors` is given (frame, idCol,
    * vecCol), through [[graft.operators.Curate.intakeStepWithSemantic]]
    * with a third growing IVF tier at `indexes/semantic/` — accepted
    * rows commit to `accepted/` (idempotently under `txBatchId`), and
    * a one-line JSON report (input/accepted counts, wall time)
    * appends to `runs.jsonl`.
    * Returns the report. */
  def run(spark: SparkSession, batch: DataFrame, stateDir: String,
      cfg: Curate.Config = Curate.Config(keep = Seq("source")),
      eval: Option[(DataFrame, String, String)] = None,
      vectors: Option[(DataFrame, String, String)] = None,
      span: Option[Int] = None,
      lmGate: Option[(DataFrame, Long, Long)] = None,
      txBatchId: Option[Long] = None)
      : Seq[(String, Long)] = {
    require(vectors.isEmpty || span.isEmpty,
      "--semantic and --span are separate tier chains; combine by " +
        "running the semantic intake and span-stripping its sink")
    // WRITER LEASE: the whole run is one critical section over the
    // stateDir — two concurrent intakes interleaving their
    // probe-then-append windows would BOTH admit the same duplicate,
    // and a concurrent state-table swap is reader-visible. A second
    // writer fails fast with the holder's identity (LeaseHeld); a
    // crashed holder's lease expires and is stolen (TTL). See
    // graft.operators.Lease.
    graft.operators.Lease.withLease(
      spark.sparkContext.hadoopConfiguration, stateDir,
      graft.operators.Lease.defaultOwner()) { _ =>
    // resolved first: an older-layout sink fails before any state moves
    val sinkRoot = acceptedRoot(spark, stateDir)
    // SCHEMA GATE: the first run PINS the batch schema (schema.json in
    // the stateDir); every later batch must match it exactly — a
    // renamed/retyped/dropped upstream column fails HERE with a diff,
    // not three stages in as a missing-column error or, worse, as
    // silently divergent rows in accepted/. An intentional schema
    // change is a re-curation (new stateDir), not an intake.
    val pinned = java.nio.file.Paths.get(stateDir, "schema.json")
    val batchSchema = batch.schema.fields
      .map(f => s"${f.name}:${f.dataType.sql}:${f.nullable}")
      .sorted.mkString("\n")
    if (java.nio.file.Files.exists(pinned)) {
      val want = java.nio.file.Files.readString(pinned)
      require(want == batchSchema,
        "intake schema gate: batch schema differs from the pinned " +
          s"first-run schema.\npinned:\n$want\nbatch:\n$batchSchema")
    } else {
      new java.io.File(stateDir).mkdirs()
      java.nio.file.Files.writeString(pinned, batchSchema)
    }
    val t0 = System.nanoTime()
    // optional LM fluency gate (the x97 CCNet band) applied as a
    // PRE-FILTER against a FROZEN model artifact — frozen so the
    // decision for a given doc is arrival-order independent, which is
    // what keeps the journey's sequential == one-shot contract: the
    // one-shot equivalent is Curate.curate over the same-gated corpus.
    // (Gating against the GROWING state would make acceptance depend
    // on batch order — deliberately not offered.)
    val gated = lmGate match {
      case Some((model, lo, hi)) =>
        Sampling.lmScores(batch, model, "doc_id", "text")
          .where(col("mean_nll_unats").between(lo, hi))
          .drop("nll_unats", "n_feats", "mean_nll_unats")
      case None => batch
    }
    val report = {
      val accepted = (vectors, span) match {
        case (Some((vecs, vecIdCol, vecCol)), _) =>
          Curate.intakeStepWithSemantic(spark, gated, "doc_id", "text",
            s"$stateDir/indexes/exact", s"$stateDir/indexes/fuzzy",
            s"$stateDir/indexes/semantic", vecs, vecIdCol, vecCol,
            cfg = cfg, eval = eval)
        case (None, Some(n)) =>
          // the four-tier chain: funnel survivors REWRITTEN against
          // the growing span state at indexes/span/ (use --span from
          // the stateDir's first run — it adds the n_removed column
          // to the accepted/ schema)
          Curate.intakeStepWithSpan(spark, gated, "doc_id", "text",
            s"$stateDir/indexes/exact", s"$stateDir/indexes/fuzzy",
            s"$stateDir/indexes/span", spanN = n, cfg = cfg, eval = eval)
        case (None, None) =>
          Curate.intakeStep(spark, gated, "doc_id", "text",
            s"$stateDir/indexes/exact", s"$stateDir/indexes/fuzzy", cfg, eval)
      }
      // one funnel execution feeds BOTH the sink append and the profile
      // state update (the curateAndReport lesson)
      accepted.persist()
      // the sink is a TRANSACTIONAL table: each run is one
      // reader-atomic commit and, with --batch-id, idempotent — a
      // crash-replayed batch lands its SINK rows at most once
      // (surfaced as sink_replayed in the report). The growing
      // side-states (profile, bpe) keep the documented replay
      // caveat: they have no single commit point with the sink, so a
      // replay still re-merges them (RunSync's dup collapse remains
      // the corpus-level answer)
      val sinkReplayed = txBatchId match {
        case Some(b) =>
          !TxLog.appendIdempotent(spark, sinkRoot, accepted, "intake", b,
            Some("doc_id"))._2
        case None =>
          TxLog.append(spark, sinkRoot, accepted, Some("doc_id"))
          false
      }
      // growing per-source profile: the batch's mergeable state (x69
      // algebra, built from the funnel's OWN scores — no second
      // DocStats scan) merges into profile_state/ at O(batch) cost via
      // the destroy-last swap. Replay caveat: a re-run crashed run
      // double-counts here exactly as it duplicates rows in accepted/;
      // re-baseline with profileState over the deduped sink.
      if (accepted.columns.contains("source")) {
        val batchState = TextAnalysis.profileStateFromScored(
          accepted.withColumn("__chars", length(col("text"))),
          "source", "quality", "n_tokens", "__chars")
        val statePath = s"$stateDir/profile_state"
        val p = new org.apache.hadoop.fs.Path(statePath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p))
          batchState.write.parquet(statePath)
        else Compaction.replaceTable(spark, statePath) { tmp =>
          TextAnalysis.mergeProfileStates("source",
            Seq(spark.read.parquet(statePath), batchState))
            .write.mode(SaveMode.Overwrite).parquet(tmp)
        }
        // the x70 histogram state grows beside it (same funnel scores,
        // same O(batch) merge) — RunAudit --prev can then diff the
        // intake sink's distribution without any audit-time corpus scan
        val batchHist = TextAnalysis.profileHistStateFromScored(
          accepted, "source", "quality", bins = 64)
        val histPath = s"$stateDir/hist_state"
        if (!fs.exists(new org.apache.hadoop.fs.Path(histPath)))
          batchHist.write.parquet(histPath)
        else Compaction.replaceTable(spark, histPath) { tmp =>
          TextAnalysis.mergeHistStates("source",
            Seq(spark.read.parquet(histPath), batchHist))
            .write.mode(SaveMode.Overwrite).parquet(tmp)
        }
        // the per-source KMV sketch grows beside the histograms:
        // bottom-k merge of (state, batch) — grown == one-shot
        // row-identically, and IDEMPOTENT (set union), so a crash
        // replay cannot even double-count it. The x116 source-overlap
        // matrix and per-source NDV become sketch-sized reads of this
        // state — never an audit-time corpus re-scan
        val batchKmv = Kmv.groupedBuild(
          accepted.select(col("source"), md5(col("text")).as("__dg")),
          col("source"), col("__dg"), k = kmvStateK)
        val kmvPath = s"$stateDir/kmv_state"
        if (!fs.exists(new org.apache.hadoop.fs.Path(kmvPath)))
          batchKmv.write.parquet(kmvPath)
        else Compaction.replaceTable(spark, kmvPath) { tmp =>
          Kmv.mergeGrouped(
            Seq(spark.read.parquet(kmvPath), batchKmv), k = kmvStateK)
            .write.mode(SaveMode.Overwrite).parquet(tmp)
        }
      }
      // the x77 DSIR count state grows beside the profile states: the
      // accepted corpus's hashed bag-of-ngrams counts (Long adds —
      // grown == one-shot bit-identically), so building a DSIR model
      // over the growing corpus is state-sized work, never a re-scan
      val batchDsir = Sampling.dsirState(accepted, "text",
        buckets = dsirStateBuckets, salt = "dsir")
      val dsirPath = s"$stateDir/dsir_state"
      val dp = new org.apache.hadoop.fs.Path(dsirPath)
      val dfs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!dfs.exists(dp))
        batchDsir.write.parquet(dsirPath)
      else Compaction.replaceTable(spark, dsirPath) { tmp =>
        Sampling.mergeDsirStates(
          Seq(spark.read.parquet(dsirPath), batchDsir))
          .write.mode(SaveMode.Overwrite).parquet(tmp)
      }
      // the x90 BPE word-frequency state grows beside DSIR: exact Long
      // word counts over the accepted corpus, so TOKENIZER TRAINING
      // ([[graft.operators.Bpe.train]]) over the growing corpus is
      // vocab-sized work from state, never a corpus re-scan; grown ==
      // one-shot exactly (Long adds), same replay caveat as above
      val batchBpe = Bpe.wordState(accepted, "text")
      val bpePath = s"$stateDir/bpe_state"
      // x96 at the journey seam: novelty of THIS batch against the
      // state as it stood BEFORE the batch folded in (first batch
      // defines the baseline — no novelty row). Reuses batchBpe: one
      // join, zero extra text scans. A batch whose word state is
      // EMPTY (every doc near-dup-rejected or gate-cut) has no
      // denominator — its ppm fields are null, and the keys are
      // omitted exactly like the first-run no-baseline path (the
      // intake must still fold states and append runs.jsonl).
      val novelty =
        if (!dfs.exists(new org.apache.hadoop.fs.Path(bpePath))) Nil
        else {
          val n = Bpe.noveltyAuditFromState(
            spark.read.parquet(bpePath), batchBpe).head
          (if (n.isNullAt(4)) Nil
           else Seq("vocab_novelty_ppm" -> n.getLong(4))) ++
          (if (n.isNullAt(5)) Nil
           else Seq("word_novelty_ppm" -> n.getLong(5)))
        }
      if (!dfs.exists(new org.apache.hadoop.fs.Path(bpePath)))
        batchBpe.write.parquet(bpePath)
      else Compaction.replaceTable(spark, bpePath) { tmp =>
        Bpe.mergeWordStates(Seq(spark.read.parquet(bpePath), batchBpe))
          .write.mode(SaveMode.Overwrite).parquet(tmp)
      }
      accepted.unpersist(false)
      val nAccepted = TxLog.snapshot(spark, sinkRoot).count()
      val nIn = batch.count()
      val lmKept =
        if (lmGate.isDefined) Seq("lm_kept" -> gated.count()) else Nil
      Seq("input" -> nIn) ++ lmKept ++
        Seq("accepted_total" -> nAccepted) ++ novelty ++
        (if (sinkReplayed) Seq("sink_replayed" -> 1L) else Nil) ++
        Seq("millis" -> (System.nanoTime() - t0) / 1000000L)
    }
    report.foreach { case (k, v) => println(f"[intake] $k%-15s $v%d") }
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
