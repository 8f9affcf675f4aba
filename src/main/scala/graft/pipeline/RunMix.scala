package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, TextAnalysis}

/** End-to-end training-MIX build — the second runnable user journey:
  * where [[RunCurate]] turns a raw corpus into a curated one, RunMix
  * turns a (curated) corpus into one epoch of packed training rows:
  *
  *   1. score     one-pass [[TextAnalysis.docStats]] scan → token
  *                count + quality (no second tokenization anywhere;
  *                skipped entirely when the input already carries
  *                n_tokens/quality — the [[RunCorpus]] handoff)
  *   2. band      quality quartiles via [[Sampling.quantileThresholds]]
  *                (one sketch aggregate, no corpus sort) collected as a
  *                k-1 double ARTIFACT, then [[Sampling
  *                .bucketByThresholds]] — the artifact is recorded in
  *                report.json and a resumed run re-bands against it
  *                exactly instead of re-sketching
  *   3. sample    [[Sampling.deterministicSampleByRate]] with a
  *                per-band survival rate (keep the top band whole,
  *                thin the bottom) — the band rate map is config
  *   4. mixture   [[Sampling.weightedMixture]] over the corpus's
  *                source column with per-source weights — sources
  *                absent from the config map are dropped (the
  *                deterministicSampleBy contract)
  *   5. pack      [[Sampling.packSequences]] under a token budget on
  *                the epoch-shuffle order — resume-identical stream
  *
  * Every stage is a deterministic pure function of (data, config,
  * epoch): re-running an epoch rebuilds the identical mix row-for-row,
  * and a different epoch draws an independent shuffle order from the
  * same survivors. No stage collects to the driver; the only
  * corpus-wide coordination is the 1-row quantile sketch broadcast
  * and the bounded per-chunk packing windows.
  *
  * Usage: runMain graft.pipeline.RunMix [docsDir] [outDir]
  *          [--epoch N] [--epochs E] [--budget TOKENS] [--curriculum]
  *          [--targets src=ppm,... --target-budget TOKENS]
  *          [--accepted]
  * `--manifest` additionally writes the x56 per-sequence fill audit
  * to `manifest/`, computed from the read-back of the written stream
  * (no second packing lineage).
  * `--accepted` treats `docsDir` as a [[RunIntake]] stateDir and
  * mixes its `accepted/` sink directly (pre-scored handoff — the
  * funnel's own n_tokens/quality, no re-tokenization; crash-replay
  * duplicate appends collapse by doc_id) — the incremental-corpus →
  * training-mix composition.
  * `--curriculum` packs the TOP quality band first within every chunk
  * (x78 — the curriculum-ordered training stream; single-epoch only).
  * `--targets`/`--target-budget` run stage 4 as the x73 MEASURED
  * mixture: per-source rates computed from the banding survivors' own
  * token totals against the target token distribution (untargeted
  * sources drop; unfillable targets visibly saturate at rate 1e6).
  * `--epochs E` builds epochs 0..E-1 in ONE run — one scoring scan,
  * per-epoch decorrelated orders, written as `epoch=<e>/` partitions
  * (each stream row-identical to a separate `--epoch e` run).
  * Defaults: /root/testdata/sf0.001 -> /tmp/graft_mix, epoch 0,
  * budget 256. `docsDir` must contain `documents.parquet`
  * (doc_id, text, lang, source, n_chars — TESTDATA.md shape; the
  * curated/ output of RunCurate works after renaming is not needed —
  * it carries doc_id/text/source).
  *
  * Outputs under outDir:
  *  packed/      (doc_id, source_name, bucket, n_tokens, chunk, seq,
  *               start_off) — one epoch of packed training rows,
  *               written clustered by (chunk, seq)
  *  report.json  per-stage counts + packed token total (one line)
  */
object RunMix {

  /** Per-band survival rates (band 1 = lowest quality quartile). The
    * default keeps the top two bands whole and thins the bottom. */
  val defaultBandRates: Map[Int, Double] =
    Map(1 -> 0.25, 2 -> 0.5, 3 -> 1.0, 4 -> 1.0)

  def main(args: Array[String]): Unit = {
    var epoch = 0
    var epochs: Option[Seq[Int]] = None
    var curriculum = false
    var accepted = false
    var manifest = false
    var budget = 256L
    var targets: Map[String, Long] = Map.empty
    var targetBudget: Option[Long] = None
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--epoch" =>
          require(i + 1 < args.length, "--epoch needs a number")
          epoch = args(i + 1).toInt; i += 1
        case "--epochs" =>
          require(i + 1 < args.length, "--epochs needs a count")
          epochs = Some(0 until args(i + 1).toInt); i += 1
        case "--budget" =>
          require(i + 1 < args.length, "--budget needs a token count")
          budget = args(i + 1).toLong; i += 1
        case "--curriculum" => curriculum = true
        case "--accepted" => accepted = true
        case "--manifest" => manifest = true
        case "--targets" =>
          require(i + 1 < args.length,
            "--targets needs src=ppm[,src=ppm...]")
          targets = args(i + 1).split(",").map { kv =>
            val Array(s, p) = kv.split("=", 2)
            s -> p.toLong
          }.toMap; i += 1
        case "--target-budget" =>
          require(i + 1 < args.length, "--target-budget needs a token count")
          targetBudget = Some(args(i + 1).toLong); i += 1
        case other => positional += other
      }
      i += 1
    }
    val docsDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = positional.drop(1).headOption.getOrElse("/tmp/graft_mix")
    val spark = graft.Sessions.local()
    require(targets.isEmpty == targetBudget.isEmpty,
      "--targets and --target-budget come together (the measured mixture)")
    // --accepted: docsDir is a RunIntake stateDir — mix the journey's
    // accepted/ sink directly. The sink carries the funnel's own
    // n_tokens/quality (trusted: computed on the curated text), so
    // this is the pre-scored handoff: a corpus that arrived over
    // months becomes a training mix WITHOUT any re-tokenization.
    // dropDuplicates(doc_id) absorbs the crash-replay contract's
    // possible duplicate appends (decisions never flip, so any copy
    // carries identical columns — an arbitrary survivor is exact).
    val docs =
      if (accepted)
        // the intake sink is a TxLog table: the mix can run DURING a
        // sync's takedown and still read one complete committed
        // version — this read needs no lease
        graft.operators.TxLog.snapshot(spark,
          RunIntake.acceptedRoot(spark, docsDir)).dropDuplicates("doc_id")
      else spark.read.parquet(s"$docsDir/documents.parquet")
    // default journey keeps every source whole (weight 1); pass an
    // explicit map through run() — or --targets/--target-budget for
    // the x73 measured mixture — to express a real mixture policy
    run(spark, docs, outDir, epoch, budget, epochs = epochs,
      tokenTargets = targetBudget.map(b => (targets, b)),
      curriculum = curriculum, preScored = accepted,
      manifest = manifest)
    spark.stop()
  }

  /** Build one epoch of the mix. `sourceWeights = None` keeps every
    * source whole (skips the mixture stage's down-sampling but still
    * tags `source_name`); `Some(map)` DROPS sources absent from the
    * map and down-samples present ones to their weight. `thresholds =
    * Some(artifact)` re-bands against previously persisted quantile
    * thresholds instead of re-sketching — the RESUME path: the sketch
    * aggregate's partials merge in shuffle-fetch order, so at a scale
    * where sketch buffers compress, re-sketching may drift within
    * sketch error between runs; re-banding against the recorded
    * artifact (written to report.json as `thresholds`) is exact.
    * Documents with NULL text score no quality and are dropped before
    * banding — reported as the input→scorable delta.
    *
    * PRE-SCORED input (the [[RunCorpus]] one-scan handoff): pass
    * `preScored = true` when `docs` already carries trusted
    * `n_tokens` AND `quality` columns — the curated output of
    * [[graft.operators.Curate]] does — and the scoring stage reuses
    * them instead of re-running [[TextAnalysis.docStats]] over the
    * text; the mix then never tokenizes at all. The handoff is an
    * EXPLICIT opt-in (ADVICE r7: a raw corpus that happens to carry
    * same-named columns of foreign semantics must not silently skip
    * scoring): `preScored = true` requires both columns present and
    * fails fast if any non-null-text row has a null or out-of-[0,1]
    * quality (a null quality would otherwise be counted "scorable"
    * yet silently dropped at banding); `preScored = false` always
    * re-scores, whatever columns the input carries. The two paths
    * agree exactly on curated text (asserted in MixSpec: the funnel's
    * quality is computed on the cleaned text, which IS the curated
    * text column). report.json carries a `pre_scored` marker.
    *
    * Report-cost fine print: the per-run counts are ONE extra
    * aggregate over (doc_id, text-null-ness) — column-pruned to
    * nothing heavier than a null mask — plus the 1-row read-back
    * aggregate of the packed output; the scoring/banding lineage runs
    * exactly once, in the packed write. Returns the per-stage counts
    * (also written as report.json). */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
      epoch: Int = 0, budget: Long = 256,
      bandRates: Map[Int, Double] = defaultBandRates,
      sourceWeights: Option[Map[String, Double]] = None,
      thresholds: Option[Seq[Double]] = None,
      preScored: Boolean = false,
      epochs: Option[Seq[Int]] = None,
      tokenTargets: Option[(Map[String, Long], Long)] = None,
      curriculum: Boolean = false,
      manifest: Boolean = false)
      : Seq[(String, Long)] = {
    require(!curriculum || epochs.isEmpty,
      "curriculum packing is single-epoch (band order replaces the " +
        "per-epoch decorrelation story; run per-epoch mixes instead)")
    def timed[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[mix] $stage%-8s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    require(bandRates.keySet == (1 to bandRates.size).toSet,
      s"bandRates must cover bands 1..k contiguously, got ${bandRates.keySet}")
    // a threshold artifact recorded under a different band count would
    // band rows outside bandRates' 1..k range, whose null rate silently
    // drops them (ADVICE r6) — reject the mismatch instead
    thresholds.foreach(t => require(t.size == bandRates.size - 1,
      s"resume thresholds artifact has ${t.size} cut points but bandRates " +
        s"defines ${bandRates.size} bands (needs ${bandRates.size - 1})"))

    // 1+2. score once (null text is unscorable -> dropped, accounted
    // below), band by quality quantile against an explicit threshold
    // artifact (computed here unless resuming with a recorded one)
    if (preScored) {
      require(Seq("n_tokens", "quality").forall(docs.columns.contains),
        "preScored = true but the input lacks n_tokens/quality columns " +
          s"(has ${docs.columns.mkString(", ")})")
      // fail fast on untrusted scores: one column-pruned aggregate
      // (null mask + two narrow columns), before any heavy stage
      val bad = docs.where(col("text").isNotNull)
        .agg(count_if(col("quality").isNull || col("quality") < 0 ||
          col("quality") > 1 || col("n_tokens").isNull).as("bad"))
        .collect().head.getLong(0)
      require(bad == 0L,
        s"preScored = true but $bad non-null-text rows carry a null or " +
          "out-of-[0,1] quality / null n_tokens — score them (preScored " +
          "= false) or fix the handoff")
    }
    val scored =
      if (preScored) docs.where(col("text").isNotNull)
        .withColumn("__quality", col("quality"))
      else docs
        .where(col("text").isNotNull)
        .withColumn("__stats", TextAnalysis.docStats(col("text")))
        .withColumn("n_tokens", col("__stats.n_tokens"))
        .withColumn("__quality",
          TextAnalysis.qualityScoreFromStats(col("text"), col("__stats")))
        .drop("__stats")
    val bandThresholds: Seq[Double] = thresholds.getOrElse {
      timed("sketch") {
        // k-1 doubles — a model-sized artifact (the IvfAnn pattern)
        Sampling.quantileThresholds(scored, "__quality",
            buckets = bandRates.size, exact = false)
          .collect().head.getSeq[Double](0)
      }
    }
    val banded = Sampling.bucketByThresholds(scored, "__quality",
      bandThresholds)

    // 3. band-weighted survival (same-salt nesting: raising a band's
    // rate later only ADDS survivors)
    val rateCol = element_at(typedLit(bandRates), col("bucket"))
    val sampled = Sampling.deterministicSampleByRate(
      banded, "doc_id", rateCol, salt = "band")

    // 4. per-source mixture — hand weights OR the x73 MEASURED form:
    // `tokenTargets = Some((targetsPpm, tokenBudget))` derives each
    // source's rate from the banding survivors' OWN token totals
    // against the target distribution (rate = min(1, budget·target /
    // tokens) — exact integer ppm, unfillable targets saturate
    // visibly at 1e6). The token state is one narrow extra aggregate
    // over the scoring lineage, the same cost class as the sketch
    // pass; untargeted sources drop (the target IS the mix).
    require(sourceWeights.isEmpty || tokenTargets.isEmpty,
      "pass sourceWeights (hand mixture) or tokenTargets (measured " +
        "mixture), not both")
    val mixed = (sourceWeights, tokenTargets) match {
      case (None, None) => sampled.withColumn("source_name", col("source"))
      case (Some(weights), _) => Sampling.weightedMixture(
        weights.toSeq.sortBy(_._1).map { case (name, w) =>
          (name, sampled.where(col("source") === name).drop("source"), w)
        }, "doc_id")
      case (None, Some((targets, tokBudget))) =>
        val state = sampled.groupBy(col("source"))
          .agg(coalesce(sum(col("n_tokens").cast("long")), lit(0L))
            .as("total_tokens"))
        val rates = Sampling.ratesFromState(state, "source", targets, tokBudget)
          .select(col("source"), col("rate_ppm"))
        Sampling.deterministicSampleByRatePpm(
            sampled.join(broadcast(rates), Seq("source")),
            "doc_id", col("rate_ppm"), salt = "mix")
          .drop("rate_ppm")
          .withColumn("source_name", col("source"))
    }

    // 5. epoch shuffle + packing under the token budget. `epochs =
    // Some(es)` packs EVERY epoch from the SAME scoring lineage — the
    // corpus is scored once, the epoch fan-out multiplies only the
    // metadata rows (MixSpec pins per-epoch row-identity with E
    // separate runs and the single scoring scan) — and writes
    // `epoch=<e>/` partitions so a training run reads only its epoch.
    val packed = epochs match {
      // curriculum: the TOP quality band trains first — the packing
      // band inverts the quality bucket (bucket k = best -> band 0),
      // shuffled within a band by the same epoch key (x78)
      case None if curriculum => Sampling.packSequencesCurriculum(
          mixed.withColumn("__band",
            lit(bandRates.size.toLong) - col("bucket")),
          "doc_id", "n_tokens", "__band", budget, epoch, chunks = 32)
        .select("doc_id", "source_name", "bucket", "n_tokens",
          "chunk", "seq", "start_off")
      case None => Sampling.packSequences(
          mixed, "doc_id", "n_tokens", budget, epoch, chunks = 32)
        .select("doc_id", "source_name", "bucket", "n_tokens",
          "chunk", "seq", "start_off")
      case Some(es) => Sampling.packSequencesEpochs(
          mixed, "doc_id", "n_tokens", budget, es, chunks = 32)
        .select("doc_id", "source_name", "bucket", "n_tokens",
          "epoch", "chunk", "seq", "start_off")
    }

    timed("write") {
      epochs match {
        case None =>
          packed.repartition(col("chunk"))
            .sortWithinPartitions("chunk", "seq", "start_off")
            .write.mode(SaveMode.Overwrite).parquet(s"$outDir/packed")
        case Some(_) =>
          packed.repartition(col("epoch"), col("chunk"))
            .sortWithinPartitions("epoch", "chunk", "seq", "start_off")
            .write.mode(SaveMode.Overwrite)
            .partitionBy("epoch").parquet(s"$outDir/packed")
      }
    }
    // one read-back aggregate for the report (the write already ran
    // the lineage; counting from the output avoids a second funnel —
    // the RunCurate lesson)
    val out = spark.read.parquet(s"$outDir/packed")
    // ship the x56 per-sequence manifest beside the stream when asked:
    // computed from the READ-BACK (no second packing lineage), grouped
    // per epoch when epochs were packed
    if (manifest) {
      Sampling.packingManifest(out, "n_tokens", budget,
          groupCols = if (epochs.isDefined) Seq("epoch", "chunk")
            else Seq("chunk"))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/manifest")
    }
    val seqCols =
      if (epochs.isDefined) Seq(col("epoch"), col("chunk"), col("seq"))
      else Seq(col("chunk"), col("seq"))
    val Seq(nRows, nSeqs, nTokens) = timed("report") {
      // coalesce: sum() is NULL over an empty mix (e.g. a weight map
      // naming no present source) — report zeros, don't throw
      out.agg(count(lit(1)),
          count_distinct(seqCols.head, seqCols.tail: _*),
          coalesce(sum("n_tokens"), lit(0L)))
        .collect().headOption.map(r =>
          Seq(r.getLong(0), r.getLong(1), r.getLong(2))).get
    }
    // input + scorable in ONE aggregate (ADVICE r6: two count()s were
    // two extra lineage executions) — column pruning reduces it to a
    // text null-mask scan; for parquet-backed docs that is footer
    // metadata plus definition levels, never the payload
    val Seq(nInput, nScorable) = docs
      .agg(count(lit(1)), count_if(col("text").isNotNull))
      .collect().headOption.map(r => Seq(r.getLong(0), r.getLong(1))).get
    val report = Seq(
      "input" -> nInput,
      "scorable" -> nScorable,
      "sampled" -> nRows,
      "sequences" -> nSeqs,
      "tokens_packed" -> nTokens,
      "epoch" -> epochs.fold(epoch.toLong)(_ => -1L),
      "epochs" -> epochs.fold(1L)(_.size.toLong),
      "budget" -> budget,
      "pre_scored" -> (if (preScored) 1L else 0L),
      "curriculum" -> (if (curriculum) 1L else 0L))
    report.foreach { case (k, v) => println(f"[mix] $k%-14s $v%d") }
    // thresholds ride along in the json so a resumed run can re-band
    // exactly (pass them back via run(thresholds = Some(...)))
    val json = (report.map { case (k, v) => s""""$k":$v""" } :+
        bandThresholds.mkString("\"thresholds\":[", ",", "]"))
      .mkString("{", ",", "}")
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "report.json"), json + "\n")
    report
  }
}
