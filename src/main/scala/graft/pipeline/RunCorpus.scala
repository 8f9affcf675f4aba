package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curate

/** The COMPLETE corpus journey — [[RunCurate]] then [[RunMix]] as one
  * runnable main with a one-scan handoff (r6 verdict item 4: RunMix
  * scored RAW docs; the real pipeline curates first):
  *
  *   raw documents ── curate funnel ──> curated/ ── mix ──> packed/
  *
  * Handoff contract (why the text is tokenized exactly ONCE across
  * both journeys):
  *  - the funnel already evaluates [[graft.operators.TextAnalysis
  *    .docStats]] on every cleaned document for its own filters, so
  *    the curated output carries `n_tokens` and `quality` alongside
  *    the cleaned text (plus `source`, passed through via
  *    `Config.keep`) — computed once, written once;
  *  - the mix stage reads the WRITTEN curated parquet (the
  *    [[graft.operators.Materialize]] read-back pattern, not the live
  *    funnel lineage — so no funnel stage can be re-executed by mix
  *    actions) and takes [[RunMix]]'s pre-scored path: banding,
  *    sampling, mixture and packing all run off the persisted columns
  *    without touching the text again.
  * The combined report derives from that single lineage: the funnel
  * counts come from [[Curate.curateAndReport]]'s one-aggregate audit,
  * the mix counts from the packed write's read-back — MixSpec asserts
  * `mix input == funnel kept`, the seam where the two journeys meet.
  *
  * Holdout (`--holdout h`, or `splitWeights` programmatically): a
  * LEAK-SAFE train/val/test split over the CURATED corpus —
  * [[graft.operators.Sampling.leakSafeSplit]] keyed on MinHash dup
  * clusters at `splitThreshold` (default 0.5: the curation funnel
  * already removed dups above `cfg.jaccardThreshold`, so the split
  * guard covers the 0.5–0.8 gray zone a plain hash split would let
  * straddle train/test). The mix then packs ONLY the train split;
  * val/test stay in `curate/splits/` for evaluation use.
  *
  * Usage: runMain graft.pipeline.RunCorpus [docsDir] [outDir]
  *          [--epoch N] [--epochs E] [--budget TOKENS] [--scrub-pii]
  *          [--eval PATH] [--holdout H] [--weights src=w,src=w]
  *          [--tokenizer K]
  * `--epochs E` packs epochs 0..E-1 from the one curated scoring
  * lineage, written as `mix/packed/epoch=<e>/` partitions.
  * `--tokenizer K` additionally trains a K-merge BPE tokenizer on the
  * SAME slice the mix packs (holdout text never shapes the
  * vocabulary) and ships it to `outDir/tokenizer/` ([[RunTokenizer]]).
  * Defaults: /root/testdata/sf0.001 -> /tmp/graft_corpus.
  * `--holdout 0.1` = train 0.8 / val 0.1 / test 0.1.
  *
  * Outputs under outDir:
  *  curate/curated/   the curated corpus (doc_id, text, lang_id,
  *                    quality, n_tokens, source)
  *  curate/splits/    (doc_id, split) when a holdout is requested
  *  curate/report.json per-stage funnel counts
  *  mix/packed/       one epoch of packed training rows (train split
  *                    only under a holdout)
  *  mix/report.json   mix counts + the banding threshold artifact
  *  report.json       both journeys' counts (+ split sizes) in one line
  */
object RunCorpus {

  def main(args: Array[String]): Unit = {
    var epoch = 0
    var epochs: Option[Seq[Int]] = None
    var budget = 256L
    var scrubPii = false
    var evalPath: Option[String] = None
    var holdout: Option[Double] = None
    var weights: Option[Map[String, Double]] = None
    var tokenizer: Option[Int] = None
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
        case "--scrub-pii" => scrubPii = true
        case "--eval" =>
          require(i + 1 < args.length, "--eval needs a parquet path")
          evalPath = Some(args(i + 1)); i += 1
        case "--holdout" =>
          require(i + 1 < args.length, "--holdout needs a fraction")
          holdout = Some(args(i + 1).toDouble); i += 1
        case "--weights" =>
          require(i + 1 < args.length, "--weights needs src=w,src=w")
          weights = Some(args(i + 1).split(",").map { kv =>
            val Array(k, v) = kv.split("=", 2); (k, v.toDouble)
          }.toMap); i += 1
        case "--tokenizer" =>
          require(i + 1 < args.length, "--tokenizer needs a merge count")
          tokenizer = Some(args(i + 1).toInt); i += 1
        case other => positional += other
      }
      i += 1
    }
    val docsDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = positional.drop(1).headOption.getOrElse("/tmp/graft_corpus")
    val spark = graft.Sessions.local()
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val eval = evalPath.map(p => spark.read.parquet(p))
    run(spark, docs, outDir,
      Curate.Config(scrubPii = scrubPii, keep = Seq("source")),
      eval, epoch, budget,
      sourceWeights = weights,
      epochs = epochs,
      splitWeights = holdout.map(h =>
        Seq("train" -> (1.0 - 2 * h), "val" -> h, "test" -> h)),
      tokenizerMerges = tokenizer)
    spark.stop()
  }

  /** Curate into `outDir/curate`, then mix the read-back curated
    * corpus into `outDir/mix`. `cfg.keep` must include every input
    * column the mix needs beyond the funnel's own outputs (`source`
    * for the mixture stage — enforced here rather than discovered as
    * a missing-column error three stages in). With `splitWeights`, a
    * leak-safe split is computed over the curated corpus (dup
    * clusters at `splitThreshold` — below the funnel's own dedup
    * threshold, closing the gray zone), persisted to
    * `outDir/curate/splits`, and ONLY the `mixSplit` slice feeds the
    * mix. Returns (funnel counts, mix counts); also writes the
    * combined report.json. */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
      cfg: Curate.Config = Curate.Config(keep = Seq("source")),
      eval: Option[DataFrame] = None,
      epoch: Int = 0, budget: Long = 256,
      bandRates: Map[Int, Double] = RunMix.defaultBandRates,
      sourceWeights: Option[Map[String, Double]] = None,
      splitWeights: Option[Seq[(String, Double)]] = None,
      splitThreshold: Double = 0.5,
      mixSplit: String = "train",
      epochs: Option[Seq[Int]] = None,
      tokenizerMerges: Option[Int] = None)
      : (Seq[(String, Long)], Seq[(String, Long)]) = {
    require(cfg.keep.contains("source"),
      "RunCorpus needs cfg.keep to carry 'source' into the curated " +
        "output — the mix stage's mixture/packing read it")
    val curateReport = RunCurate.run(spark, docs, s"$outDir/curate", cfg, eval)
    val curated = spark.read.parquet(s"$outDir/curate/curated")
    val (mixInput, splitCounts) = splitWeights match {
      case None => (curated, Nil)
      case Some(w) =>
        require(w.exists(_._1 == mixSplit),
          s"splitWeights must contain the mix split '$mixSplit', got $w")
        // leak-safe over the CURATED text (== cleaned text), pairs at
        // the gray-zone threshold, persisted for evaluation use
        graft.operators.Sampling.leakSafeSplit(curated, "doc_id",
            graft.operators.Dedup.minHashDupPairs(curated, "doc_id", "text",
              cfg.shingleN, cfg.minhashK, cfg.bands, splitThreshold),
            w)
          .select("doc_id", "split")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/curate/splits")
        val splits = spark.read.parquet(s"$outDir/curate/splits")
        val counts = splits.groupBy("split").count().collect()
          .map(r => s"split_${r.getString(0)}" -> r.getLong(1)).toSeq.sortBy(_._1)
        // read-back semi-join: the mix never re-runs the pair jobs
        (curated.join(splits.where(col("split") === mixSplit)
          .select("doc_id"), Seq("doc_id"), "left_semi"), counts)
    }
    val mixReport = RunMix.run(spark, mixInput, s"$outDir/mix",
      epoch, budget, bandRates, sourceWeights, preScored = true,
      epochs = epochs)
    // --tokenizer K: ship the BPE artifact trained on the SAME slice
    // the mix packs (the training distribution — a holdout's val/test
    // text never shapes the vocabulary, the leak rule applied to the
    // tokenizer itself). One extra wordState scan of the train slice;
    // every merge round after that is vocab-sized (RunTokenizer).
    val tokReport = tokenizerMerges.map { k =>
      RunTokenizer.runOn(spark,
        graft.operators.Bpe.wordState(mixInput, "text"),
        s"$outDir/tokenizer", merges = k, fromState = false)
        .collect { case (key, v: Long) => (s"tokenizer_$key", v)
                   case (key, v: Int) => (s"tokenizer_$key", v.toLong) }
    }.getOrElse(Nil)
    val json = (curateReport.map { case (k, v) => s""""curate_$k":$v""" } ++
        splitCounts.map { case (k, v) => s""""$k":$v""" } ++
        mixReport.map { case (k, v) => s""""mix_$k":$v""" } ++
        tokReport.map { case (k, v) => s""""$k":$v""" })
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "report.json"), json + "\n")
    (curateReport, splitCounts ++ mixReport ++ tokReport)
  }
}
