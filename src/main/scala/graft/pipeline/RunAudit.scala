package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IvfAnn, Kmv, Sampling, SkewJoin, TableProfile, TextAnalysis}

/** The CORPUS-HEALTH AUDIT journey — one spark-submit that runs the
  * monitor suite over a corpus and leaves a review-ready audit
  * directory: the round's "every lossy tier ships its measured loss"
  * operators, operationalized as a single scheduled job instead of
  * six ad-hoc queries.
  *
  *   profile/            per-source report card (x49 `corpusProfile`)
  *   hist/               per-source quality-histogram state (x70
  *                       `profileHistState`, 64 bins) — the mergeable
  *                       snapshot the NEXT audit diffs against
  *   drift/              per-source total-variation distance vs the
  *                       `--prev` audit's hist/ (x71
  *                       `profileHistDrift`) — present only with
  *                       `--prev`
  *   dsir/               the corpus's hashed bag-of-ngrams count
  *                       state (x77, `RunIntake.dsirStateBuckets`
  *                       buckets) — the content snapshot the NEXT
  *                       audit diffs against
  *   content_drift/      KL divergence of THIS corpus's content vs
  *                       the `--prev` audit's dsir/ state (x80) —
  *                       topic/vocabulary shift the quality drift
  *                       can't see; present only with `--prev`
  *   dup_matrix/         cross-source duplication matrix over the
  *                       MinHash pair relation (x59)
  *   overlap_matrix/     pairwise source-overlap estimates from
  *                       grouped KMV sketches of each source's
  *                       digest space (x116) — near-dup pairs vs
  *                       exact-content set overlap, side by side
  *   family_sizes/       dup-family size histogram over the same pair
  *                       relation, bucketed by exact integer log2
  *                       (x74) — plus dup_families / largest_family
  *                       report keys
  *   minhash_accuracy/   estimated-vs-exact Jaccard on the tier's own
  *                       candidates (x63)
  *   banding_recall/     the LSH S-curve on a bounded sample (x64)
  *   table_profile/      ANALYZE statistics of the corpus table (x93
  *                       `TableProfile.profile`: nulls/NDV/bounds)
  *   heavy_sources/      source-key skew preflight (x92
  *                       `SkewJoin.heavyKeys`)
  *   fluency_bands/      doc counts per mean-nll quartile under the
  *                       corpus's own dsir/ snapshot model (x97) —
  *                       plus a fluency_docs_by_band report key
  *   ivf_cells/          IVF cell-balance profile (x61)
  *   ann_recall/         IVF recall@k vs brute force on a bounded
  *                       query sample (x62)
  *   pq_recall/          IVF-PQ (8-byte codes) recall@k vs the exact
  *                       ranking on the same query sample (x129) —
  *                       both compressions' measured loss side by side
  *   report.json         one line of corpus-level numbers
  *
  * Every output is dashboard-sized (per-source rows, per-band rows,
  * per-cell rows, per-sampled-query rows) — the expensive inputs are
  * the same bounded shapes the catalog queries pin: the banding
  * ground truth and the ANN exact side run on SAMPLES (the quadratic
  * contracts of [[Dedup.lshBandingRecall]] / [[IvfAnn.recallAtK]]),
  * candidates come from the banded join, and nothing collects more
  * than an audit table. Deterministic end to end: reruns produce
  * byte-identical audit rows (every draw is md5-derived, every ppm
  * floored integer).
  *
  * Usage: runMain graft.pipeline.RunAudit [corpusDir] [outDir]
  *          [--sample N] [--queries Q] [--prev prevAuditDir]
  * `corpusDir` must contain `documents.parquet`; `embeddings.parquet`
  * is optional — without it the two vector monitors are skipped (and
  * report.json says so). `--prev` names the LAST audit's output dir:
  * its persisted hist/ state is diffed against this run's (a join of
  * two model-sized artifacts — the previous CORPUS is never re-read),
  * surfacing per-source quality-distribution drift since that audit. */
object RunAudit {

  def main(args: Array[String]): Unit = {
    var sample = 300
    var queries = 50
    var prev: Option[String] = None
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--sample" =>
          require(i + 1 < args.length, "--sample needs a doc count")
          sample = args(i + 1).toInt; i += 1
        case "--queries" =>
          require(i + 1 < args.length, "--queries needs a count")
          queries = args(i + 1).toInt; i += 1
        case "--prev" =>
          require(i + 1 < args.length, "--prev needs an audit dir")
          prev = Some(args(i + 1)); i += 1
        case other => positional += other
      }
      i += 1
    }
    val corpusDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = positional.drop(1).headOption.getOrElse("/tmp/graft_audit")
    val spark = graft.Sessions.local()
    val emb = {
      val p = new org.apache.hadoop.fs.Path(s"$corpusDir/embeddings.parquet")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Some(spark.read.parquet(s"$corpusDir/embeddings.parquet"))
      else None
    }
    run(spark, spark.read.parquet(s"$corpusDir/documents.parquet"), emb,
      outDir, sample, queries, prev)
    spark.stop()
  }

  /** One audit run. Returns the report pairs written to report.json. */
  def run(spark: SparkSession, docs: DataFrame, embeddings: Option[DataFrame],
      outDir: String, sampleDocs: Int = 300, annQueries: Int = 50,
      prevAuditDir: Option[String] = None)
      : Seq[(String, String)] = {
    val t0 = System.nanoTime()
    def save(df: DataFrame, name: String): DataFrame = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
      spark.read.parquet(s"$outDir/$name")
    }
    // 1. per-source report card — one DocStats scan
    val profile = save(
      TextAnalysis.corpusProfile(docs, "source", "text", "n_chars"),
      "profile")
    // 1b. the mergeable quality-histogram snapshot (one more DocStats
    // scan of THIS corpus), then drift vs the previous audit's
    // persisted snapshot — a join of two model-sized artifacts; the
    // previous corpus is never re-read. Each audit writes to its own
    // dir (dated), so --prev must not alias outDir: hist/ is written
    // before the drift reads prev's.
    require(!prevAuditDir.contains(outDir),
      s"--prev must name a DIFFERENT audit dir than $outDir")
    val hist = save(
      TextAnalysis.profileHistState(docs, "source", "text", bins = 64),
      "hist")
    val drift = prevAuditDir.map { p =>
      save(TextAnalysis.profileHistDrift(
        spark.read.parquet(s"$p/hist"), hist, "source"), "drift")
    }
    // 1c. the CONTENT snapshot (x77 count state) and, with --prev,
    // the x80 divergence of this corpus's content vs the previous
    // audit's — both state-sized; KL(now ‖ prev) so "new content the
    // old model doesn't explain" is what moves the number
    val dsirNow = save(Sampling.dsirState(docs, "text",
      buckets = RunIntake.dsirStateBuckets, salt = "dsir"), "dsir")
    val contentDrift = prevAuditDir.map { p =>
      save(Sampling.dsirDivergence(dsirNow,
          spark.read.parquet(s"$p/dsir"), RunIntake.dsirStateBuckets),
        "content_drift")
    }
    // 1d. table statistics, source-key skew, and the fluency profile —
    // all audit-cheap: the ANALYZE pass is one scan (x93), heavy
    // sources one hash agg over a 1-column projection (x92), and the
    // fluency profile scores the corpus against the dsir snapshot just
    // written (x97 — the model is state-sized, no second featurize of
    // anything but the docs' own fan-out) then bands mean-nll into
    // quartiles (sketch thresholds, no sort)
    save(TableProfile.profile(docs,
      Seq("doc_id", "lang", "source", "n_chars")), "table_profile")
    save(SkewJoin.heavyKeys(docs.select("source"), "source", k = 20),
      "heavy_sources")
    val fluency = save(
      Sampling.quantileBuckets(
        Sampling.lmScores(docs,
            Sampling.lmModelFromState(dsirNow, RunIntake.dsirStateBuckets),
            "doc_id", "text", buckets = RunIntake.dsirStateBuckets,
            salt = "dsir")
          .where(col("n_feats") > 0)
          .select(col("doc_id"), col("mean_nll_unats")),
        "mean_nll_unats", buckets = 4)
        .groupBy("bucket").agg(count(lit(1)).as("n_docs")),
      "fluency_bands")
    // 2. the fuzzy tier's pair relation once, three views of it
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5)
    val matrix = save(
      Dedup.crossSourceDupMatrix(pairs, docs, "doc_id", "source"),
      "dup_matrix")
    // 2b. the set-OVERLAP view of the same cross-source question:
    // grouped KMV sketches of each source's exact-digest space (ONE
    // bounded-aggregate scan) → every pairwise union/Jaccard/
    // intersection estimate from the ≤ sources·k-row sketch relation
    // (the x116 shape). dup_matrix counts NEAR-dup candidate pairs;
    // this estimates EXACT-content overlap — the "is source B a
    // re-crawl of source A" planning number
    val overlap = save(
      Kmv.pairwiseOverlap(
        Kmv.groupedBuild(
          docs.select(col("source"), md5(col("text")).as("dg")),
          col("source"), col("dg"), k = 64),
        k = 64),
      "overlap_matrix")
    val accuracy = save(
      Dedup.minHashAccuracyAudit(docs, "doc_id", "text",
        shingleN = 3, k = 64, bands = 16),
      "minhash_accuracy")
    // family-mass view of the same pair relation: the labels frame is
    // checkpointed by dupClusters, so sizes + histogram + the largest-
    // family report number share one components run
    val famSizes = Dedup.dupClusters(pairs)
      .groupBy("label").agg(count(lit(1)).as("size"))
    val famHist = save(famSizes
      .groupBy(length(bin(col("size"))).cast("long").as("size_bits"))
      .agg(count(lit(1)).as("n_families"), sum(col("size")).as("n_docs")),
      "family_sizes")
    val largestFamily = famSizes
      .agg(coalesce(max(col("size")), lit(0L))).head().getLong(0)
    // 3. the banding S-curve on the bounded sample (the x64 contract)
    val sampleIds = Sampling001.sampleIds(docs, sampleDocs)
    val recallBands = save(
      Dedup.lshBandingRecall(
        docs.join(sampleIds, Seq("doc_id"), "left_semi"),
        "doc_id", "text", shingleN = 3, k = 64, bands = 16,
        minJaccardPpm = 50000L),
      "banding_recall")
    // 4. vector monitors, when embeddings exist
    val vec = embeddings.map { emb =>
      val cents = IvfAnn.seedCentroidsInt(emb, "vec_id", "embedding",
        nlist = 16)
      val cells = save(
        IvfAnn.cellProfile(emb, "vec_id", "embedding", cents), "ivf_cells")
      val qs = emb
        .withColumn("__d", conv(substring(
          md5(col("vec_id").cast("string")), 1, 13), 16, 10).cast("long"))
        .orderBy("__d", "vec_id").limit(annQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val recall = save(
        IvfAnn.recallAtK(emb, qs, "vec_id", "embedding", "q_id", "q_vec",
          cents, k = 5, nprobe = 2),
        "ann_recall")
      // the PQ tier's measured loss beside the IVF tier's (r11):
      // 8-byte codes trade memory for recall — the audit reads BOTH
      // compressions' realized recall on the same query sample
      val cb = graft.operators.Pq.trainSeededResiduals(
        emb, "vec_id", "embedding", cents, m = 8, ncode = 16)
      val pqRecall = save(
        graft.operators.Pq.recallAuditIvfPq(emb, "vec_id", "embedding",
          qs, "q_id", "q_vec", cents, cb, k = 5, nprobe = 2),
        "pq_recall")
      (cells, recall, pqRecall)
    }
    // 5. the one-line corpus summary — every input is audit-sized
    val nDocs = docs.count()
    val nSources = profile.count()
    val nPairs = accuracy.count()
    val worstErr =
      if (nPairs == 0) 0L
      else accuracy.agg(max(abs(col("err_ppm")))).head().getLong(0)
    val bandRows = recallBands.collect().sortBy(_.getAs[Long]("band_ppm"))
    val bandSummary = bandRows.map(r =>
      s""""${r.getAs[Long]("band_ppm")}":${r.getAs[Long]("catch_ppm")}""")
      .mkString("{", ",", "}")
    val vecSummary = vec.map { case (cells, recall, pqRecall) =>
      val maxShare = cells.agg(max("share_ppm")).head().getLong(0)
      val avgRecall = recall.agg(
        floor(avg("recall_ppm")).cast("long")).head().getLong(0)
      val pqPpm = pqRecall.head().getAs[Long]("recall_ppm")
      Seq("ivf_max_cell_share_ppm" -> maxShare.toString,
        "ann_avg_recall_ppm" -> avgRecall.toString,
        "pq_recall_ppm" -> pqPpm.toString)
    }.getOrElse(Seq("vector_monitors" -> "\"skipped: no embeddings.parquet\""))
    val driftSummary = drift.map { d =>
      // tv is floored to 6dp, so tv*1e6 is an exact integer ppm
      d.select(col("source"),
          round(col("tv") * 1e6).cast("long").as("ppm"))
        .orderBy(col("ppm").desc, col("source")).take(1).headOption
        .map(worst =>
          Seq("max_drift_tv_ppm" -> worst.getAs[Long]("ppm").toString,
            "max_drift_source" -> s""""${worst.getAs[String]("source")}""""))
        .getOrElse(Seq("drift" -> "\"both snapshots empty\""))
    }.getOrElse(Seq("drift" -> "\"skipped: no --prev audit dir\""))
    val contentSummary = contentDrift.map { d =>
      Seq("content_kl_micronats" ->
        d.head().getAs[Long]("kl_micronats").toString)
    }.getOrElse(Seq("content_drift" -> "\"skipped: no --prev audit dir\""))
    val report = Seq(
      "n_docs" -> nDocs.toString,
      "n_sources" -> nSources.toString,
      "dup_candidate_pairs" -> nPairs.toString,
      "dup_families" -> famHist.agg(
        coalesce(sum("n_families"), lit(0L))).head().getLong(0).toString,
      "largest_family" -> largestFamily.toString,
      "minhash_worst_abs_err_ppm" -> worstErr.toString,
      "max_source_overlap_ppm" -> overlap
        .agg(coalesce(max("jaccard_ppm"), lit(0L))).head().getLong(0).toString,
      "banding_catch_by_band" -> bandSummary,
      "fluency_docs_by_band" -> fluency.collect()
        .sortBy(_.getAs[Int]("bucket"))
        .map(r => s""""${r.getAs[Int]("bucket")}":${r.getAs[Long]("n_docs")}""")
        .mkString("{", ",", "}")) ++ vecSummary ++
      driftSummary ++ contentSummary ++ Seq(
      "millis" -> ((System.nanoTime() - t0) / 1000000L).toString)
    // values are already JSON-ready: numbers bare, the band map an
    // object, the skipped marker pre-quoted
    val json = report.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "report.json"), json + "\n")
    report.foreach { case (k, v) => println(f"[audit] $k%-28s $v%s") }
    report
  }

  /** The audit's doc sample: the `n` smallest md5 draws — consistent
    * under growth (the [[graft.operators.Sampling]] rationale), so
    * week-over-week audits measure overlapping populations. */
  private object Sampling001 {
    def sampleIds(docs: DataFrame, n: Int): DataFrame =
      docs.select(col("doc_id"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast("long").as("__d"))
        .orderBy("__d", "doc_id").limit(n)
        .select("doc_id")
  }
}
