package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming surface for the `documents` table shape — the
  * streaming form of corpus INTAKE: documents land in the lake
  * continuously, and the map-only curation stages (clean → language /
  * quality / length scoring → filter) plus content-fingerprint dedup
  * run incrementally instead of as a nightly batch.
  *
  * Everything before the dedup is stateless column algebra — the SAME
  * expression trees [[graft.operators.Curate]] uses — so the streaming
  * and batch forms agree by construction. The dedup is
  * `dropDuplicates(fingerprint)`: state is one 32-char digest per
  * distinct surviving document, which is the irreducible state of
  * exact streaming dedup (to ever drop a duplicate of a document you
  * must remember you saw it). At 100 TB of history, keep the streaming
  * dedup scoped to a rolling intake window and run the lake-wide pass
  * as the incremental batch join ([[graft.operators.Dedup
  * .incrementalSurvivors]], query x20) — the state then lives in the
  * lake, not the state store.
  */
object DocStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of document parquet files. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** File-source stream over a directory of embedding parquet files
    * (the `embeddings` table shape, id + vector). */
  def readVecs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(vecSchema).parquet(dir)

  /** Map-only intake stages (stateless, identical in stream and batch):
    * clean, score from the ONE-PASS stats struct (the lambda-free form
    * that survives predicate-pushdown inlining — see
    * [[TextAnalysis.docStats]]), filter. */
  private def scoreAndFilter(docs: DataFrame, langs: Seq[String],
      minQuality: Double, minTokens: Int): DataFrame = {
    val cleaned = docs.withColumn("__clean", TextAnalysis.cleanText(col("text")))
      .withColumn("__stats", TextAnalysis.docStats(col("__clean")))
      .withColumn("lang_id", TextAnalysis.langIdFromStats(col("__stats")))
      .withColumn("quality",
        TextAnalysis.qualityScoreFromStats(col("__clean"), col("__stats")))
    cleaned
      .where(col("lang_id").isin(langs: _*) &&
        col("__stats").getField("n_tokens") >= minTokens &&
        col("quality") >= minQuality)
      .withColumn("fingerprint", TextAnalysis.fingerprint(col("__clean")))
      .select(col("doc_id"), col("fingerprint"), col("lang_id"),
        col("quality"), col("__clean").as("text"))
  }

  /** Streaming intake: filter + first-arrival-wins fingerprint dedup.
    * The survivor of a duplicate group is the first to ARRIVE (the
    * streaming notion of "first"); the batch twin's survivor is the
    * min doc_id — compare the two on fingerprint SETS, which agree
    * exactly. */
  def intake(docs: DataFrame, langs: Seq[String] = Seq("en", "und"),
      minQuality: Double = 0.0, minTokens: Int = 1): DataFrame =
    scoreAndFilter(docs, langs, minQuality, minTokens)
      .dropDuplicates("fingerprint")

  /** Batch twin of [[intake]] — same stages on a bounded frame, min
    * doc_id as the deterministic survivor. */
  def intakeBatch(docs: DataFrame, langs: Seq[String] = Seq("en", "und"),
      minQuality: Double = 0.0, minTokens: Int = 1): DataFrame = {
    val scored = scoreAndFilter(docs, langs, minQuality, minTokens)
    val firstPerFp = scored.groupBy("fingerprint")
      .agg(min(col("doc_id")).as("doc_id"))
    scored.join(firstPerFp, Seq("fingerprint", "doc_id"))
  }

  /** Streaming intake deduped against a PERSISTED corpus signature
    * index ([[graft.operators.Dedup.buildFuzzyIndex]]): every
    * micro-batch is probed with
    * [[graft.operators.Dedup.incrementalFuzzySurvivors]] — map-side
    * signing, static shard-filtered reads of the index, exact Jaccard
    * verify — and only batch documents with NO near-duplicate already
    * in the corpus are appended to `outPath`.
    *
    * Why `foreachBatch` and not a stream-static join chain: the probe
    * needs an any-candidate-passes decision per document (an
    * aggregation over the exploded band candidates), which as a pure
    * streaming plan would force update-mode state; per-batch probing
    * keeps the pipeline append-only, and because the probe checks the
    * batch ONLY against the corpus index, the result is independent of
    * how the stream is micro-batched — the union of per-batch
    * survivors equals one batch probe of the whole intake (asserted in
    * StreamingSpec). This is the streaming half of the x20/x41 story:
    * exact streaming dedup keeps a digest in the state store, fuzzy
    * streaming dedup keeps the state in the LAKE (the index) where a
    * 100 TB corpus's signatures actually fit.
    *
    * Returns the started query; callers own termination/checkpointing
    * (checkpoint dir = `outPath + "/_checkpoint"`). */
  def intakeAgainstFuzzyIndex(spark: SparkSession, docs: DataFrame,
      indexPath: String, outPath: String, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Dedup.incrementalFuzzySurvivors(
            spark, indexPath, batch.toDF(), "doc_id", "text", threshold)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$outPath/survivors")
        ()
      }
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .start()

  /** Streaming intake against a GROWING exact digest index
    * ([[graft.operators.Dedup.buildExactIndex]]) — the exact-tier
    * sibling of [[intakeAndGrowFuzzyIndex]], and the lake-scale
    * replacement for [[intake]]'s `dropDuplicates` state: the seen-
    * digest set lives shard-partitioned in the lake, each micro-batch
    * probes only the shards its own digests hash to, and accepted
    * rows append to just those shards. First-wins over arrival
    * order; exact duplicates arriving any number of batches apart
    * collapse to the first. */
  def intakeAndGrowExactIndex(spark: SparkSession, docs: DataFrame,
      indexPath: String, outPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Dedup.intakeStepAgainstExactIndex(
            spark, indexPath, batch.toDF(), "doc_id",
            org.apache.spark.sql.functions.col("text"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$outPath/survivors")
        ()
      }
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .start()

  /** Streaming intake through the FULL incremental curation funnel —
    * the composition of the two growing-index intakes below under the
    * [[graft.operators.Curate]] stage order: each micro-batch runs one
    * [[graft.operators.Curate.intakeStep]] (clean/filter → growing
    * exact digest tier → growing fuzzy signature tier → optional
    * decontamination) and appends the accepted rows — in the curated
    * output projection — to `outPath/survivors`. The FIRST non-empty
    * micro-batch bootstraps any missing index tier from its own
    * survivors (the intakeStep contract), so no separate build call
    * precedes the stream. First-wins over arrival order; with id
    * order == arrival order it lands on the one-shot
    * [[graft.operators.Curate.curate]] of the concatenated corpus
    * (asserted in StreamingSpec). */
  def intakeAndCurate(spark: SparkSession, docs: DataFrame,
      exactIndexPath: String, fuzzyIndexPath: String, outPath: String,
      cfg: graft.operators.Curate.Config = graft.operators.Curate.Config(),
      eval: Option[(DataFrame, String, String)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Curate.intakeStep(spark, batch.toDF(),
            "doc_id", "text", exactIndexPath, fuzzyIndexPath, cfg, eval)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$outPath/survivors")
        ()
      }
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .start()

  /** [[intakeAgainstFuzzyIndex]] with the r6-verdict gap closed: the
    * index GROWS. Each micro-batch runs one
    * [[graft.operators.Dedup.intakeStepAgainstFuzzyIndex]] —
    * within-batch fuzzy dedup, then the corpus probe, then the
    * accepted docs are APPENDED to the persisted index (only the
    * touched shard partitions gain files) — so a duplicate arriving
    * ten batches after its original is dropped even though neither was
    * in the build-time corpus. The trade vs the frozen-index intake:
    * results now depend on arrival order (first-wins — the only
    * coherent incremental semantics; with id order == arrival order it
    * lands exactly on the one-shot batch dedup, asserted in
    * StreamingSpec), and batches serialize on the index (foreachBatch
    * already does). State still lives in the LAKE, not the state
    * store; a replayed batch re-appends rows but cannot flip any
    * dup decision (see [[graft.operators.Dedup.appendToFuzzyIndex]]'s
    * idempotency note). */
  def intakeAndGrowFuzzyIndex(spark: SparkSession, docs: DataFrame,
      indexPath: String, outPath: String, threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Dedup.intakeStepAgainstFuzzyIndex(
            spark, indexPath, batch.toDF(), "doc_id", "text", threshold)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$outPath/survivors")
        ()
      }
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .start()

  /** Streaming SPAN intake — the substring tier's growing form
    * ([[graft.operators.Dedup.stripDuplicateSpans]] made
    * incremental): each micro-batch is REWRITTEN (not dropped) with
    * every n-token span cut whose keeper is already settled — in the
    * growing gram-membership index or earlier in the batch — and the
    * batch's new grams append to only the shards they hash to
    * ([[graft.operators.Dedup.intakeStepAgainstSpanIndex]]). The
    * FIRST batch FOUNDS the index (one-shot strip + build from its
    * own original grams); a crash between found and write replays
    * into the intake path, where the owner rule ignores the batch's
    * own crashed append — so the replay converges either way. With
    * id order == arrival order the concatenated rewrites equal the
    * one-shot strip of the whole corpus (the x83 oracle algebra).
    * Rewritten docs append to `outPath/rewritten`. */
  def intakeAndGrowSpanIndex(spark: SparkSession, docs: DataFrame,
      indexPath: String, outPath: String, n: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val meta = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
        val founded = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(meta)
        val out =
          if (founded)
            graft.operators.Dedup.intakeStepAgainstSpanIndex(
              spark, indexPath, batch.toDF(), "doc_id", "text")
          else {
            graft.operators.Dedup.buildSpanIndex(batch.toDF(),
              "doc_id", "text", n, indexPath)
            graft.operators.Dedup.stripDuplicateSpans(batch.toDF(),
              "doc_id", "text", n)
          }
        out.write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$outPath/rewritten")
        ()
      }
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .start()

  /** Streaming SEMANTIC intake over a vector stream — the embedding
    * tier's growing form, completing the streaming set alongside
    * [[intakeAndGrowExactIndex]] (digests) and
    * [[intakeAndGrowFuzzyIndex]] (MinHash signatures): each
    * micro-batch runs one
    * [[graft.operators.IvfAnn.intakeStepOrBootstrap]] — the FIRST
    * non-empty batch FOUNDS the index (centroids seeded from it and
    * frozen thereafter, the drift contract); every later batch
    * SemDeDups within itself, probes only the index cells it lands in,
    * and appends its accepted vectors — and the survivors append to
    * `outPath/survivors`. First-wins over arrival order; state lives
    * in the LAKE (the index), not the state store; a replayed batch
    * converges on the never-crashed decisions
    * ([[graft.operators.IvfAnn.intakeStepAgainstIndexInt]]'s
    * same-id-filter rule). */
  def intakeAndGrowSemanticIndex(spark: SparkSession, vecs: DataFrame,
      indexPath: String, outPath: String, threshold: Double = 0.9,
      nlist: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.IvfAnn.intakeStepOrBootstrap(
            spark, indexPath, batch.toDF(), "vec_id", "embedding",
            threshold, nlist)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$outPath/survivors")
        ()
      }
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .start()
}
