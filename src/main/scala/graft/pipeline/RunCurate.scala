package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curate

/** End-to-end corpus-curation run — the runnable user journey for the
  * training-data funnel, mirroring what [[RunPipeline]] is for the
  * reference's medallion pipeline: documents parquet in, curated
  * corpus + per-stage audit report out.
  *
  * Usage: runMain graft.pipeline.RunCurate [docsDir] [outDir] [flags]
  * Defaults: /root/testdata/sf0.001 -> /tmp/graft_curate.
  * `docsDir` must contain `documents.parquet`
  * (doc_id, text, lang, source, n_chars — TESTDATA.md shape).
  *
  * Flags:
  *  --scrub-pii        redact URLs/emails/IPs/phones surviving the
  *                     cleaner into typed placeholder tokens
  *  --eval <parquet>   held-out eval corpus for decontamination
  *                     (needs doc_id + text columns); any document
  *                     sharing a contamination n-gram with it is
  *                     dropped in stage 5
  *  --strip-spans N    post-funnel exact-substring span dedup (x82):
  *                     the WRITTEN curated corpus is read back and
  *                     every >=N-token span repeated across survivors
  *                     is cut except its first occurrence, written to
  *                     curated_spanfree/ (the funnel's doc/fuzzy tiers
  *                     drop whole near-copies; this removes the copied
  *                     paragraphs they are too coarse to see)
  *  --shards N         also export the curated corpus as WebDataset
  *                     shards (real ustar archives of real gzip
  *                     members, N docs per shard) under shards/ —
  *                     the packaging a training loader consumes
  *
  * Outputs under outDir:
  *  curated/           surviving documents (doc_id, text, lang_id,
  *                     quality) — cleaned text, deterministic survivors
  *  report.json        per-stage survivor counts (one line, the same
  *                     single-aggregate audit [[Curate.report]] runs)
  *
  * The funnel itself (clean → filter → exact dedup → MinHash fuzzy
  * dedup → decontaminate) and its defaults live in [[Curate.Config]];
  * this main adds only I/O and timing.
  */
object RunCurate {

  def main(args: Array[String]): Unit = {
    var scrubPii = false
    var evalPath: Option[String] = None
    var stripSpans: Option[Int] = None
    var shards: Option[Int] = None
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--scrub-pii" => scrubPii = true
        case "--eval" =>
          require(i + 1 < args.length, "--eval needs a parquet path")
          evalPath = Some(args(i + 1)); i += 1
        case "--strip-spans" =>
          require(i + 1 < args.length, "--strip-spans needs a token width")
          stripSpans = Some(args(i + 1).toInt); i += 1
        case "--shards" =>
          require(i + 1 < args.length, "--shards needs a docs-per-shard count")
          shards = Some(args(i + 1).toInt); i += 1
        case other => positional += other
      }
      i += 1
    }
    val docsDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = positional.drop(1).headOption.getOrElse("/tmp/graft_curate")
    val spark = graft.Sessions.local()
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val eval = evalPath.map(p => spark.read.parquet(p))
    run(spark, docs, outDir, Curate.Config(scrubPii = scrubPii), eval,
      stripSpans, shards)
    spark.stop()
  }

  /** Execute the funnel ONCE: [[Curate.curateAndReport]] persists the
    * bounded per-stage id frames, writes the survivors, and derives
    * the audit counts from the same lineage — MinHash pair generation
    * and the iterative cluster jobs run a single time per invocation
    * (calling curate() then report() re-ran them both).
    * Returns the per-stage counts (also written as report.json). */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
      cfg: Curate.Config = Curate.Config(),
      eval: Option[DataFrame] = None,
      stripSpans: Option[Int] = None,
      shards: Option[Int] = None): Seq[(String, Long)] = {
    def timed[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[curate] $stage%-8s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val evalSpec = eval.map(ev => (ev, "doc_id", "text"))
    val report = timed("funnel") {
      Curate.curateAndReport(docs, "doc_id", "text", cfg, evalSpec) {
        survivors => timed("write") {
          survivors.write.mode(SaveMode.Overwrite).parquet(s"$outDir/curated")
        }
      }
    }
    // optional span tier: rewrite the WRITTEN survivors (read-back —
    // the funnel executed once; the span pass starts from the durable
    // seam, so a resumed run replays it without re-running the funnel)
    val spanKeys = stripSpans.toSeq.flatMap { n =>
      timed("spans") {
        val cur = spark.read.parquet(s"$outDir/curated")
        // the rewrite carries its own n_tokens/n_removed; keep the
        // funnel's other survivor columns (lang_id, quality, ...)
        graft.operators.Dedup.stripDuplicateSpans(cur, "doc_id", "text", n)
          .join(cur.drop("text", "n_tokens"), Seq("doc_id"))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/curated_spanfree")
        val r = spark.read.parquet(s"$outDir/curated_spanfree")
          .agg(coalesce(sum("n_tokens"), lit(0L)).as("t"),
            coalesce(sum("n_removed"), lit(0L)).as("r")).head
        Seq("span_tokens_total" -> r.getLong(0),
          "span_tokens_removed" -> r.getLong(1))
      }
    }
    // optional shard export: package the curated corpus as WebDataset
    // shards from the durable seam (the curated/ read-back), the
    // packaging a training loader consumes; round-trip identity is
    // the x146 contract
    val shardKeys = shards.toSeq.map { n =>
      timed("shards") {
        val cur = spark.read.parquet(s"$outDir/curated")
        graft.operators.Multimodal
          .writeWebShards(cur, "doc_id", "text", n)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/shards")
        "n_shards" -> spark.read.parquet(s"$outDir/shards").count()
      }
    }
    val fullReport = report ++ spanKeys ++ shardKeys
    fullReport.foreach { case (stage, n) =>
      println(f"[curate] $stage%-12s $n%d")
    }
    val json = fullReport.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "report.json"), json + "\n")
    fullReport
  }
}
