package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Audio, Dedup, Multimodal}

/** End-to-end MEDIA curation run — the audio/image twin of
  * [[RunCurate]]: synthesized media payloads in (the testdata corpus
  * carries no real media, so the packers derive deterministic WAVs /
  * PNGs / GIFs from the document ids — every downstream stage runs
  * the REAL decode paths), curated survivors + audit reports out.
  *
  * Usage: runMain graft.pipeline.RunMedia [docsDir] [outDir] [flags]
  * Defaults: /root/testdata/sf0.001 -> /tmp/graft_media.
  *
  * Flags:
  *  --batches N   split the image corpus into N arrival batches and
  *                intake them SEQUENTIALLY against the growing
  *                persisted fingerprint index (first-wins) instead of
  *                one-shot dedup — the incremental-ingest mode
  *
  * Stages:
  *  1. AUDIO: pack → [[Audio.curate]] (decode screen → VAD gate →
  *     clipping gate → fingerprint near-dup collapse) →
  *     `audio_survivors/` + funnel counts in report.json
  *  2. IMAGE: pack cross-format copies → [[Multimodal.imageAHash]]
  *     through the real decodes → either one-shot near-dup collapse
  *     or `--batches` sequential [[Dedup.hammingIntakeStep]]s against
  *     `image_index/` → `image_survivors/` + per-batch admit/drop
  *     counts
  */
object RunMedia {

  def main(args: Array[String]): Unit = {
    var batches = 1
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--batches" =>
          require(i + 1 < args.length, "--batches needs a count")
          batches = args(i + 1).toInt; i += 1
        case other => positional += other
      }
      i += 1
    }
    val docsDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = positional.drop(1).headOption.getOrElse("/tmp/graft_media")
    val spark = graft.Sessions.local()
    val ids = spark.read.parquet(s"$docsDir/documents.parquet")
      .select("doc_id")
    run(spark, ids, outDir, batches)
    spark.stop()
  }

  def run(spark: SparkSession, ids: DataFrame, outDir: String,
      batches: Int = 1): Seq[(String, Long)] = {
    def timed[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[media] $stage%-12s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    // ---- audio funnel
    val audioReport = timed("audio") {
      val packed = Audio.packCurateWavs(spark, ids, "doc_id")
      val (survivors, funnel) = Audio.curate(spark, packed)
      survivors.write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/audio_survivors")
      val f = funnel.collect().head
      Seq("audio_input" -> f.getLong(0), "audio_decoded" -> f.getLong(1),
        "audio_vad_pass" -> f.getLong(2), "audio_clip_pass" -> f.getLong(3),
        "audio_unique" -> f.getLong(4))
    }
    // ---- image fingerprint intake
    val imageReport = timed("image") {
      val half = math.max(1L, ids.agg(count(lit(1))).head.getLong(0) / 2)
      val sigs = Multimodal.imageAHash(spark,
        Multimodal.packImageCopies(spark, ids, "doc_id", half))
      val nSigs = sigs.count()
      if (batches <= 1) {
        val survivors = Dedup.clusterSurvivors(sigs, "media_id",
          Dedup.hammingNearDupPairs(sigs, bands = 8, bandBits = 8))
        survivors.write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/image_survivors")
        val kept = spark.read.parquet(s"$outDir/image_survivors").count()
        Seq("image_input" -> nSigs, "image_unique" -> kept)
      } else {
        val indexDir = s"$outDir/image_index"
        deleteDir(spark, indexDir)
        var admitted = 0L; var droppedIndexed = 0L; var droppedBatch = 0L
        (0 until batches).foreach { b =>
          val slice = sigs.where(pmod(col("media_id"),
            lit(batches.toLong)) === b)
          val (surv, dIdx, dBatch) =
            Dedup.hammingIntakeStep(spark, slice, indexDir)
          surv.write.mode(if (b == 0) SaveMode.Overwrite
            else SaveMode.Append).parquet(s"$outDir/image_survivors")
          // count from the returned frame, not a read-back: an empty
          // batch leaves image_survivors/ schema-less until the first
          // non-empty write
          admitted += surv.count()
          println(f"[media] batch $b%-6d admitted_total $admitted%d")
          droppedIndexed += dIdx; droppedBatch += dBatch
        }
        Seq("image_input" -> nSigs, "image_unique" -> admitted,
          "image_dropped_vs_index" -> droppedIndexed,
          "image_dropped_in_batch" -> droppedBatch)
      }
    }
    val report = audioReport ++ imageReport
    report.foreach { case (k, v) => println(f"[media] $k%-24s $v%d") }
    val json = report.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "report.json"), json + "\n")
    report
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
