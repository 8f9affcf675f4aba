package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.operators.Bpe

/** TOKENIZER-TRAINING journey: learn a BPE merge table over a corpus
  * (or over a [[RunIntake]]-grown `bpe_state/` — then the corpus is
  * never re-scanned) and ship the artifact a training run consumes:
  *
  *   merges.parquet  (rank, l, r, merged, pair_count) — the tokenizer
  *                   definition, applied in rank order
  *                   ([[graft.operators.Bpe.applyMerges]])
  *   report.json     exact-integer fit audit from [[graft.operators
  *                   .Bpe.segmentStats]]: vocab/word/char/BPE-token
  *                   totals + chars-per-token and tokens-per-word in
  *                   floored ppm — the numbers a vocab-budget decision
  *                   reads, all computed from the word state (a
  *                   vocab-sized job)
  *
  * Scale contract: `--from-state` is the 100 TB path — RunIntake has
  * already folded every batch into the mergeable word-frequency state,
  * so training cost is O(vocab × merges) and independent of corpus
  * size; without it the one [[graft.operators.Bpe.wordState]] scan is
  * the only corpus-sized job either way. Deterministic end to end
  * (exact Long counts, lexicographic tie-breaks): re-running emits a
  * bit-identical artifact, and training from the grown state equals
  * one-shot training on the concatenated corpus (the x90 contract).
  *
  * Usage: runMain graft.pipeline.RunTokenizer [inDir] [outDir]
  *          [--merges K] [--from-state]
  * `inDir` is a documents dir (documents.parquet with a text column)
  * or, with `--from-state`, a word-state parquet dir (RunIntake's
  * `<stateDir>/bpe_state`). Defaults: /root/testdata/sf0.001 ->
  * /tmp/graft_tokenizer, 64 merges. */
object RunTokenizer {

  def main(args: Array[String]): Unit = {
    var merges = 64
    var fromState = false
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--merges" =>
          require(i + 1 < args.length, "--merges needs a count")
          merges = args(i + 1).toInt; i += 1
        case "--from-state" => fromState = true
        case other => positional += other
      }
      i += 1
    }
    val inDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = positional.drop(1).headOption.getOrElse("/tmp/graft_tokenizer")
    val spark = graft.Sessions.local()
    run(spark, inDir, outDir, merges, fromState)
      .foreach { case (k, v) => println(f"[tokenizer] $k%-20s $v") }
    spark.stop()
  }

  def run(spark: SparkSession, inDir: String, outDir: String,
      merges: Int, fromState: Boolean): Seq[(String, Any)] = {
    val state =
      if (fromState) spark.read.parquet(inDir)
      else Bpe.wordState(
        spark.read.parquet(s"$inDir/documents.parquet"), "text")
    runOn(spark, state, outDir, merges, fromState)
  }

  /** Programmatic entry ([[RunCorpus]] `--tokenizer` chains it off the
    * curated corpus): train on an already-built word state and ship
    * the artifact. */
  def runOn(spark: SparkSession, state: org.apache.spark.sql.DataFrame,
      outDir: String, merges: Int, fromState: Boolean): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    // one persist serves every merge round AND the fit audit
    val persisted = state.persist()
    val learned =
      try {
        // fail fast with a clear message: an empty word state (fresh
        // bpe_state/, zero-doc corpus) trains nothing and its fit
        // audit's ppm denominators are null — the getLong reads below
        // would die with an opaque ROW_VALUE_IS_NULL mid-artifact
        require(!persisted.isEmpty,
          s"RunTokenizer: the word state is empty (no words to train " +
            s"on) — run intake first or point at a non-empty corpus")
        val m = Bpe.train(persisted, merges)
        val stats = Bpe.segmentStats(persisted, m).head
        Bpe.mergeTable(spark, m)
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/merges.parquet")
        val kv = Seq[(String, Any)]("n_merges" -> m.size,
          "vocab_words" -> stats.getLong(0),
          "total_words" -> stats.getLong(1),
          "total_chars" -> stats.getLong(2),
          "total_bpe_tokens" -> stats.getLong(3),
          "chars_per_token_ppm" -> stats.getLong(4),
          "tokens_per_word_ppm" -> stats.getLong(5),
          "from_state" -> fromState,
          "millis" -> (System.nanoTime() - t0) / 1000000L)
        val json = kv.map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, "report.json"), json + "\n")
        kv
      } finally persisted.unpersist(blocking = false)
    learned
  }
}
