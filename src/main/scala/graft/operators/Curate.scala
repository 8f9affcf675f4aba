package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed pipeline a training-data
  * run actually executes, built from the individually-verified
  * operators (each stage has its own hash-checked catalog query). One
  * call takes a raw document table to a cleaned, filtered, deduped,
  * decontaminated corpus with per-stage decision counters.
  *
  * Stage order is the standard funnel — cheap map-only filters first
  * so the expensive pairwise stages see the smallest corpus:
  *  1. clean      — strip tags/URLs/emails, collapse whitespace (map);
  *                  with `scrubPii` the surviving prose is also run
  *                  through [[TextAnalysis.redactPii]] (typed
  *                  placeholder tokens for anything the cleaner's
  *                  deletion patterns don't cover, e.g. bare IPs and
  *                  phone numbers)
  *  2. filter     — language allowlist + quality/length/repetition
  *                  thresholds (map)
  *  3. exact dedup — md5-fingerprint first-id-wins (one hash agg)
  *  4. fuzzy dedup — MinHash+LSH pairs → connected components →
  *                  min-id survivors
  *  5. decontaminate — drop documents sharing any n-gram shingle with
  *                  a held-out eval corpus (hash equi-join)
  *
  * Every decision is deterministic (portable hashes, min-id
  * survivors), so reruns — on any partitioning — keep byte-identical
  * corpora; [[report]] turns the audit column into per-stage counts.
  */
object Curate {

  /** Tunables with conservative defaults; thresholds are on the
    * verified operator outputs ([[TextAnalysis.qualityScore]] in
    * [0,1], [[TextAnalysis.repetitionRatio]] of duplicate 2-grams).
    * `keep` names INPUT columns to carry through to the curated
    * output unchanged (e.g. `source` for a downstream mixture —
    * [[graft.pipeline.RunCorpus]] relies on this so the mix stage
    * never has to join back to the raw corpus). */
  final case class Config(
      langs: Seq[String] = Seq("en"),
      minQuality: Double = 0.3,
      minTokens: Int = 10,
      maxRepetition: Double = 0.3,
      shingleN: Int = 3,
      minhashK: Int = 64,
      bands: Int = 16,
      jaccardThreshold: Double = 0.8,
      contaminationN: Int = 5,
      scrubPii: Boolean = false,
      keep: Seq[String] = Nil,
      // build/maintain the exact index's Bloom negative-cache sidecar
      // (BloomAB-measured rule: pays on object-store lakes where each
      // avoided shard read is a GET; pure overhead on local NVMe —
      // default off, the probe auto-screens iff the sidecar exists)
      exactBloomSidecar: Boolean = false)

  /** The funnel's intermediate frames, built ONCE and shared by
    * [[curate]] (which returns the survivors) and [[report]] (which
    * aggregates per-stage counts from the same lineage instead of
    * recomputing the expensive stages per counter). */
  private final case class Funnel(
      scored: DataFrame,      // all input rows + __clean/__lang/__quality + __pass
      filtered: DataFrame,    // scored where __pass
      exact: DataFrame,       // exact-dedup survivors
      fuzzyDrop: DataFrame,   // (idCol) rows dropped by fuzzy dedup
      fuzzy: DataFrame,       // exact minus fuzzyDrop
      contamDrop: Option[DataFrame]) // (idCol) rows dropped by decontamination

  /** Stages 1+2 as one map-only projection — shared by the batch
    * funnel and [[intakeStep]] so the incremental path scores with
    * EXACTLY the funnel's expressions. */
  /** The funnel's stage-1 text projection (clean + optional PII
    * scrub) as an expression — public so MAINTENANCE paths can
    * reproduce the exact text the intake path indexed: the snapshot
    * sync ([[graft.pipeline.RunSync]]) must digest a doomed doc's OLD
    * text with precisely this expression or its exact-tier delete
    * misses the stored digest. */
  def cleanedText(textCol: Column, cfg: Config): Column = {
    val clean0 = TextAnalysis.cleanText(textCol)
    if (cfg.scrubPii) TextAnalysis.redactPii(clean0) else clean0
  }

  private def scoredOf(docs: DataFrame, textCol: String,
      cfg: Config): DataFrame = {
    // 1. clean (map-only; PII scrub folds into the same projection)
    val cleaned = docs.withColumn("__clean",
      cleanedText(col(textCol), cfg))
    // 2. map-only filters from the ONE-PASS stats struct (not the
    // token-array HOF forms: pushdown inlines these aliases into the
    // filter predicate, and only lambda-free subtrees collapse back to
    // a single evaluation under codegen CSE — see TextAnalysis.docStats)
    val passesFilters: Column =
      col("__lang").isin(cfg.langs: _*) &&
        col("__stats").getField("n_tokens") >= cfg.minTokens &&
        col("__quality") >= cfg.minQuality &&
        col("__rep") <= cfg.maxRepetition
    cleaned
      .withColumn("__stats", TextAnalysis.docStats(col("__clean")))
      .withColumn("__lang", TextAnalysis.langIdFromStats(col("__stats")))
      .withColumn("__quality",
        TextAnalysis.qualityScoreFromStats(col("__clean"), col("__stats")))
      .withColumn("__rep", TextAnalysis.repetitionRatioFromStats(col("__stats")))
      .withColumn("__pass", passesFilters)
  }

  private def buildFunnel(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config, eval: Option[(DataFrame, String, String)]): Funnel = {
    val scored = scoredOf(docs, textCol, cfg)
    val filtered = scored.where(col("__pass"))
    // 3. exact dedup on the canonical fingerprint (first id wins)
    val exact = Dedup.exactSurvivors(filtered, idCol,
      TextAnalysis.fingerprint(col("__clean")))
    // 4. fuzzy dedup: pairs -> components -> non-minimum ids drop
    val pairs = Dedup.minHashDupPairs(exact, idCol, "__clean",
      cfg.shingleN, cfg.minhashK, cfg.bands, cfg.jaccardThreshold)
    val fuzzyDrop = Dedup.dupClusters(pairs)
      .where(col("label") =!= col("id")).select(col("id").as(idCol))
    val fuzzy = exact.join(fuzzyDrop, Seq(idCol), "left_anti")
    // 5. decontamination against the held-out corpus
    val contamDrop = contamDropIdsOf(fuzzy, idCol, cfg, eval)
    Funnel(scored, filtered, exact, fuzzyDrop, fuzzy, contamDrop)
  }

  /** Stage 5 as a function of the fuzzy-survivor frame, so
    * [[curateAndReport]] can rebuild it from its PERSISTED id frames
    * (any frame with the same rows yields the same drop list). */
  private def contamDropIdsOf(fuzzy: DataFrame, idCol: String, cfg: Config,
      eval: Option[(DataFrame, String, String)]): Option[DataFrame] =
    eval.map { case (ev, evId, evText) =>
      Dedup.ngramContamination(
        fuzzy.select(col(idCol), col("__clean").as("__text")), idCol,
        ev.select(col(evId).as("__eval_id"), col(evText).as("__text")),
        "__eval_id", "__text", cfg.contaminationN)
        .select(col("test_id").as(idCol)).distinct()
    }

  /** The curated-output projection: cleaned text, the language id /
    * quality score that admitted the row, the funnel's own token
    * count (`__stats` is already evaluated — emitting it is free and
    * saves every downstream consumer a re-tokenization; the RunCorpus
    * one-scan handoff), plus the `cfg.keep` passthrough columns. */
  private def curatedSelect(survivors: DataFrame, idCol: String,
      textCol: String, cfg: Config): DataFrame =
    survivors.select(
      Seq(col(idCol), col("__clean").as(textCol),
        col("__lang").as("lang_id"), col("__quality").as("quality"),
        col("__stats").getField("n_tokens").as("n_tokens")) ++
        cfg.keep.map(col): _*)

  /** The curation funnel. Returns the surviving documents with the
    * cleaned text plus the language id, quality score and token count
    * that admitted them (and any `cfg.keep` passthrough columns).
    * `eval` is the held-out corpus for decontamination as
    * (frame, idCol, textCol); None skips stage 5. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config(),
      eval: Option[(DataFrame, String, String)] = None): DataFrame = {
    val f = buildFunnel(docs, idCol, textCol, cfg, eval)
    val decontaminated = f.contamDrop match {
      case None => f.fuzzy
      case Some(drop) => f.fuzzy.join(drop, Seq(idCol), "left_anti")
    }
    curatedSelect(decontaminated, idCol, textCol, cfg)
  }

  /** Per-stage survivor counts for the same funnel, computed in ONE
    * aggregate over ONE lineage: every input row carries a flag per
    * stage (passed filters / survived exact dedup / survived fuzzy /
    * survived decontamination), the drop-lists join back as left
    * joins, and the five counters are conditional counts in a single
    * action — not five full funnel recomputations (the r4 verdict's
    * ~5× audit cost). The duplicate-cluster iteration still runs its
    * own bounded jobs inside [[Dedup.dupClusters]] (driver-side
    * control loop — a documented small constant), and AQE's
    * shuffle-stage reuse dedupes the exact-dedup aggregate that feeds
    * both the pair generation and the survivor flags.
    *
    * PRECONDITION (framework-wide, load-bearing here): `idCol` values
    * are UNIQUE. The per-stage flags join back on the id, so a
    * duplicate id would fan out every left join and inflate every
    * counter — including `input` and `filtered`, which a count()-based
    * report would get right even on dirty input. Audit dirty corpora
    * with an exact-dedup pass (or a distinct-id projection) first. */
  def report(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config(),
      eval: Option[(DataFrame, String, String)] = None): Seq[(String, Long)] = {
    val f = buildFunnel(docs, idCol, textCol, cfg, eval)
    reportFromFunnel(f, idCol, f.exact.select(col(idCol)),
      f.fuzzyDrop, f.contamDrop)
  }

  private def reportFromFunnel(f: Funnel, idCol: String,
      exactIds: DataFrame, fuzzyDropIds: DataFrame,
      contamDropIds: Option[DataFrame]): Seq[(String, Long)] = {
    val noDrop = fuzzyDropIds.limit(0)
    val flags = f.scored.select(col(idCol), col("__pass"))
      .join(exactIds.withColumn("__e", lit(1)), Seq(idCol), "left")
      .join(fuzzyDropIds.withColumn("__fd", lit(1)), Seq(idCol), "left")
      .join(contamDropIds.getOrElse(noDrop).withColumn("__cd", lit(1)),
        Seq(idCol), "left")
    val row = flags.agg(
      count(lit(1)).as("input"),
      count_if(col("__pass")).as("filtered"),
      count_if(col("__e").isNotNull).as("exact"),
      count_if(col("__e").isNotNull && col("__fd").isNull).as("fuzzy"),
      count_if(col("__e").isNotNull && col("__fd").isNull && col("__cd").isNull)
        .as("kept")
    ).collect()(0)
    Seq(
      "input" -> row.getLong(0),
      "filtered" -> row.getLong(1),
      "exact_dedup" -> row.getLong(2),
      "fuzzy_dedup" -> row.getLong(3),
      "kept" -> row.getLong(4))
  }

  /** [[curate]] AND [[report]] from ONE funnel execution — the
    * composed entry point ([[graft.pipeline.RunCurate]]) previously
    * called them back-to-back, and each call rebuilt the funnel, so
    * MinHash pair generation and the iterative [[Dedup.dupClusters]]
    * jobs ran twice per invocation (the r5 verdict's 2×).
    *
    * How the single execution works: the expensive aggregate stages
    * each collapse to a BOUNDED id-only frame — exact-dedup survivors,
    * fuzzy-dedup drops, decontamination drops — which is persisted
    * (ids only: a few bytes per row, never the text), while the
    * map-only clean/score projection is deliberately recomputed per
    * consumer (one codegen'd scan beats materializing a corpus-wide
    * text cache — the measured persist-vs-recompute lesson). Both
    * consumers then derive from the SAME persisted frames:
    *  - survivors = filtered ⋉ exactIds ▷ fuzzyDropIds ▷ contamDropIds
    *    (with unique ids — the framework precondition — the semi-join
    *    on the exact-survivor id set selects exactly the rows the
    *    min-struct aggregate reconstructs, so the written corpus is
    *    identical to [[curate]]'s), handed to `write`;
    *  - the audit counts run as the same single aggregate as
    *    [[report]], joining the persisted id frames.
    * The pair-generation / cluster jobs therefore execute once: they
    * run eagerly inside the funnel build (dupClusters checkpoints its
    * label table), and nothing downstream recomputes them. (The
    * cheap exact-dedup hash aggregate still evaluates twice — once
    * feeding the eager cluster materialization, once filling the
    * persisted id set — a single digest shuffle, not one of the
    * expensive stages; the old composition re-ran EVERY stage.)
    *
    * Same unique-id precondition as [[report]]. Returns the counts. */
  def curateAndReport(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config(),
      eval: Option[(DataFrame, String, String)] = None)
      (write: DataFrame => Unit): Seq[(String, Long)] = {
    val f = buildFunnel(docs, idCol, textCol, cfg, eval)
    val exactIds = f.exact.select(col(idCol)).persist()
    val fuzzyDropIds = f.fuzzyDrop.persist()
    val survivors0 = f.filtered
      .join(exactIds, Seq(idCol), "left_semi")
      .join(fuzzyDropIds, Seq(idCol), "left_anti")
    // stage 5 rebuilt over the persisted frames (survivors0 has the
    // same rows as f.fuzzy, whose lineage would re-run the exact agg)
    val contamDropIds = contamDropIdsOf(survivors0, idCol, cfg, eval)
      .map(_.persist())
    try {
      val survivors = contamDropIds.fold(survivors0)(cd =>
        survivors0.join(cd, Seq(idCol), "left_anti"))
      write(curatedSelect(survivors, idCol, textCol, cfg))
      reportFromFunnel(f, idCol, exactIds, fuzzyDropIds, contamDropIds)
    } finally {
      exactIds.unpersist(blocking = false)
      fuzzyDropIds.unpersist(blocking = false)
      contamDropIds.foreach(_.unpersist(blocking = false))
    }
  }

  /** REJECTION AUDIT — the "what did we throw away" review tool: one
    * row per sampled dropped document, `(reason, n_dropped, id)`,
    * where `reason` is the funnel stage that killed it (lang /
    * tokens / quality / repetition / exact_dup / fuzzy_dup /
    * contaminated — a doc failing several filters reads as the FIRST
    * failing stage in funnel order), `n_dropped` the stage's total
    * kill count, and the ids a [[Sampling.consistentSamplePerGroup]]
    * k-sample — the SAME docs surface on every rerun, so a reviewer
    * can diff audits across config changes. Output is ≤ 7·k rows
    * regardless of corpus size; the funnel builds once, the audit
    * adds only id-frame unions and a bounded per-reason top-k. A
    * spot-check of this sample is the cheapest defense against a
    * threshold that silently eats a language or a source. */
  def rejectionAudit(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config(),
      eval: Option[(DataFrame, String, String)] = None,
      k: Int = 10): DataFrame = {
    val f = buildFunnel(docs, idCol, textCol, cfg, eval)
    val filterReason = f.scored.where(!col("__pass"))
      .select(col(idCol),
        when(!col("__lang").isin(cfg.langs: _*), lit("lang"))
          .when(col("__stats").getField("n_tokens") < cfg.minTokens,
            lit("tokens"))
          .when(col("__quality") < cfg.minQuality, lit("quality"))
          .otherwise(lit("repetition")).as("reason"))
    val exactDrop = f.filtered.select(col(idCol))
      .join(f.exact.select(col(idCol)), Seq(idCol), "left_anti")
      .withColumn("reason", lit("exact_dup"))
    val fuzzyDrop = f.fuzzyDrop.withColumn("reason", lit("fuzzy_dup"))
    val contam = f.contamDrop.map(
      _.withColumn("reason", lit("contaminated")))
    val dropped = (Seq(filterReason, exactDrop, fuzzyDrop) ++ contam)
      .map(_.select(col(idCol), col("reason"))).reduce(_.unionByName(_))
    val counts = dropped.groupBy("reason")
      .agg(count(lit(1)).as("n_dropped"))
    Sampling.consistentSamplePerGroup(dropped, "reason", idCol, k)
      .join(counts, Seq("reason"))
      .select(col("reason"), col("n_dropped"), col(idCol))
  }

  /** One INCREMENTAL curation intake step — the funnel's stage order
    * replayed against BOTH growing index tiers, so a curation pipeline
    * can ingest batch after batch without ever rescanning the corpus:
    *
    *   1+2. clean + filter   the exact [[curate]] projections (map)
    *   3. exact tier         within-batch first-id-wins on the
    *                         [[TextAnalysis.fingerprint]] of the
    *                         CLEANED text, then
    *                         [[Dedup.intakeStepAgainstExactIndex]]:
    *                         shard-pruned probe of the persisted
    *                         digest index, accepted digests appended
    *                         to only the touched shards
    *   4. fuzzy tier         [[Dedup.intakeStepAgainstFuzzyIndex]]
    *                         over the exact-tier survivors: within-
    *                         batch cluster dedup, signature-index
    *                         probe, accepted docs appended
    *   5. decontaminate      per-document n-gram check against the
    *                         static `eval` corpus (row-independent —
    *                         identical decisions batch-at-a-time or
    *                         one-shot)
    *
    * Index-content contract (what makes sequential == one-shot): the
    * EXACT index receives every exact-tier survivor — including docs
    * the fuzzy tier then drops — because in the one-shot funnel an
    * exact copy of a fuzzy-dropped doc collapses into it at stage 3
    * and dies with it; the FUZZY index receives only fuzzy-tier
    * survivors, because only they can block future near-dups (their
    * dropped near-twins block nothing the survivor doesn't). A
    * contaminated doc stays in both indexes for the same reason: its
    * later copies must still die at the tier that would have merged
    * them into it.
    *
    * BOOTSTRAP: a missing index tier (no `meta/` under its path) is
    * built from THIS batch's survivors of that tier — batch 1 needs
    * no separate build call, and the sequential-equals-one-shot
    * algebra includes it. An all-filtered batch leaves a missing tier
    * unborn (a 0-row partitioned build would write an unreadable
    * layout); the next non-empty batch bootstraps it.
    *
    * Same preconditions as the pieces: unique integral ids (the fuzzy
    * sets/ shard key), id order == arrival order and transitively-
    * closed dup groups for exact one-shot equivalence (asserted in
    * StreamingSpec), batches serialize on the indexes.
    * Returns the accepted rows in the [[curate]] output projection. */
  def intakeStep(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      idCol: String, textCol: String,
      exactIndexPath: String, fuzzyIndexPath: String,
      cfg: Config = Config(),
      eval: Option[(DataFrame, String, String)] = None,
      nShards: Int = 64, maxBucketSize: Int = 1000): DataFrame = {
    def exists(p: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }
    val filtered = scoredOf(batch, textCol, cfg).where(col("__pass"))
    val fp = TextAnalysis.fingerprint(col("__clean"))
    // 3. exact tier (bootstrap = build from this batch's survivors)
    val exactAccepted =
      if (exists(s"$exactIndexPath/meta"))
        Dedup.intakeStepAgainstExactIndex(spark, exactIndexPath, filtered,
          idCol, fp)
      else {
        val e1 = Dedup.exactSurvivors(filtered, idCol, fp)
        if (e1.isEmpty) e1
        else {
          Dedup.buildExactIndex(e1, idCol, fp, exactIndexPath, nShards)
          // negative-cache sidecar with the index (opt-in; see
          // Config.exactBloomSidecar): later intakes screen
          // definitely-new digests out of the partition reads
          // (decision-equivalent, spec-pinned)
          if (cfg.exactBloomSidecar) Dedup.buildExactBloom(spark, exactIndexPath)
          e1
        }
      }
    // 4. fuzzy tier over the exact-tier survivors
    val fuzzyAccepted =
      if (exists(s"$fuzzyIndexPath/meta"))
        Dedup.intakeStepAgainstFuzzyIndex(spark, fuzzyIndexPath,
          exactAccepted, idCol, "__clean", cfg.jaccardThreshold)
      else {
        val pairs = Dedup.minHashDupPairs(exactAccepted, idCol, "__clean",
          cfg.shingleN, cfg.minhashK, cfg.bands, cfg.jaccardThreshold,
          maxBucketSize)
        val a1 = Dedup.clusterSurvivors(exactAccepted, idCol, pairs)
        if (a1.isEmpty) a1
        else {
          Dedup.buildFuzzyIndex(a1, idCol, "__clean", fuzzyIndexPath,
            cfg.shingleN, cfg.minhashK, cfg.bands, nShards, maxBucketSize)
          a1
        }
      }
    // 5. decontamination AFTER the appends (see the contract above)
    val decontaminated = contamDropIdsOf(fuzzyAccepted, idCol, cfg, eval) match {
      case None => fuzzyAccepted
      case Some(drop) => fuzzyAccepted.join(drop, Seq(idCol), "left_anti")
    }
    curatedSelect(decontaminated, idCol, textCol, cfg)
  }

  /** [[intakeStep]] extended with the SPAN tier ([[Dedup.buildSpanIndex]]'s
    * growing gram-membership state): the text-funnel survivors are
    * REWRITTEN — not dropped — with every ≥spanN-token span cut whose
    * keeper is already settled in the growing index or earlier in the
    * batch, and the batch's new grams append to the state. This is
    * the tier the drop-based stages are too coarse for: a doc that
    * shares one copied paragraph with last month's intake loses the
    * paragraph, not its novel remainder.
    *
    * Stage order matters and mirrors the batch journey
    * (RunCurate --strip-spans): the span tier sees only docs the
    * funnel ACCEPTED, so a dropped near-copy's spans never block
    * future content (the tier-content asymmetry rule). Sequential
    * steps equal the one-shot curate + one-shot span strip when id
    * order == arrival order (the x83 algebra on the funnel's output,
    * CurateSpec). Bootstrap: the first non-empty batch founds the
    * span index from its own accepted grams; crash recovery stays
    * re-run-the-step (the owner rule on all tiers).
    *
    * Output: the [[curatedSelect]] projection with `text` rewritten
    * and the span tier's (n_tokens, n_removed) replacing the
    * funnel's token count. */
  def intakeStepWithSpan(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, textCol: String,
      exactIndexPath: String, fuzzyIndexPath: String, spanIndexPath: String,
      spanN: Int = 8,
      cfg: Config = Config(),
      eval: Option[(DataFrame, String, String)] = None,
      nShards: Int = 64, maxBucketSize: Int = 1000): DataFrame = {
    def exists(p: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }
    val accepted = intakeStep(spark, batch, idCol, textCol,
      exactIndexPath, fuzzyIndexPath, cfg, eval, nShards, maxBucketSize)
    val rewritten =
      if (exists(s"$spanIndexPath/meta"))
        Dedup.intakeStepAgainstSpanIndex(spark, spanIndexPath, accepted,
          idCol, "text")
      else if (accepted.isEmpty)
        Dedup.stripDuplicateSpans(accepted, idCol, "text", spanN)
      else {
        Dedup.buildSpanIndex(accepted, idCol, "text", spanN, spanIndexPath,
          nShards)
        Dedup.stripDuplicateSpans(accepted, idCol, "text", spanN)
      }
    rewritten.join(accepted.drop("text", "n_tokens"), Seq(idCol))
  }

  /** [[intakeStep]] extended with the THIRD dedup tier — the full
    * three-tier incremental funnel (digests → signatures →
    * embeddings): the text-tier survivors' vectors run one semantic
    * intake step against a growing IVF index
    * ([[IvfAnn.intakeStepOrBootstrap]] — within-batch SemDeDup under
    * the index's frozen centroids, cell-pruned corpus probe, append),
    * and docs whose vector was dropped as a semantic duplicate are
    * dropped from the output.
    *
    * Tier-content contract, extending [[intakeStep]]'s asymmetry
    * rule: the semantic index receives only SEMANTIC-tier survivors,
    * and only ever sees docs the text tiers accepted — in the
    * one-shot funnel the semantic stage runs last, so a text-dropped
    * doc's vector must not block future docs. Docs with NO vector in
    * `vectors` PASS the tier un-judged (an un-embeddable doc cannot
    * be semantically compared) and contribute nothing to the index.
    * The semantic index path bootstraps from the first non-empty
    * vector batch (centroids frozen there — the drift contract);
    * crash recovery stays re-run-the-step on all three tiers. */
  def intakeStepWithSemantic(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, textCol: String,
      exactIndexPath: String, fuzzyIndexPath: String, semIndexPath: String,
      vectors: DataFrame, vecIdCol: String, vecCol: String,
      semThreshold: Double = 0.9, nlist: Int = 16,
      cfg: Config = Config(),
      eval: Option[(DataFrame, String, String)] = None,
      nShards: Int = 64, maxBucketSize: Int = 1000): DataFrame = {
    val textAccepted = intakeStep(spark, batch, idCol, textCol,
      exactIndexPath, fuzzyIndexPath, cfg, eval, nShards, maxBucketSize)
    val batchVecs = vectors
      .select(col(vecIdCol).as(idCol), col(vecCol))
      .join(textAccepted.select(idCol), Seq(idCol), "left_semi")
    val semAccepted = IvfAnn.intakeStepOrBootstrap(spark, semIndexPath,
      batchVecs, idCol, vecCol, semThreshold, nlist)
    // drop = HAS a vector but was not semantically accepted;
    // vectorless docs fall through the anti-join untouched
    val dropped = batchVecs.select(col(idCol)).distinct()
      .join(semAccepted.select(idCol), Seq(idCol), "left_anti")
    textAccepted.join(dropped, Seq(idCol), "left_anti")
  }
}
