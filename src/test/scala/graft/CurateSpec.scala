package graft

import graft.operators.Curate

/** End-to-end curation funnel: one crafted document per removal cause,
  * asserting each stage drops exactly its target and the survivors
  * keep deterministic metadata. */
class CurateSpec extends SparkSpec {
  import spark.implicits._

  private val good =
    "the research team described the findings and it was clear that the " +
      "method works well for large corpora in practice and the results " +
      "were consistent with the theory over many repeated trials"
  private val nearDup = good + " indeed"
  private val french =
    "le rapport décrit les résultats et il est clair que la méthode est " +
      "utile pour les grands corpus dans la pratique et les résultats " +
      "sont cohérents avec la théorie dans une série"
  private val junk = "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) ___ +++ === " * 4
  private val contaminated =
    "another perfectly reasonable english document that is long enough to " +
      "pass the filters and it contains the secret held out benchmark " +
      "phrase which was not supposed to be in the training set at all"
  private val evalDoc =
    "the secret held out benchmark phrase appears in this evaluation item"

  test("curate: each stage removes exactly its target") {
    val docs = Seq(
      (1L, good), (2L, good), (3L, nearDup),
      (4L, french), (5L, junk), (6L, contaminated))
      .toDF("doc_id", "text")
    val eval = Seq((100L, evalDoc)).toDF("eval_id", "text")

    val kept = Curate.curate(docs, "doc_id", "text",
      eval = Some((eval, "eval_id", "text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2 exact-dups 1, 3 near-dups 1 (min id survives), 4 is French,
    // 5 is junk, 6 is contaminated — only 1 survives
    assert(kept == Seq(1L))

    val out = Curate.curate(docs, "doc_id", "text",
      eval = Some((eval, "eval_id", "text")))
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang_id", "quality", "n_tokens"))
    val row = out.collect().head
    assert(row.getAs[String]("lang_id") == "en")
    assert(row.getAs[Double]("quality") >= 0.3)

    // without the eval corpus, the contaminated doc survives
    val noEval = Curate.curate(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(noEval == Seq(1L, 6L))
  }

  test("curate report: funnel counts are monotone and match the result") {
    val docs = Seq(
      (1L, good), (2L, good), (3L, nearDup),
      (4L, french), (5L, junk), (6L, contaminated))
      .toDF("doc_id", "text")
    val eval = Seq((100L, evalDoc)).toDF("eval_id", "text")
    val rep = Curate.report(docs, "doc_id", "text",
      eval = Some((eval, "eval_id", "text"))).toMap
    assert(rep("input") == 6L)
    assert(rep("filtered") == 4L)    // french + junk gone
    assert(rep("exact_dedup") == 3L) // the exact copy gone
    assert(rep("fuzzy_dedup") == 2L) // the near-dup gone
    assert(rep("kept") == 1L)        // the contaminated doc gone
  }

  test("curate runs end-to-end on the real documents table") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val n = docs.count()
    val kept = Curate.curate(docs, "doc_id", "text",
      Curate.Config(langs = Seq("en", "und"), minQuality = 0.0, minTokens = 1))
    val k = kept.count()
    assert(k > 0 && k <= n)
    assert(kept.columns.toSeq == Seq("doc_id", "text", "lang_id", "quality", "n_tokens"))
  }

  test("curate scrubPii: IPs and phones survive cleaning only as tokens") {
    // cleanText already deletes URLs/emails; the scrub stage covers
    // what survives it — bare IPs and phone-like digit groups
    val doc = good + " server 10.1.2.3 helpdesk 555-0142 extra"
    val docs = Seq((1L, doc)).toDF("doc_id", "text")
    val unscrubbed = Curate.curate(docs, "doc_id", "text")
      .select("text").as[String].head()
    assert(unscrubbed.contains("10.1.2.3") && unscrubbed.contains("555-0142"))
    val scrubbed = Curate.curate(docs, "doc_id", "text",
      Curate.Config(scrubPii = true))
      .select("text").as[String].head()
    assert(!scrubbed.contains("10.1.2.3") && !scrubbed.contains("555-0142"))
    assert(scrubbed.contains("<IP>") && scrubbed.contains("<PHONE>"))
  }

  test("RunCurate: end-to-end main writes curated corpus + report") {
    val out = java.nio.file.Files.createTempDirectory("runcurate").toString
    val docs = Tables.documents(spark, sf("sf0.001"))
    val rep = graft.pipeline.RunCurate.run(spark, docs, out,
      Curate.Config(langs = Seq("en", "und"), minQuality = 0.0, minTokens = 1),
      eval = Some(docs.limit(0))).toMap
    // the written corpus is exactly the report's "kept" count — the
    // single-aggregate audit and the survivors share one funnel
    val curated = spark.read.parquet(s"$out/curated")
    assert(rep("kept") > 0 && curated.count() == rep("kept"))
    assert(curated.columns.toSeq == Seq("doc_id", "text", "lang_id", "quality", "n_tokens"))
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "report.json"))
    assert(json.contains("\"input\":") && json.contains("\"kept\":"))
  }

  test("RunCurate --strip-spans: the span pass rewrites the WRITTEN survivors and reports its cut") {
    val out = java.nio.file.Files.createTempDirectory("runcurate_span").toString
    val docs = Tables.documents(spark, sf("sf0.001"))
    val rep = graft.pipeline.RunCurate.run(spark, docs, out,
      Curate.Config(langs = Seq("en", "und"), minQuality = 0.0, minTokens = 1),
      stripSpans = Some(5)).toMap
    val curated = spark.read.parquet(s"$out/curated")
    val spanfree = spark.read.parquet(s"$out/curated_spanfree")
    // every survivor appears exactly once, rewritten from the durable seam
    assert(spanfree.count() == rep("kept"))
    val expect = graft.operators.Dedup.stripDuplicateSpans(
        curated, "doc_id", "text", n = 5)
      .join(curated.drop("text", "n_tokens"), Seq("doc_id"))
      .collect().map(_.toString).sorted.toSeq
    assert(spanfree.collect().map(_.toString).sorted.toSeq == expect,
      "curated_spanfree must equal the span strip of the read-back corpus")
    // report keys are the corpus-level audit of the pass
    assert(rep("span_tokens_total") > 0 &&
      rep("span_tokens_removed") >= 0 &&
      rep("span_tokens_removed") < rep("span_tokens_total"))
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "report.json"))
    assert(json.contains("\"span_tokens_removed\":"))
  }

  test("curateAndReport: one funnel yields the same corpus and counts as curate+report") {
    val docs = Seq(
      (1L, good), (2L, good), (3L, nearDup),
      (4L, french), (5L, junk), (6L, contaminated))
      .toDF("doc_id", "text")
    val eval = Some((Seq((100L, evalDoc)).toDF("eval_id", "text"), "eval_id", "text"))

    // reference: the two-call composition
    val refCorpus = Curate.curate(docs, "doc_id", "text", eval = eval)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val refReport = Curate.report(docs, "doc_id", "text", eval = eval)

    // single-execution path: capture the survivors instead of writing
    var written: Array[Seq[Any]] = Array.empty
    val oneReport = Curate.curateAndReport(docs, "doc_id", "text", eval = eval) {
      survivors =>
        assert(survivors.columns.toSeq == Seq("doc_id", "text", "lang_id", "quality", "n_tokens"))
        written = survivors.collect().map(_.toSeq)
          .sortBy(_.head.asInstanceOf[Long].toString)
    }
    assert(written.toSeq == refCorpus.toSeq,
      "curateAndReport survivors must be value-identical to curate()")
    assert(oneReport == refReport,
      "curateAndReport counts must equal report()")
  }

  test("curate is idempotent: curating the output changes nothing") {
    val docs = Seq((1L, good), (2L, good), (6L, contaminated))
      .toDF("doc_id", "text")
    val once = Curate.curate(docs, "doc_id", "text")
    val twice = Curate.curate(once, "doc_id", "text")
    assert(twice.select("doc_id").as[Long].collect().sorted.toSeq ==
      once.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("rejectionAudit: reasons partition the drops; sample is bounded, stable, and disjoint from survivors") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en"), maxRepetition = 1.0,
      jaccardThreshold = 0.5)
    val audit = Curate.rejectionAudit(docs, "doc_id", "text", cfg, k = 5)
      .cache()
    // every reason's total is positive and the sample is <= k rows
    val perReason = audit.groupBy("reason")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_sampled"),
        org.apache.spark.sql.functions.first("n_dropped").as("n_dropped"))
      .as[(String, Long, Long)].collect()
      .map { case (r, s, d) => r -> (s, d) }.toMap
    assert(perReason.nonEmpty)
    perReason.foreach { case (r, (s, d)) =>
      assert(s <= 5 && d >= s, s"reason $r: sampled $s of $d") }
    // drop totals + survivors == input (reasons partition the drops)
    val kept = Curate.curate(docs, "doc_id", "text", cfg)
    assert(perReason.values.map(_._2).sum + kept.count() == docs.count(),
      "per-reason totals plus survivors must partition the corpus")
    // no sampled doc survived curation
    assert(audit.join(kept, Seq("doc_id"), "left_semi").count() == 0)
    // reruns surface the SAME sample (consistent k-sample contract)
    val again = Curate.rejectionAudit(docs, "doc_id", "text", cfg, k = 5)
    assert(audit.exceptAll(again).count() == 0 &&
      again.exceptAll(audit).count() == 0)
    audit.unpersist()
  }

  test("tx sink: intake sequential == one-shot curated corpus; replayed " +
      "batch lands at most once; RunSync takedown is a pruned MERGE-delete") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val txState = java.nio.file.Files
      .createTempDirectory("graft_tx_intake").toString
    // id order == arrival order: the sequential == one-shot precondition
    val b1 = docs.where(col("doc_id") < 250)
    val b2 = docs.where(col("doc_id") >= 250)
    graft.pipeline.RunIntake.run(spark, b1, txState, cfg,
      txBatchId = Some(1L))
    graft.pipeline.RunIntake.run(spark, b2, txState, cfg,
      txBatchId = Some(2L))
    def rows(root: String) = graft.operators.TxLog
      .snapshot(spark, root).select("doc_id", "text")
      .as[(Long, String)].collect().sorted.toSeq
    val oneShot = Curate.curate(docs, "doc_id", "text", cfg)
      .select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq
    assert(rows(s"$txState/accepted") === oneShot,
      "two intake runs must accumulate the one-shot curated corpus")
    // a crash-replay of batch 2: the SINK gains nothing, and the
    // report says so
    val rep = graft.pipeline.RunIntake.run(spark, b2, txState, cfg,
      txBatchId = Some(2L)).toMap
    assert(rep("sink_replayed") === 1L)
    assert(rows(s"$txState/accepted") === oneShot,
      "a replayed batch must not land sink rows")
    assert(graft.operators.TxLog.latestVersion(spark,
      s"$txState/accepted") === 2)
    // churn: the sync takedown runs as a keyed MERGE-delete (r13) —
    // only the dirs whose stats admit the churn ids are rewritten
    val gone = rows(s"$txState/accepted").head._1
    val snapAll = docs
    val snapB = docs.where(col("doc_id") =!= gone)
    graft.pipeline.RunSync.run(spark, snapAll, snapB, txState, cfg)
    val after = graft.operators.TxLog
      .snapshot(spark, s"$txState/accepted")
    assert(after.where(col("doc_id") === gone).count() === 0,
      "the removed doc must leave the tx sink")
    // the merge is in the commit history (reader-atomic, CDC-visible)
    val hist = graft.operators.TxLog.history(spark, s"$txState/accepted")
      .select("action").as[String].collect()
    assert(hist.count(_ == "merge") === 1, hist.mkString(","))
  }

  test("an accepted/ sink in a pre-TxLog layout fails loud and is left untouched") {
    val docs = Seq((1L, good, "s1")).toDF("doc_id", "text", "source")
    def legacyState(name: String)(write: String => Unit): String = {
      val state = java.nio.file.Files.createTempDirectory(name).toString
      write(s"$state/accepted")
      state
    }
    // a `_current` pointer naming a hand-written gen-1, and plain parquet
    val pointered = legacyState("graft_legacy_ptr") { root =>
      docs.write.parquet(s"$root/gen-1")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "_current"), "gen-1")
    }
    val plain = legacyState("graft_legacy_plain")(docs.write.parquet(_))
    for (state <- Seq(pointered, plain)) {
      val root = s"$state/accepted"
      val journeys = Seq(
        () => graft.pipeline.RunIntake.run(spark, docs, state),
        () => graft.pipeline.RunSync.run(spark, docs, docs, state),
        // what RunMix --accepted resolves before it reads
        () => graft.pipeline.RunIntake.acceptedRoot(spark, state))
      journeys.foreach { run =>
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains(root) && e.getMessage.contains(
          "pre-TxLog accepted/ layout; re-curate into a fresh state dir"),
          e.getMessage)
      }
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "_txlog")),
        "a refused legacy sink must not gain a commit log")
      assert(spark.read.parquet(
        if (state == pointered) s"$root/gen-1" else root).count() === 1)
    }
  }

  test("RunSync: snapshot churn applies forward — takedown frees content, changed docs re-enter") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val state = java.nio.file.Files
      .createTempDirectory("graft_sync_spec").toString
    // snapshot A: ids ≡6 (mod 10) not yet delivered
    val snapA = docs.where(col("doc_id") % 10 =!= 6)
    graft.pipeline.RunIntake.run(spark, snapA, state, cfg)
    val acceptedA = graft.operators.TxLog.snapshot(spark, s"$state/accepted").cache()
    // pick the churn from docs that actually got ACCEPTED, so the
    // takedown paths are exercised (a filtered-out doc's removal
    // would be vacuous): the first accepted doc leaves, the second is
    // re-crawled with a new tail; ids ≡6 arrive
    val Seq(removedDonor, changedDonor) = acceptedA.orderBy("doc_id")
      .limit(2).select("doc_id").as[Long].collect().toSeq
    val marker = " zzqx zzqx zzqx zzqx zzqx"
    val snapB = docs.where(col("doc_id") =!= removedDonor)
      .withColumn("text", org.apache.spark.sql.functions.when(
        col("doc_id") === changedDonor, concat(col("text"), lit(marker)))
        .otherwise(col("text")))
    val rep = graft.pipeline.RunSync.run(spark, snapA, snapB, state, cfg)
      .toMap
    assert(rep("removed") == 1 && rep("changed") == 1)
    assert(rep("added") == docs.where(col("doc_id") % 10 === 6).count())
    assert(rep("deleted_exact") >= 1L,
      "the removed/changed docs were indexed — the exact tier must shed rows")
    val acceptedB = graft.operators.TxLog.snapshot(spark, s"$state/accepted").cache()
    // removed + changed-old rows are gone from accepted/
    assert(acceptedB.where(col("doc_id") === removedDonor).count() == 0,
      "removed docs must leave accepted/")
    assert(acceptedB.where(col("doc_id") === changedDonor &&
      !col("text").contains("zzqx")).count() == 0,
      "a changed doc's OLD row must leave accepted/")
    // the journey-level x53 contract: content of a REMOVED accepted
    // doc is re-admitted under a fresh id, a SURVIVOR's copy is not
    val survivorDonor = acceptedB
      .where(col("doc_id") =!= removedDonor && col("doc_id") =!= changedDonor)
      .orderBy("doc_id").limit(1).select("doc_id").as[Long].head()
    val followUp = docs
      .where(col("doc_id").isin(removedDonor, survivorDonor))
      .withColumn("doc_id", col("doc_id") + 100000L)
    val totalBefore = acceptedB.count()
    val rep2 = graft.pipeline.RunIntake.run(spark, followUp, state, cfg)
      .toMap
    val acceptedC = graft.operators.TxLog.snapshot(spark, s"$state/accepted")
    assert(acceptedC.where(col("doc_id") === removedDonor + 100000L)
      .count() == 1, "a removed doc's content must be admissible again")
    assert(acceptedC.where(col("doc_id") === survivorDonor + 100000L)
      .count() == 0, "a surviving doc's copy must stay blocked")
    assert(rep2("accepted_total") == totalBefore + 1)
    acceptedA.unpersist(); acceptedB.unpersist()
  }

  test("RunSync --semantic: churn reaches the third tier — removed vectors free content, retained ones block") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val state = java.nio.file.Files
      .createTempDirectory("graft_sync_sem_spec").toString
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(16)(r.nextGaussian().toFloat)
    }
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    val baseVecs = ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")
    graft.pipeline.RunIntake.run(spark, docs, state, cfg,
      vectors = Some((baseVecs, "vec_id", "embedding")))
    val acceptedA = graft.operators.TxLog.snapshot(spark, s"$state/accepted")
    val Seq(removedDonor, keptDonor) = acceptedA.orderBy("doc_id")
      .limit(2).select("doc_id").as[Long].collect().toSeq
    // snapshot B: the donor leaves; two text-novel docs arrive — one
    // wearing the REMOVED doc's vector (admissible only if the
    // takedown reached the semantic tier), one wearing a RETAINED
    // doc's vector (the tier must still block it)
    val n1 = 200000L
    val n2 = 200001L
    val arrivals = Seq(
      (n1, "the fast silver train crossed the long bridge before dawn " +
        "while the city was asleep and the river ran dark below", "en", "s", 0L),
      (n2, "a careful gardener watered the old roses every morning and " +
        "the little garden grew bright with color through the summer", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val snapB = docs.where(col("doc_id") =!= removedDonor)
      .unionByName(arrivals)
    val newVecs = baseVecs.unionByName(
      Seq((n1, vec(removedDonor)), (n2, vec(keptDonor)))
        .toDF("vec_id", "embedding"))
    val rep = graft.pipeline.RunSync.run(spark, docs, snapB, state, cfg,
      vectors = Some((baseVecs, newVecs, "vec_id", "embedding"))).toMap
    assert(rep("removed") == 1 && rep("added") == 2)
    assert(rep("deleted_semantic") >= 1L,
      "the removed doc's vector must leave the semantic tier")
    val acceptedB = graft.operators.TxLog.snapshot(spark, s"$state/accepted")
    assert(acceptedB.where(col("doc_id") === n1).count() == 1,
      "a removed doc's vector slot must be admissible again")
    assert(acceptedB.where(col("doc_id") === n2).count() == 0,
      "a retained doc's semantic copy must stay blocked")
    assert(acceptedB.where(col("doc_id") === removedDonor).count() == 0)
  }

  test("RunAudit: the monitor suite lands as one audit dir; reruns are byte-deterministic") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val out = java.nio.file.Files
      .createTempDirectory("graft_audit_spec").toString
    val rep = graft.pipeline.RunAudit
      .run(spark, docs, Some(emb), out).toMap
    assert(rep("n_docs").toLong == docs.count())
    Seq("profile", "hist", "dsir", "dup_matrix", "overlap_matrix",
        "family_sizes", "minhash_accuracy", "banding_recall",
        "table_profile", "heavy_sources", "fluency_bands",
        "ivf_cells", "ann_recall", "pq_recall").foreach { d =>
      assert(spark.read.parquet(s"$out/$d").count() > 0,
        s"audit table $d must exist and be non-empty")
    }
    // the overlap matrix covers every unordered source pair and its
    // summary key is the worst pairwise jaccard
    val nSrc = rep("n_sources").toLong
    val om = spark.read.parquet(s"$out/overlap_matrix")
    assert(om.count() == nSrc * (nSrc - 1) / 2,
      s"overlap matrix must cover all ${nSrc * (nSrc - 1) / 2} pairs")
    assert(rep("max_source_overlap_ppm").toLong ==
      om.agg(org.apache.spark.sql.functions.max("jaccard_ppm"))
        .head().getLong(0))
    // family mass is conserved: the histogram's docs == 2-sided pair
    // participants, and the largest family bounds every bucket
    val fam = spark.read.parquet(s"$out/family_sizes")
    assert(rep("dup_families").toLong >= 1L &&
      rep("largest_family").toLong >= 2L)
    assert(fam.agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0) >= 2L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "report.json")))
    // vector monitors carry the x61/x62 semantics into the journey
    assert(rep("ivf_max_cell_share_ppm").toLong <= 1000000L)
    assert(rep("ann_avg_recall_ppm").toLong <= 1000000L)
    assert(rep("pq_recall_ppm").toLong <= 1000000L)
    // determinism: a second run over the same corpus reproduces every
    // audit number (all draws md5-derived, all ppm floored integers)
    val rep2 = graft.pipeline.RunAudit
      .run(spark, docs, Some(emb), s"${out}_2").toMap
    assert((rep - "millis") == (rep2 - "millis"),
      s"audit reruns must be deterministic: ${(rep - "millis").toSet.diff((rep2 - "millis").toSet)}")
    // without embeddings the vector monitors skip, visibly
    val rep3 = graft.pipeline.RunAudit
      .run(spark, docs, None, s"${out}_3").toMap
    assert(rep3.contains("vector_monitors") &&
      !rep3.contains("ann_avg_recall_ppm"))
  }

  test("RunAudit --prev: drift reads from persisted snapshots; vanished source reads 1.0") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out1 = java.nio.file.Files
      .createTempDirectory("graft_audit_w1").toString
    graft.pipeline.RunAudit.run(spark, docs, None, out1)
    // week 2: src19 stopped arriving, every other source unchanged
    val week2 = docs.where(col("source") =!= "src19")
    val out2 = java.nio.file.Files
      .createTempDirectory("graft_audit_w2").toString
    val rep = graft.pipeline.RunAudit
      .run(spark, week2, None, out2, prevAuditDir = Some(out1)).toMap
    val drift = spark.read.parquet(s"$out2/drift")
    assert(drift.count() == 20, "src19 must surface from the prev side")
    val s19 = drift.where(col("source") === "src19")
      .select("n_b", "tv").head()
    assert(s19.getLong(0) == 0L && s19.getDouble(1) == 1.0,
      "a vanished source is complete drift")
    assert(drift.where(col("tv") === 0.0).count() == 19,
      "unchanged sources must read exactly zero drift")
    assert(rep("max_drift_source") == "\"src19\"" &&
      rep("max_drift_tv_ppm") == "1000000")
    // the content axis rides beside it: KL(now || prev) from the
    // persisted dsir/ states; dropping a source keeps now's content
    // inside prev's support, so the number is small but well-defined
    assert(rep.contains("content_kl_micronats") &&
      rep("content_kl_micronats").toLong >= 0L, rep.toString)
    // an unchanged corpus reads exactly zero content drift
    val outSame = java.nio.file.Files
      .createTempDirectory("graft_audit_same").toString
    val repSame = graft.pipeline.RunAudit
      .run(spark, docs, None, outSame, prevAuditDir = Some(out1)).toMap
    assert(repSame("content_kl_micronats") == "0",
      s"identical corpora must read KL 0: ${repSame("content_kl_micronats")}")
    // without --prev the journey says so instead of failing
    assert(graft.pipeline.RunAudit.run(spark, docs, None,
        s"${out1}_alone").toMap.apply("drift").contains("skipped"))
    // hist/ is written before drift reads prev's, so aliasing dirs is refused
    intercept[IllegalArgumentException] {
      graft.pipeline.RunAudit.run(spark, week2, None, out2,
        prevAuditDir = Some(out2))
    }
  }

  test("RunIntake --span: the journey's sink accumulates the one-shot funnel + span strip") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val state = java.nio.file.Files
      .createTempDirectory("graft_intake_span").toString
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") < 250), state, cfg, span = Some(5))
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") >= 250), state, cfg, span = Some(5))
    val accepted = graft.operators.TxLog.snapshot(spark, s"$state/accepted")
      .collect().map(_.toString).sorted.toSeq
    val oneShotText = Curate.curate(docs, "doc_id", "text", cfg)
    val expected = graft.operators.Dedup.stripDuplicateSpans(
        oneShotText, "doc_id", "text", n = 5)
      .join(oneShotText.drop("text", "n_tokens"), Seq("doc_id"))
      .collect().map(_.toString).sorted.toSeq
    assert(accepted == expected,
      s"span-journey sink must equal one-shot funnel + strip " +
        s"(${accepted.size} vs ${expected.size} rows)")
    // the semantic and span chains do not silently combine
    intercept[IllegalArgumentException] {
      graft.pipeline.RunIntake.run(spark, docs.limit(1), state, cfg,
        vectors = Some((docs.limit(1).select(col("doc_id"),
          col("doc_id").cast("double").as("embedding")), "doc_id", "embedding")),
        span = Some(5))
    }
  }

  test("RunIntake: per-batch journey accumulates exactly the one-shot curated corpus") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    // sidecar ON here: the journey-level sequential == one-shot
    // contract must hold under the bloom-screened probe path too
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"),
      exactBloomSidecar = true)
    val state = java.nio.file.Files
      .createTempDirectory("graft_intake_spec").toString
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") < 250), state, cfg)
    val rep2 = graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") >= 250), state, cfg).toMap
    val accepted = graft.operators.TxLog.snapshot(spark, s"$state/accepted")
    val oneShot = Curate.curate(docs, "doc_id", "text", cfg)
    assert(accepted.count() == oneShot.count() &&
      accepted.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(accepted).count() == 0,
      "two intake runs must accumulate the one-shot curated corpus")
    assert(rep2("accepted_total") == oneShot.count())
    // the second batch reports its novelty against the pre-batch state
    // (first run has no baseline, so no novelty keys)
    assert(rep2.contains("vocab_novelty_ppm") &&
      rep2("vocab_novelty_ppm") >= 0L && rep2("vocab_novelty_ppm") <= 1000000L,
      s"second intake run must carry the x96 novelty keys: $rep2")
    assert(java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(state, "runs.jsonl")).size == 2,
      "runs.jsonl must carry one history line per run")
    // the growing profile state (updated per batch from the funnel's
    // own scores, no rescan) must read back EXACTLY as a one-shot
    // re-score of the accumulated sink — the x69 algebra plus the
    // scored-handoff equivalence contract in one assertion
    import graft.operators.TextAnalysis
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      TextAnalysis.profileFromState(d, "source")
        .orderBy("source").collect().map(_.toString).toSeq
    val grown = rows(spark.read.parquet(s"$state/profile_state"))
    val recomputed = rows(TextAnalysis.profileState(
      accepted.withColumn("__chars",
        org.apache.spark.sql.functions.length(col("text"))),
      "source", "text", "__chars"))
    assert(grown == recomputed,
      s"grown profile state must equal one-shot re-score: $grown vs $recomputed")
    // the histogram state grows beside it under the same contract:
    // grown-per-batch == one-shot re-binning of the accumulated sink
    def bins(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.orderBy("source", "bin").collect().map(_.toString).toSet
    val grownHist = bins(spark.read.parquet(s"$state/hist_state"))
    val recomputedHist = bins(TextAnalysis.profileHistState(
      accepted, "source", "text", bins = 64))
    assert(grownHist == recomputedHist,
      "grown hist state must equal one-shot re-binning of the sink")
    // the DSIR count state grows beside them: grown-per-batch ==
    // one-shot featurization of the accumulated sink (x77 algebra)
    import graft.operators.Sampling
    import graft.pipeline.RunIntake.dsirStateBuckets
    def cnts(d: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      d.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val grownDsir = cnts(spark.read.parquet(s"$state/dsir_state"))
    val recomputedDsir = cnts(Sampling.dsirState(accepted, "text",
      buckets = dsirStateBuckets, salt = "dsir"))
    assert(grownDsir == recomputedDsir,
      "grown dsir state must equal one-shot featurization of the sink")
    // the BPE word-frequency state grows beside them under the same
    // contract: grown-per-batch == one-shot word counts of the sink
    def words(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
      d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val grownBpe = words(spark.read.parquet(s"$state/bpe_state"))
    val recomputedBpe = words(graft.operators.Bpe.wordState(accepted, "text"))
    assert(grownBpe == recomputedBpe,
      "grown bpe word state must equal one-shot word counts of the sink")
  }

  test("RunIntake schema gate: the first run pins the batch schema; a drifted batch fails fast") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val state = java.nio.file.Files
      .createTempDirectory("graft_schema_gate").toString
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") < 100), state, cfg)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(state, "schema.json")))
    // renamed column -> fail fast with the diff, nothing mutated
    val before = graft.operators.TxLog.snapshot(spark, s"$state/accepted").count()
    val drifted = docs.where(col("doc_id") >= 100 && col("doc_id") < 150)
      .withColumnRenamed("source", "origin")
    val e = intercept[IllegalArgumentException](
      graft.pipeline.RunIntake.run(spark, drifted, state, cfg))
    assert(e.getMessage.contains("schema gate"))
    assert(graft.operators.TxLog.snapshot(spark, s"$state/accepted").count() == before,
      "a gated-out batch must leave the sink untouched")
    // a conforming batch still flows
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") >= 100 && col("doc_id") < 150), state, cfg)
    assert(graft.operators.TxLog.snapshot(spark, s"$state/accepted").count() >= before)
  }

  test("RunIntake --lm-model: frozen-model fluency gate keeps sequential == one-shot on the gated corpus") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    // freeze a model from the full corpus state (any snapshot works —
    // what matters is every batch gates against the SAME artifact)
    val model = graft.operators.Sampling.lmModelFromState(
      graft.operators.Sampling.dsirState(docs, "text"), 1024)
    val modelPath = java.nio.file.Files
      .createTempDirectory("graft_lm_model").toString + "/model"
    model.write.parquet(modelPath)
    val frozen = spark.read.parquet(modelPath)
    // pick an interior band so the gate actually cuts
    val scored = graft.operators.Sampling.lmScores(docs, frozen,
      "doc_id", "text")
    val (lo, hi) = {
      val t = scored.select(col("mean_nll_unats").cast("double").as("v"))
        .stat.approxQuantile("v", Array(0.25, 0.75), 0.0)
      (math.ceil(t(0)).toLong, math.floor(t(1)).toLong)
    }
    val gate = Some((frozen, lo, hi))
    val state = java.nio.file.Files
      .createTempDirectory("graft_lm_gate").toString
    val r1 = graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") < 250), state, cfg, lmGate = gate).toMap
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") >= 250), state, cfg, lmGate = gate)
    assert(r1("lm_kept") < r1("input"), s"band must cut something: $r1")
    val accepted = graft.operators.TxLog.snapshot(spark, s"$state/accepted")
    val gatedCorpus = docs.join(
      scored.where(col("mean_nll_unats").between(lo, hi)).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val oneShot = Curate.curate(gatedCorpus, "doc_id", "text", cfg)
    assert(accepted.count() == oneShot.count() &&
      accepted.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(accepted).count() == 0,
      "gated sequential intake must equal one-shot curation of the " +
        "gated corpus")
  }

  test("intakeStepWithSpan: sequential four-tier intake == one-shot funnel + one-shot span strip") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_span_funnel").toString
    def step(batch: org.apache.spark.sql.DataFrame) =
      Curate.intakeStepWithSpan(spark, batch, "doc_id", "text",
        s"$tmp/exact", s"$tmp/fuzzy", s"$tmp/span", spanN = 5, cfg = cfg)
    val got = step(docs.where(col("doc_id") < 250))
      .unionByName(step(docs.where(col("doc_id") >= 250)))
      .collect().map(_.toString).sorted.toSeq
    // one-shot: curate the whole corpus, then strip spans over the
    // survivors — the tier-content rule (dropped docs never block)
    // plus the x83 sequential==one-shot algebra, composed
    val oneShotText = Curate.curate(docs, "doc_id", "text", cfg)
    val expected = graft.operators.Dedup.stripDuplicateSpans(
        oneShotText, "doc_id", "text", n = 5)
      .join(oneShotText.drop("text", "n_tokens"), Seq("doc_id"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected,
      s"four-tier sequential must equal one-shot funnel + strip:\n" +
        s"got ${got.size} rows, expected ${expected.size}")
    // the grown state exists and is founded from batch 1's survivors
    assert(spark.read.parquet(s"$tmp/span/grams").count() > 0)
  }

  test("intakeStepWithSemantic: the third tier drops embedded dups across batches; vectorless docs pass") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    // plant the semantic dup between two TEXT-funnel survivors, one
    // per batch, so only the third tier can catch it
    val oneShotText = Curate.curate(docs, "doc_id", "text", cfg)
    val survivorIds = oneShotText.select("doc_id").as[Long].collect().sorted
    val s1 = survivorIds.find(_ < 250).get
    val s2 = survivorIds.find(_ >= 250).get
    val s3 = survivorIds.last // gets NO vector: must pass un-judged
    assert(s2 != s3, "need distinct planted and vectorless survivors")
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(8)(r.nextGaussian().toFloat)
    }
    val vecs = docs.select("doc_id").as[Long].collect().toSeq
      .filter(_ != s3)
      .map(id => (id, if (id == s2) vec(s1) else vec(id)))
      .toDF("doc_id", "embedding")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sem_funnel").toString
    val (ex, fz, sem) = (s"$tmp/exact", s"$tmp/fuzzy", s"$tmp/sem")
    def step(batch: org.apache.spark.sql.DataFrame) =
      Curate.intakeStepWithSemantic(spark, batch, "doc_id", "text",
        ex, fz, sem, vecs, "doc_id", "embedding",
        semThreshold = 0.999, nlist = 4, cfg = cfg)
    val got = step(docs.where(col("doc_id") < 250))
      .unionByName(step(docs.where(col("doc_id") >= 250)))
    // expected: the one-shot text funnel minus exactly the planted dup
    val expected = oneShotText.where(col("doc_id") =!= s2)
    assert(got.count() == expected.count() &&
      got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "three-tier sequential must equal text one-shot minus the semantic dup")
    assert(got.where(col("doc_id") === s3).count() == 1,
      "a doc without a vector must pass the semantic tier un-judged")
  }
}
