package graft

import graft.pipeline.RunMix
import org.apache.spark.sql.functions._

/** End-to-end contract of the RunMix training-mix journey: epoch
  * determinism (the resume property), per-band sampling policy,
  * sequence-budget overhang rule, and the source-weight mixture. */
class MixSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_mix_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("RunMix: epoch replay is identical; different epochs reorder, same survivors") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val outA = tmp("a"); val outB = tmp("b"); val outC = tmp("c")
    val repA = RunMix.run(spark, docs, outA, epoch = 0, budget = 128).toMap
    val repB = RunMix.run(spark, docs, outB, epoch = 0, budget = 128).toMap
    assert(repA == repB, "same-epoch reruns must report identical counts")
    val a = spark.read.parquet(s"$outA/packed")
    val b = spark.read.parquet(s"$outB/packed")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "same-epoch reruns must pack row-identically")
    // a different epoch keeps the SAME survivor set (sampling is
    // epoch-independent) but draws an independent order
    val repC = RunMix.run(spark, docs, outC, epoch = 1, budget = 128).toMap
    assert(repC("sampled") == repA("sampled") &&
      repC("tokens_packed") == repA("tokens_packed"))
    val c = spark.read.parquet(s"$outC/packed")
    assert(a.select("doc_id").exceptAll(c.select("doc_id")).count() == 0)
    assert(a.select("doc_id", "chunk", "seq")
      .exceptAll(c.select("doc_id", "chunk", "seq")).count() > 0,
      "epoch 1 must place documents differently")
  }

  test("packingManifest: full interior sequences, token conservation, loader sample counts") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "n_chars")
    val budget = 4096L
    val packed = Sampling.packSequences(docs, "doc_id", "n_chars",
      budget, epoch = 1, chunks = 8)
    val man = Sampling.packingManifest(packed, "n_chars", budget).cache()
    // every sequence except a chunk's LAST is exactly full — the
    // overhang attribution must leave no interior gaps
    val lastSeq = man.groupBy("chunk")
      .agg(max("seq").as("last_seq"))
    val interior = man.join(lastSeq, Seq("chunk"))
      .where(col("seq") < col("last_seq"))
    assert(interior.count() > 0, "test needs multi-sequence chunks")
    assert(interior.where(col("tokens") =!= budget).count() == 0,
      "every interior sequence must audit exactly full")
    assert(interior.where(col("fill_ppm") =!= 1000000L).count() == 0)
    // token conservation: the manifest attributes every input token
    // exactly once
    val inTokens = docs.agg(sum("n_chars")).as[Long].head()
    val manTokens = man.agg(sum("tokens")).as[Long].head()
    assert(manTokens == inTokens,
      s"manifest tokens $manTokens must equal corpus tokens $inTokens")
    // every document starts in exactly one sequence (the loader's
    // sample count), and touching >= starting
    val nStarts = man.agg(sum("n_starts")).as[Long].head()
    assert(nStarts == docs.count())
    assert(man.where(col("n_docs") < col("n_starts")).count() == 0)
    man.unpersist()
  }

  test("RunMix: band policy thins low-quality bands; packing respects the budget") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = tmp("policy")
    RunMix.run(spark, docs, out, epoch = 0, budget = 128,
      bandRates = Map(1 -> 0.0, 2 -> 0.5, 3 -> 1.0, 4 -> 1.0))
    val packed = spark.read.parquet(s"$out/packed")
    // band 1 is dropped entirely; bands 3-4 survive whole
    assert(packed.where(col("bucket") === 1).count() == 0)
    val byBand = packed.groupBy("bucket").count()
      .as[(Int, Long)].collect().toMap
    assert(byBand.contains(3) && byBand.contains(4))
    // the packing running sum is REAL, not just seq's definition:
    // within each chunk, rows sorted by start_off must be CONTIGUOUS
    // (each start = previous start + previous n_tokens, first = 0) —
    // a broken window frame (double-counting, wrong ordering) breaks
    // this immediately
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk").orderBy("start_off")
    val gaps = packed
      .withColumn("__expect",
        coalesce(lag(col("start_off") + col("n_tokens"), 1).over(w), lit(0L)))
      .where(col("start_off") =!= col("__expect"))
      .count()
    assert(gaps == 0, s"$gaps non-contiguous packing offsets")
    // source-weight mixture: dropping a source from the map removes it
    val out2 = tmp("mixture")
    RunMix.run(spark, docs, out2, epoch = 0, budget = 128,
      sourceWeights = Some(Map("src0" -> 1.0, "src1" -> 0.5)))
    val mixed = spark.read.parquet(s"$out2/packed")
    val srcs = mixed.select("source_name").distinct().as[String]
      .collect().toSet
    assert(srcs == Set("src0", "src1"), s"unexpected sources: $srcs")
    // src0 at weight 1.0 keeps all its band survivors; src1 at 0.5
    // keeps a strict subset of its own
    val bySrc = mixed.groupBy("source_name").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc("src1") < bySrc("src0"),
      s"weight 0.5 must thin src1 below src0: $bySrc")
  }

  test("RunCorpus: curate->mix chains on one lineage; pre-scored path equals re-scoring") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = tmp("corpus")
    val (curRep, mixRep) = graft.pipeline.RunCorpus.run(spark, docs, out,
      graft.operators.Curate.Config(langs = Seq("en", "und"),
        minQuality = 0.0, minTokens = 1, keep = Seq("source")),
      epoch = 0, budget = 128)
    val cur = curRep.toMap; val mix = mixRep.toMap
    // the seam: the mix consumed exactly the funnel's survivors
    assert(cur("kept") > 0 && mix("input") == cur("kept"),
      s"mix input ${mix("input")} must equal funnel kept ${cur("kept")}")
    assert(mix("scorable") == mix("input"),
      "curated text is never null - nothing is unscorable at the seam")
    assert(mix("tokens_packed") > 0)
    val curated = spark.read.parquet(s"$out/curate/curated")
    assert(Seq("n_tokens", "quality", "source")
      .forall(curated.columns.contains),
      "handoff columns must ride the curated output")
    // combined report carries both journeys
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "report.json"))
    assert(json.contains("\"curate_kept\":") && json.contains("\"mix_tokens_packed\":"))

    // the pre-scored path must agree EXACTLY with re-scoring the
    // curated text (funnel quality was computed on the cleaned text,
    // which IS the curated text column)
    val outPre = tmp("pre"); val outRe = tmp("re")
    RunMix.run(spark, curated, outPre, epoch = 0, budget = 128,
      preScored = true)
    RunMix.run(spark, curated.drop("n_tokens", "quality"), outRe,
      epoch = 0, budget = 128)
    val p = spark.read.parquet(s"$outPre/packed")
    val r = spark.read.parquet(s"$outRe/packed")
    assert(p.exceptAll(r).count() == 0 && r.exceptAll(p).count() == 0,
      "pre-scored handoff must pack row-identically to re-scoring")
  }

  test("RunMix --accepted: mixing the intake sink equals mixing the one-shot curated corpus") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = graft.operators.Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val state = tmp("acc_state")
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") < 250), state, cfg)
    graft.pipeline.RunIntake.run(spark,
      docs.where(col("doc_id") >= 250), state, cfg)
    // the --accepted path exactly as main wires it: sink read-back,
    // replay-dup collapse, pre-scored handoff
    val sink = graft.operators.TxLog.snapshot(spark, s"$state/accepted").dropDuplicates("doc_id")
    val outA = tmp("acc_mix"); val outB = tmp("one_mix")
    RunMix.run(spark, sink, outA, epoch = 0, budget = 128, preScored = true)
    val oneShot = graft.operators.Curate.curate(docs, "doc_id", "text", cfg)
    RunMix.run(spark, oneShot, outB, epoch = 0, budget = 128, preScored = true)
    val a = spark.read.parquet(s"$outA/packed")
    val b = spark.read.parquet(s"$outB/packed")
    assert(a.count() > 0)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "a corpus that arrived over months must mix row-identically to " +
        "the same corpus curated in one shot")
  }

  test("RunCorpus --tokenizer: the artifact trains on the packed slice and lands beside the mix") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = tmp("corpus_tok")
    val (_, mixRep) = graft.pipeline.RunCorpus.run(spark, docs, out,
      graft.operators.Curate.Config(langs = Seq("en", "und"),
        minQuality = 0.0, minTokens = 1, keep = Seq("source")),
      epoch = 0, budget = 128, tokenizerMerges = Some(4))
    val m = mixRep.toMap
    assert(m("tokenizer_n_merges") == 4L)
    assert(m("tokenizer_total_bpe_tokens") > 0L)
    val artifact = spark.read.parquet(s"$out/tokenizer/merges.parquet")
      .orderBy("rank").collect().map(_.toSeq).toSeq
    // no holdout here: the packed slice IS the curated corpus
    val curated = spark.read.parquet(s"$out/curate/curated")
    val expect = graft.operators.Bpe.mergeTable(spark,
      graft.operators.Bpe.train(
        graft.operators.Bpe.wordState(curated, "text"), merges = 4))
      .collect().map(_.toSeq).toSeq
    assert(artifact === expect,
      "shipped merges must equal training on the curated corpus")
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "report.json"))
    assert(json.contains("\"tokenizer_n_merges\":4"))
  }

  test("RunMix --manifest: the fill audit lands beside the stream and conserves tokens") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = tmp("mix_manifest")
    RunMix.run(spark, docs, out, epoch = 0, budget = 128, manifest = true)
    val packed = spark.read.parquet(s"$out/packed")
    val man = spark.read.parquet(s"$out/manifest")
    assert(man.count() > 0)
    val slotSum = man.agg(org.apache.spark.sql.functions.sum("tokens"))
      .head.getLong(0)
    val tokSum = packed.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .head.getLong(0)
    assert(slotSum == tokSum,
      s"manifest slots ($slotSum) must conserve packed tokens ($tokSum)")
  }

  test("RunCorpus holdout: leak-safe split persisted; mix packs only the train slice") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = tmp("holdout")
    val (curRep, mixRep) = graft.pipeline.RunCorpus.run(spark, docs, out,
      graft.operators.Curate.Config(langs = Seq("en", "und"),
        minQuality = 0.0, minTokens = 1, keep = Seq("source")),
      epoch = 0, budget = 128,
      splitWeights = Some(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    val cur = curRep.toMap; val mix = mixRep.toMap
    val splits = spark.read.parquet(s"$out/curate/splits")
    // splits cover the curated corpus exactly, one label per doc
    assert(splits.count() == cur("kept"))
    assert(mix("split_train") + mix("split_val") + mix("split_test") == cur("kept"))
    // the mix consumed exactly the train slice
    assert(mix("input") == mix("split_train") && mix("input") < cur("kept"))
    assert(mix("tokens_packed") > 0)
    // no packed doc escaped the train split
    val packedIds = spark.read.parquet(s"$out/mix/packed").select("doc_id")
    val trainIds = splits.where(col("split") === "train").select("doc_id")
    assert(packedIds.distinct().exceptAll(trainIds).count() == 0)
  }

  test("RunCorpus --epochs: the journey writes one epoch=<e>/ partition per requested epoch") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = tmp("corpus_epochs")
    val (_, mixRep) = graft.pipeline.RunCorpus.run(spark, docs, out,
      graft.operators.Curate.Config(langs = Seq("en", "und"),
        minQuality = 0.0, minTokens = 1, keep = Seq("source")),
      epoch = 0, budget = 128, epochs = Some(0 until 2))
    assert(mixRep.toMap.apply("tokens_packed") > 0)
    val packed = spark.read.parquet(s"$out/mix/packed")
    assert(packed.select("epoch").distinct().as[Int].collect().sorted
      .toSeq == Seq(0, 1),
      "both requested epochs must land as partitions of the journey's mix")
  }

  test("RunMix tokenTargets: measured mixture — untargeted sources drop, clipped sources keep all, rates replay") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val keepAll = Map(1 -> 1.0, 2 -> 1.0, 3 -> 1.0, 4 -> 1.0)
    val targets = Map("src0" -> 700000L, "src1" -> 300000L)
    val out = tmp("tt")
    RunMix.run(spark, docs, out, budget = 128, bandRates = keepAll,
      tokenTargets = Some((targets, 2000L)))
    val packed = spark.read.parquet(s"$out/packed")
    val bySource = packed.select("doc_id", "source_name").distinct()
      .collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    assert(bySource.keySet == Set("src0", "src1"),
      s"untargeted sources must drop: ${bySource.keySet}")
    // replay the stage by hand: tokens over ALL scorable docs (keepAll
    // bands) -> rate -> draw; the packed survivors must match exactly
    val scored = docs.where(col("text").isNotNull)
      .withColumn("n_tokens",
        graft.operators.TextAnalysis.docStats(col("text")).getField("n_tokens"))
    val tok = scored.groupBy("source")
      .agg(sum(col("n_tokens").cast("long")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    targets.foreach { case (s, tppm) =>
      val rate = math.min(1000000L, 2000L * tppm / tok(s))
      val expect = scored.where(col("source") === s)
        .where(conv(substring(md5(concat_ws(":", lit("mix"),
            col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 1000000L < rate)
        .select("doc_id").as[Long].collect().toSet
      assert(bySource(s) == expect,
        s"$s: rate $rate — packed set must equal the replayed draw")
      if (rate >= 1000000L)
        assert(bySource(s) ==
          scored.where(col("source") === s).select("doc_id")
            .as[Long].collect().toSet,
          s"$s clipped at 1e6 must keep every banding survivor")
    }
    // hand weights and measured targets are mutually exclusive
    intercept[IllegalArgumentException] {
      RunMix.run(spark, docs, tmp("ttx"), bandRates = keepAll,
        sourceWeights = Some(Map("src0" -> 1.0)),
        tokenTargets = Some((targets, 2000L)))
    }
  }

  test("RunMix: raising one band's rate only ADDS packed doc_ids (same-salt nesting end-to-end)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val outLo = tmp("mono_lo"); val outHi = tmp("mono_hi")
    val lo = Map(1 -> 0.2, 2 -> 0.5, 3 -> 1.0, 4 -> 1.0)
    val hi = Map(1 -> 0.2, 2 -> 0.9, 3 -> 1.0, 4 -> 1.0) // band 2 raised
    RunMix.run(spark, docs, outLo, epoch = 0, budget = 128, bandRates = lo)
    RunMix.run(spark, docs, outHi, epoch = 0, budget = 128, bandRates = hi)
    val idsLo = spark.read.parquet(s"$outLo/packed")
      .select("doc_id").distinct().as[Long].collect().toSet
    val idsHi = spark.read.parquet(s"$outHi/packed")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(idsLo.subsetOf(idsHi),
      s"lo-rate survivors must nest in hi-rate: ${(idsLo -- idsHi).take(5)} escaped")
    assert(idsHi.size > idsLo.size,
      "raising a band rate on a populated band must add survivors")
    // untouched bands are bit-identical between the two runs
    val loOther = spark.read.parquet(s"$outLo/packed")
      .where(col("bucket") =!= 2).select("doc_id")
    val hiOther = spark.read.parquet(s"$outHi/packed")
      .where(col("bucket") =!= 2).select("doc_id")
    assert(loOther.exceptAll(hiOther).count() == 0 &&
      hiOther.exceptAll(loOther).count() == 0)
  }

  test("RunMix: re-banding against the recorded threshold artifact replays exactly") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val outA = tmp("art_a"); val outB = tmp("art_b")
    RunMix.run(spark, docs, outA, epoch = 0, budget = 128)
    // read the artifact back from report.json (the resume journey)
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(outA, "report.json"))
    val ths = """"thresholds":\[([^\]]*)\]""".r
      .findFirstMatchIn(json).get.group(1)
      .split(",").map(_.toDouble).toSeq
    assert(ths.size == RunMix.defaultBandRates.size - 1 &&
      ths == ths.sorted)
    RunMix.run(spark, docs, outB, epoch = 0, budget = 128,
      thresholds = Some(ths))
    val a = spark.read.parquet(s"$outA/packed")
    val b = spark.read.parquet(s"$outB/packed")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "resume with the recorded thresholds must re-pack row-identically")
    // an artifact recorded under a DIFFERENT band count is rejected,
    // not silently banded out of range (ADVICE r6)
    val e = intercept[IllegalArgumentException] {
      RunMix.run(spark, docs, tmp("art_bad"), epoch = 0, budget = 128,
        thresholds = Some(ths.take(2)))
    }
    assert(e.getMessage.contains("cut points"))
  }

  test("multi-epoch mix: each epoch partition is row-identical to its separate run; one scoring scan") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val outM = tmp("multi"); val out0 = tmp("e0"); val out1 = tmp("e1")
    val repM = RunMix.run(spark, docs, outM, budget = 128,
      epochs = Some(Seq(0, 1))).toMap
    assert(repM("epochs") == 2L)
    RunMix.run(spark, docs, out0, epoch = 0, budget = 128)
    RunMix.run(spark, docs, out1, epoch = 1, budget = 128)
    val m = spark.read.parquet(s"$outM/packed")
    for ((e, dir) <- Seq((0, out0), (1, out1))) {
      val slice = m.where(col("epoch") === e).drop("epoch")
      val single = spark.read.parquet(s"$dir/packed")
      assert(slice.count() == single.count() &&
        slice.exceptAll(single).count() == 0 &&
        single.exceptAll(slice).count() == 0,
        s"epoch $e partition must be row-identical to its separate run")
    }
    // the point of packing epochs together: the corpus is SCORED once.
    // Same lineage shape as run(): score -> band -> multi-epoch pack;
    // the epoch fan-out must not multiply the parquet scan
    import graft.operators.{Sampling, TextAnalysis}
    val scored = spark.read
      .parquet(sf("sf0.001") + "/documents.parquet")
      .where(col("text").isNotNull)
      .withColumn("n_tokens",
        TextAnalysis.docStats(col("text")).getField("n_tokens"))
    val packed = Sampling.packSequencesEpochs(
      scored, "doc_id", "n_tokens", 128, Seq(0, 1, 2), 32)
    val planStr = packed.queryExecution.executedPlan.toString()
    val scans = "Scan parquet".r.findAllIn(planStr).size
    assert(scans == 1,
      s"three epochs must pack from ONE corpus scan, got $scans:\n$planStr")
  }

  test("packSequencesCurriculum: bands pack in order within every chunk; " +
      "constant band degenerates to packSequences; null bands last") {
    import graft.operators.Sampling
    val docs = (1L to 200L)
      .map(i => (i, 50L + (i % 7) * 10, i % 3))
      .toDF("doc_id", "n_toks", "band")
    val cur = Sampling.packSequencesCurriculum(docs, "doc_id", "n_toks",
      "band", budget = 256, epoch = 1, chunks = 4)
    val rows = cur.select("chunk", "band", "start_off")
      .as[(Int, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (c, rs) =>
      val bandsByOffset = rs.sortBy(_._3).map(_._2).toSeq
      assert(bandsByOffset == bandsByOffset.sorted,
        s"chunk $c must pack band 0 before band 1 before band 2: $bandsByOffset")
    }
    // a constant band is exactly packSequences (same key, same windows)
    def packMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "chunk", "seq", "start_off")
        .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    val const = packMap(Sampling.packSequencesCurriculum(
      docs.withColumn("band", lit(0L)), "doc_id", "n_toks", "band",
      budget = 256, epoch = 1, chunks = 4))
    val plain = packMap(Sampling.packSequences(docs, "doc_id", "n_toks",
      budget = 256, epoch = 1, chunks = 4))
    assert(const == plain)
    // null bands sort after every real band (pinned: engines disagree
    // on default null order, the operator must not)
    val withNull = docs.withColumn("band",
      when(col("doc_id") <= 5, lit(null).cast("long")).otherwise(col("band")))
    val nrows = Sampling.packSequencesCurriculum(withNull, "doc_id",
      "n_toks", "band", budget = 256, epoch = 1, chunks = 4)
      .select("chunk", "band", "start_off")
      .as[(Int, Option[Long], Long)].collect()
    nrows.groupBy(_._1).foreach { case (c, rs) =>
      val byOffset = rs.sortBy(_._3).map(_._2).toSeq
      val firstNull = byOffset.indexWhere(_.isEmpty)
      if (firstNull >= 0)
        assert(byOffset.drop(firstNull).forall(_.isEmpty),
          s"chunk $c: null bands must pack strictly last: $byOffset")
    }
  }

  test("RunMix --curriculum: the top quality band trains first in every chunk; " +
      "survivor set unchanged") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = tmp("curr")
    RunMix.run(spark, docs, out, epoch = 0, budget = 128,
      curriculum = true)
    val packed = spark.read.parquet(s"$out/packed")
    // within each chunk the quality bucket (4 = best) must be
    // non-increasing along the packed stream
    packed.select("chunk", "bucket", "start_off")
      .as[(Int, Int, Long)].collect()
      .groupBy(_._1).foreach { case (c, rs) =>
        val buckets = rs.sortBy(_._3).map(_._2).toSeq
        assert(buckets == buckets.sorted.reverse,
          s"chunk $c must pack best band first: $buckets")
      }
    // curriculum reorders, never re-selects: same docs as the plain run
    val outPlain = tmp("currplain")
    RunMix.run(spark, docs, outPlain, epoch = 0, budget = 128)
    val ids = packed.select("doc_id").as[Long].collect().toSet
    val plainIds = spark.read.parquet(s"$outPlain/packed")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == plainIds)
    // the report carries the marker
    val rep = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "report.json")))
    assert(rep.contains("\"curriculum\":1"), rep)
  }
}
