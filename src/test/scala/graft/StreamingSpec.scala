package graft

import graft.streaming.{DocStream, EventStream}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def eventsDir: String = {
    // file-source streams read directories; stage the sf0.001 events file
    val dir = java.nio.file.Files.createTempDirectory("events-stream").toFile
    dir.deleteOnExit()
    Tables.events(spark, sf("sf0.001")).write.mode("overwrite").parquet(dir.getPath)
    dir.getPath
  }

  test("streaming windowed agg equals the batch equivalent") {
    val dir = eventsDir
    val q = EventStream.windowedAgg(EventStream.readEvents(spark, dir),
        window_ = "1 hour", watermark = "0 seconds")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql(
      """SELECT window.start AS s, event_type, n, sum_value FROM win_out""")
    val batch = EventStream.windowedAggBatch(
      spark.read.parquet(dir), "1 hour")
      .select(col("window.start").as("s"), col("event_type"), col("n"), col("sum_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("watermarked dedup stream drops duplicate event_ids") {
    val dir = eventsDir
    // duplicate every event once
    val dup = spark.read.parquet(dir)
    dup.unionByName(dup).write.mode("overwrite").parquet(dir + "_dup")
    val q = EventStream.dedupStream(EventStream.readEvents(spark, dir + "_dup"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM dedup_out").head()
    assert(n.getLong(0) == n.getLong(1)) // one row per id
    assert(n.getLong(1) == spark.read.parquet(dir).count())
  }

  test("streaming silver equals batch silver row count (K5 as watermarked dedup)") {
    // the SO2 files carry a verbatim repeat and a revised value, so the
    // watermarked dedup has work to do
    val so2Files = GeodairCorpus.corpus().toFile
      .listFiles().map(_.getPath).filter(_.contains("polluant-01")).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("aq-stream").toFile
    dir.deleteOnExit()
    so2Files.foreach { f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(f),
        java.nio.file.Paths.get(dir.getPath, new java.io.File(f).getName))
    }
    val q = graft.streaming.AirQualityStream.silverStream(spark, dir.getPath)
      .writeStream.outputMode("append")
      .format("memory").queryName("silver_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("silver_out").count()
    val batch = graft.pipeline.AirQuality.silver(
      graft.pipeline.AirQuality.readBronzeCsv(spark, so2Files)).count()
    assert(batch > 0)
    assert(streamed == batch)
  }

  test("sessionizeBatch: gap strictly greater than threshold splits sessions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: gaps of exactly 1800s (same session) then 1801s (split);
    // user 2: single event
    val rows = Seq(
      (1L, 0L, 1L, "c", 1.0), (2L, 1800L, 1L, "c", 2.0),
      (3L, 3601L, 1L, "c", 4.0), (4L, 0L, 2L, "c", 8.0))
    val df = rows.toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val got = EventStream.sessionizeBatch(df, gapSeconds = 1800)
      .select("user_id", "session_seq", "n_events", "total_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 4.0), (2L, 1L, 1L, 8.0)))
  }

  test("batch and streaming sessionizers share the same total_value arithmetic") {
    import spark.implicits._
    // >2dp values — a scale-2 decimal cast would distort every one
    val vals = Seq(1.23456789012, 2.000000000049, 3.9999999999951)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, new java.sql.Timestamp(i * 1000L), 1L, "t", v, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batchTotal = EventStream.sessionizeBatch(df, gapSeconds = 1800)
      .select("total_value").as[Double].head()
    // the streaming state fold: per-value scale-10 HALF_UP, exact sum —
    // must equal Spark's cast(decimal(38,10)) + decimal SUM + double cast
    val streamTotal = vals
      .map(v => BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    assert(batchTotal == streamTotal)
    // scale 10 keeps sub-nano precision of the raw double sum
    assert(math.abs(batchTotal - vals.sum) < 1e-9)
  }

  test("streaming corpus intake equals the batch twin on fingerprint sets") {
    val dir = java.nio.file.Files.createTempDirectory("docs-stream").toFile
    dir.deleteOnExit()
    Tables.documents(spark, sf("sf0.001")).write.mode("overwrite").parquet(dir.getPath)
    val q = DocStream.intake(DocStream.readDocs(spark, dir.getPath))
      .writeStream.outputMode("append")
      .format("memory").queryName("intake_out").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql("SELECT fingerprint, lang_id, quality FROM intake_out")
    val batch = DocStream.intakeBatch(spark.read.parquet(dir.getPath))
      .select("fingerprint", "lang_id", "quality")
    // survivors differ only in WHICH duplicate won (arrival vs min id):
    // the surviving fingerprint/score sets are identical
    assert(streamed.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    // the filter actually gates: a junk doc would not survive
    import spark.implicits._
    val junk = Seq((9999L, "@@@ ###", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(DocStream.intakeBatch(junk, minTokens = 3).count() == 0)
  }

  test("streaming fuzzy-index intake equals one batch probe of the whole stream") {
    import graft.operators.Dedup
    import spark.implicits._
    val mk = (s: String) => s + " and the quick brown fox jumps over the lazy dog " +
      "while the rain in spain falls mainly on the plain every single day"
    val corpus = Seq(
      (1L, mk("alpha report one"), "en", "s", 0L),
      (2L, mk("beta survey two"), "en", "s", 0L),
      (3L, mk("gamma study three"), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val incoming = Seq(
      (100L, mk("beta survey two") + " extra", "en", "s", 0L),
      (101L, "novel unrelated content about databases and engines", "en", "s", 0L),
      (102L, mk("gamma study three") + " more", "en", "s", 0L),
      (103L, "another new thing entirely", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy-stream").toString
    Dedup.buildFuzzyIndex(corpus, "doc_id", "text", s"$tmp/idx",
      shingleN = 3, k = 64, bands = 16, nShards = 8)
    // two appends -> multiple source files; the result must not
    // depend on how the file source batches them
    incoming.where($"doc_id" < 102).write.parquet(s"$tmp/in")
    incoming.where($"doc_id" >= 102).write.mode("append").parquet(s"$tmp/in")
    val q = graft.streaming.DocStream.intakeAgainstFuzzyIndex(spark,
      graft.streaming.DocStream.readDocs(spark, s"$tmp/in"),
      s"$tmp/idx", s"$tmp/out", threshold = 0.5)
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.read.parquet(s"$tmp/out/survivors")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val batch = Dedup.incrementalFuzzySurvivors(spark, s"$tmp/idx",
      incoming, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == batch, "per-batch probe union must equal one whole-stream probe")
    assert(streamed == Seq(101L, 103L), "near-dups of corpus docs must be dropped")
  }

  test("growing fuzzy-index intake: sequential batches equal the one-shot dedup; appends touch only their shards") {
    import graft.operators.Dedup
    import spark.implicits._
    // each group gets its OWN long sentence (no shared suffix — at
    // threshold 0.5 a common tail would make everything a near-dup)
    val tBeta = "beta survey two covers sensor calibration drift across coastal stations during winter"
    val tEngine = "novel thing about engines describing combustion chamber pressure curves under partial load"
    val tStorage = "fresh material on storage layers comparing log structured merge trees with heap files"
    val tGamma = "gamma study three examines pollinator decline in alpine meadows over twenty years"
    val corpus = Seq(
      (1L, "alpha report one summarizes quarterly revenue for the northern retail division in detail", "en", "s", 0L),
      (2L, tBeta, "en", "s", 0L),
      (3L, tGamma, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // arrival order == id order; dup groups transitively closed:
    // {2,10} corpus dup, {11,12,20} cross-BATCH dup group, {3,22}
    // corpus dup, {21,23} within-batch dup
    val b1 = Seq(
      (10L, tBeta + " extra", "en", "s", 0L),
      (11L, tEngine, "en", "s", 0L),
      (12L, tEngine + " extra", "en", "s", 0L),
      (13L, "completely new content about databases and planners written from scratch this week", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b2 = Seq(
      (20L, tEngine + " more", "en", "s", 0L),
      (21L, tStorage, "en", "s", 0L),
      (22L, tGamma + " more", "en", "s", 0L),
      (23L, tStorage + " extra", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy-grow").toString
    Dedup.buildFuzzyIndex(corpus, "doc_id", "text", s"$tmp/idx",
      shingleN = 3, k = 64, bands = 16, nShards = 8)

    def partFiles(table: String): Map[String, Set[String]] = {
      val root = new java.io.File(s"$tmp/idx/$table")
      root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val setsBefore = partFiles("sets"); val bandsBefore = partFiles("bands")

    val s1 = Dedup.intakeStepAgainstFuzzyIndex(spark, s"$tmp/idx", b1,
      "doc_id", "text", threshold = 0.5).select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == Seq(11L, 13L), "b1: corpus dup 10 and within-batch dup 12 must drop")

    // append I/O footprint: only the accepted ids' shards gained files
    val setsAfter = partFiles("sets"); val bandsAfter = partFiles("bands")
    def grown(before: Map[String, Set[String]], after: Map[String, Set[String]]): Set[String] =
      after.keySet.filter(k => !before.contains(k) ||
        (after(k) -- before(k)).exists(_.endsWith(".parquet")))
    val expectedSetShards = Set(11L % 8, 13L % 8).map(s => s"__idshard=$s")
    assert(grown(setsBefore, setsAfter) == expectedSetShards,
      s"sets append must touch exactly the batch ids' shards, got ${grown(setsBefore, setsAfter)}")
    assert(grown(bandsBefore, bandsAfter).nonEmpty &&
      grown(bandsBefore, bandsAfter).subsetOf(bandsAfter.keySet),
      "bands append must add files only under shard partitions")

    val s2 = Dedup.intakeStepAgainstFuzzyIndex(spark, s"$tmp/idx", b2,
      "doc_id", "text", threshold = 0.5).select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2 == Seq(21L),
      "b2: CROSS-batch dup 20 must drop against the grown index; 22 corpus dup; 23 within-batch dup")

    // one-shot twin: min-id cluster survivors over the concatenated corpus
    val all = corpus.unionByName(b1).unionByName(b2)
    val oneShot = Dedup.clusterSurvivors(all, "doc_id",
        Dedup.minHashDupPairs(all, "doc_id", "text", 3, 64, 16, 0.5))
      .where($"doc_id" >= 10).select("doc_id").as[Long].collect().sorted.toSeq
    assert((s1 ++ s2).sorted == oneShot,
      "sequential grow-intake must end where the one-shot dedup ends")
  }

  test("intakeAndGrowFuzzyIndex drops a duplicate arriving batches after its original") {
    import graft.operators.Dedup
    import spark.implicits._
    val tAlpha = "alpha report one summarizes quarterly revenue for the northern retail division in detail"
    val tEngine = "novel thing about engines describing combustion chamber pressure curves under partial load"
    val corpus = Seq((1L, tAlpha, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy-grow-stream").toString
    Dedup.buildFuzzyIndex(corpus, "doc_id", "text", s"$tmp/idx",
      shingleN = 3, k = 64, bands = 16, nShards = 8)
    // batch 1 lands, THEN batch 2 with a dup of a batch-1 doc —
    // processAllAvailable between the writes pins the micro-batch order
    Seq((10L, tEngine, "en", "s", 0L),
        (11L, "completely new content about databases and planners written from scratch", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/in")
    val q = graft.streaming.DocStream.intakeAndGrowFuzzyIndex(spark,
      graft.streaming.DocStream.readDocs(spark, s"$tmp/in"),
      s"$tmp/idx", s"$tmp/out", threshold = 0.5)
    try {
      q.processAllAvailable()
      Seq((20L, tEngine + " extra", "en", "s", 0L),
          (21L, tAlpha + " more", "en", "s", 0L),
          (22L, "yet another fresh document about storage layouts and buffer pools", "en", "s", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.read.parquet(s"$tmp/out/survivors")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 20 dups batch-1's 10 (the frozen-index intake would keep it);
    // 21 dups the build corpus; 22 is novel
    assert(survivors == Seq(10L, 11L, 22L))
  }

  test("intakeAndGrowExactIndex drops an exact copy arriving batches after its original") {
    import graft.operators.Dedup
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq((1L, "alpha report one", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("exact-grow-stream").toString
    Dedup.buildExactIndex(corpus, "doc_id", col("text"), s"$tmp/idx", nShards = 4)
    Seq((10L, "novel engine text", "en", "s", 0L),
        (11L, "fresh database text", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/in")
    val q = graft.streaming.DocStream.intakeAndGrowExactIndex(spark,
      graft.streaming.DocStream.readDocs(spark, s"$tmp/in"),
      s"$tmp/idx", s"$tmp/out")
    try {
      q.processAllAvailable()
      Seq((20L, "novel engine text", "en", "s", 0L),   // copy of batch-1's 10
          (21L, "alpha report one", "en", "s", 0L),    // copy of the corpus
          (22L, "genuinely new", "en", "s", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.read.parquet(s"$tmp/out/survivors")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(10L, 11L, 22L))
  }

  test("intakeAndGrowSpanIndex: first batch founds the index; later span repeats are cut, batching-independent") {
    import graft.operators.Dedup
    import spark.implicits._
    val d10 = "one two three four five unique tail"
    val d11 = "totally fresh words about storage layouts"
    val d20 = "prefix part one two three four five suffix"  // span dup of d10
    val d21 = "closing totally fresh words about storage layouts again" // span dup of d11
    val d22 = "genuinely new material with no repeats at all"
    val tmp = java.nio.file.Files.createTempDirectory("span-grow-stream").toString
    Seq((10L, d10, "en", "s", 0L), (11L, d11, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/in")
    val q = graft.streaming.DocStream.intakeAndGrowSpanIndex(spark,
      graft.streaming.DocStream.readDocs(spark, s"$tmp/in"),
      s"$tmp/idx", s"$tmp/out", n = 5)
    try {
      q.processAllAvailable()
      Seq((20L, d20, "en", "s", 0L), (21L, d21, "en", "s", 0L),
          (22L, d22, "en", "s", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$tmp/out/rewritten")
      .collect().map(_.toString).sorted.toSeq
    // the sequential rewrites must equal the one-shot strip of the
    // concatenated corpus (id order == arrival order)
    val oneShot = Dedup.stripDuplicateSpans(
        Seq((10L, d10), (11L, d11), (20L, d20), (21L, d21), (22L, d22))
          .toDF("doc_id", "text"), "doc_id", "text", n = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(got == oneShot, s"streamed != one-shot:\n$got\nvs\n$oneShot")
    // and the cuts really happened: d20 lost its borrowed span
    val byId = spark.read.parquet(s"$tmp/out/rewritten")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(byId(20L) == "prefix part suffix" && byId(10L) == d10)
  }

  test("intakeAndGrowSemanticIndex: first batch founds the index; later semantic dups drop") {
    import spark.implicits._
    // pseudo-random vectors: unrelated seeds sit far below the 0.999
    // cosine threshold, so the only dup pairs are the planted copies
    def vec(seed: Long): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(8)(r.nextGaussian().toFloat)
    }
    val tmp = java.nio.file.Files.createTempDirectory("sem-grow-stream").toString
    // batch 1 BOOTSTRAPS: no index exists — 10/11 are within-batch
    // copies (min id 10 wins), 12 is novel; centroids freeze here
    Seq((10L, vec(900)), (11L, vec(900)), (12L, vec(901)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/in")
    val q = graft.streaming.DocStream.intakeAndGrowSemanticIndex(spark,
      graft.streaming.DocStream.readVecs(spark, s"$tmp/in"),
      s"$tmp/idx", s"$tmp/out", threshold = 0.999, nlist = 2)
    try {
      q.processAllAvailable()
      // 20 copies batch-1's ACCEPTED 10 (grown-index drop); 21 is novel
      Seq((20L, vec(900)), (21L, vec(902)))
        .toDF("vec_id", "embedding").write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.read.parquet(s"$tmp/out/survivors")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(10L, 12L, 21L))
    // the founded layout is self-describing: the frozen model persists
    assert(graft.operators.IvfAnn
      .loadCentroidsInt(spark, s"$tmp/idx").nonEmpty)
  }

  test("incremental curation intake: sequential intakeStep batches equal one-shot Curate.curate") {
    import graft.operators.{Curate, Dedup}
    // the x52 claim, in-engine and with the FULL default-shaped filter
    // (langid + quality + tokens + repetition all live): three batches
    // through intakeStep — batch 1 bootstraps both index tiers — must
    // end row-identical to one Curate.curate of the concatenated corpus
    val docs = Tables.documents(spark, sf("sf0.001"))
    val cfg = Curate.Config(langs = Seq("en", "und"),
      jaccardThreshold = 0.5, keep = Seq("source"))
    val tmp = java.nio.file.Files.createTempDirectory("curate-intake").toString
    val (ex, fz) = (s"$tmp/exact", s"$tmp/fuzzy")
    val batches = Seq(
      docs.where(col("doc_id") < 150),
      docs.where(col("doc_id") >= 150 && col("doc_id") < 300),
      docs.where(col("doc_id") >= 300))
    val sequential = batches
      .map(b => Curate.intakeStep(spark, b, "doc_id", "text", ex, fz, cfg))
      .reduce(_ unionByName _)
    val oneShot = Curate.curate(docs, "doc_id", "text", cfg)
    assert(sequential.count() == oneShot.count() &&
      sequential.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(sequential).count() == 0,
      "sequential two-tier intake must end where the one-shot funnel ends")
  }

  test("intakeAndCurate streams the full funnel: filter, exact and fuzzy tiers all drop cross-batch") {
    import graft.operators.Curate
    import spark.implicits._
    val good = "the quick brown fox and the lazy dog it was a fine day " +
      "for running in that green field and the sun was warm over it"
    val other = "the committee reviewed the proposal and it was clear that " +
      "the budget for the next year would include funding for the library"
    val tmp = java.nio.file.Files.createTempDirectory("curate-stream").toString
    // batch 1: two clean docs — bootstraps BOTH index tiers
    Seq((10L, good, "en", "s", 0L), (11L, other, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/in")
    val q = graft.streaming.DocStream.intakeAndCurate(spark,
      graft.streaming.DocStream.readDocs(spark, s"$tmp/in"),
      s"$tmp/exact", s"$tmp/fuzzy", s"$tmp/out",
      Curate.Config(langs = Seq("en", "und"), jaccardThreshold = 0.5))
    try {
      q.processAllAvailable()
      Seq((20L, good + " indeed", "en", "s", 0L), // near-dup of 10 -> fuzzy tier
          (21L, other, "en", "s", 0L),            // exact copy of 11 -> exact tier
          (22L, "zzz qqq", "en", "s", 0L),        // under min tokens -> filter
          (23L, "the new archive holds many records and it is open to all " +
            "readers who come in that building for the quiet study rooms",
            "en", "s", 0L))                       // novel -> accepted
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.read.parquet(s"$tmp/out/survivors")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(10L, 11L, 23L),
      s"expected filter/exact/fuzzy cross-batch drops, got $survivors")
  }

  test("sessionize compiles the stateful pipeline (smoke via batch read)") {
    // flatMapGroupsWithState requires a streaming Dataset; validate the
    // plan wires up and starts on a bounded file stream. NOTE: must use
    // Trigger.AvailableNow, NOT processAllAvailable() — with
    // ProcessingTimeTimeout every timeout firing counts as available
    // work, so processAllAvailable spins micro-batches forever.
    val dir = eventsDir
    val sessions = EventStream.sessionize(spark, EventStream.readEvents(spark, dir),
      timeoutMs = 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // poll until the first micro-batch lands, then stop — timeouts
      // keep generating batches, so the query never self-terminates
      val deadline = System.currentTimeMillis + 120000
      while (q.lastProgress == null && System.currentTimeMillis < deadline)
        Thread.sleep(200)
      assert(q.lastProgress != null, "no micro-batch completed within 120s")
    } finally q.stop()
    // sessions flush on processing-time timeout; zero rows is acceptable
    assert(spark.table("sess_out").columns.contains("n_events"))
  }

  test("streaming media intake drops a cross-codec copy arriving batches later") {
    import graft.operators.Multimodal
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("media-stream").toString
    // batch 1: PNGs of contents 0..9 (ids 0..9); batch 2: GIF copies
    // of contents 0..9 at ids 100..109 plus 5 novel contents 10..14
    // at ids 110..114 — the copies must drop, the novel ones admit
    Multimodal.packImageCopies(spark, (0L until 10L).toDF("doc_id"),
        "doc_id", 100L)
      .write.parquet(s"$tmp/in")
    val q = graft.streaming.MediaStream.intakeAndGrowFingerprintIndex(
      spark, graft.streaming.MediaStream.readMedia(spark, s"$tmp/in"),
      s"$tmp/idx", s"$tmp/out")
    try {
      q.processAllAvailable()
      Multimodal.packImageCopies(spark,
          ((100L until 110L) ++ (110L until 115L)).toDF("doc_id"),
          "doc_id", 100L)
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(s"$tmp/out/admitted")
      .select("media_id").as[Long].collect().sorted.toSeq
    // ids 100..109 are GIF re-encodes of admitted PNG contents ->
    // dropped against the grown index; 110..114 are novel -> admitted
    assert(admitted == ((0L until 10L) ++ (110L until 115L)))
  }

  test("streaming sink through TxLog.appendIdempotent: exactly-once per batch, " +
      "snapshot == all streamed rows, replay is a no-op") {
    import graft.operators.TxLog
    val root = java.nio.file.Files.createTempDirectory("graft_tx_stream")
      .toString + "/t"
    val dir = eventsDir
    val q = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .select(col("event_id"), col("event_type"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the replay-safe producer wiring: the streaming engine may
        // re-deliver a batch id after a crash; the token dedupes it
        TxLog.appendIdempotent(spark, root, batch, "event-sink", id,
          Some("event_id"))
        ()
      }
      .start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = TxLog.snapshot(spark, root)
    val expected = spark.read.parquet(dir).count()
    assert(streamed.count() === expected)
    // simulate the engine re-delivering batch 0 after recovery
    val (v, committed) = TxLog.appendIdempotent(spark, root,
      spark.read.parquet(dir).select(col("event_id"), col("event_type")),
      "event-sink", 0L, Some("event_id"))
    assert(!committed && v === 1)
    assert(TxLog.snapshot(spark, root).count() === expected)
  }

  test("live CDC tail: a file stream on the commit log drives incremental " +
      "consumption — every version's delta lands exactly once, in order") {
    import graft.operators.TxLog
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tx_tail")
      .toString + "/t"
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    TxLog.append(spark, root, docs(0, 10), Some("id"))
    // the manifests ARE the stream: each commit lands as one new file
    // (the atomic-claim link), dot-prefixed temps are invisible to the
    // file source — so a text stream over the log dir is a push-based
    // CDC cursor with no extra machinery
    val seen = new java.util.concurrent.ConcurrentSkipListSet[Long]()
    val inserts = new java.util.concurrent.atomic.AtomicLong(0)
    val deletes = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream
      .format("text")
      .load(s"$root/_txlog/*.commit")
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val versions = batch.select("f").distinct().as[String].collect()
          .map(f => "v(\\d{20})\\.commit".r.findFirstMatchIn(f).get
            .group(1).toLong)
          .filterNot(seen.contains).sorted
        versions.foreach { v =>
          val delta = TxLog.changes(spark, root, v - 1, v)
          inserts.addAndGet(delta.where(col("__change") === "insert").count())
          deletes.addAndGet(delta.where(col("__change") === "delete").count())
          seen.add(v)
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(seen.size === 1 && inserts.get === 10)
      TxLog.append(spark, root, docs(10, 25), Some("id"))
      TxLog.append(spark, root, docs(25, 30), Some("id"))
      q.processAllAvailable()
      assert(seen.size === 3 && inserts.get === 30 && deletes.get === 0)
      TxLog.rewrite(spark, root, Some("id"))(_.where(col("id") < 12))
      q.processAllAvailable()
      // the rewrite streams as delete-all(30) + re-insert(12)
      assert(seen.size === 4 && inserts.get === 42 && deletes.get === 30)
    } finally q.stop()
  }

  test("streaming materialized view: the CDC tail drives keyed MERGE into " +
      "a replica — append, rewrite AND tombstone all replicate exactly") {
    import graft.operators.TxLog
    import spark.implicits._
    val rootA = java.nio.file.Files.createTempDirectory("graft_tx_mv_src")
      .toString + "/t"
    val rootB = java.nio.file.Files.createTempDirectory("graft_tx_mv_dst")
      .toString + "/t"
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    TxLog.append(spark, rootA, docs(0, 60), Some("id"))
    val applied = new java.util.concurrent.ConcurrentSkipListSet[Long]()
    // the commit log IS the stream (the live-CDC-tail pattern above);
    // each discovered version's physical delta reconciles per key
    // (latest version wins; within a version insert beats delete) and
    // lands in the replica as ONE keyed MERGE — the materialized-view
    // maintenance loop with no extra machinery
    val q = spark.readStream.format("text")
      .load(s"$rootA/_txlog/*.commit")
      .select(input_file_name().as("f"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val versions = batch.select("f").distinct().as[String].collect()
          .map(f => "v(\\d{20})\\.commit".r.findFirstMatchIn(f).get
            .group(1).toLong)
          .filterNot(applied.contains).sorted
        versions.foreach { v =>
          val delta = TxLog.changes(spark, rootA, v - 1, v)
          val b = delta.groupBy("id")
            .agg(max(struct(col("__version"),
              (col("__change") === "insert").cast("int").as("ins"),
              col("text"))).as("m"))
            .select(col("id"), col("m.text").as("text"),
              (col("m.ins") === 0).as("del"))
          TxLog.merge(spark, rootB, b, "id", deleteCol = Some("del"))
          applied.add(v)
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      TxLog.append(spark, rootA, docs(60, 90), Some("id"))
      TxLog.rewrite(spark, rootA, Some("id"))(_.where(col("id") % 2 === 0))
      TxLog.tombstone(spark, rootA, Seq(4L, 8L).toDF("id"), "id")
      q.processAllAvailable()
    } finally q.stop()
    val a = TxLog.snapshot(spark, rootA).orderBy("id").collect()
    val b = TxLog.snapshot(spark, rootB).orderBy("id").collect()
    assert(applied.size === 4)
    assert(b === a)
    assert(a.length === 43) // 45 even ids in [0,90) minus tombstoned 4, 8
  }

  test("streaming CDC→MERGE replica is exactly-once under batch replay: " +
      "a killed-and-replayed micro-batch merges at most once") {
    import graft.operators.TxLog
    import spark.implicits._
    val rootA = java.nio.file.Files.createTempDirectory("graft_tx_eo_src")
      .toString + "/t"
    val rootB = java.nio.file.Files.createTempDirectory("graft_tx_eo_dst")
      .toString + "/t"
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    TxLog.append(spark, rootA, docs(0, 40), Some("id"))
    TxLog.rewrite(spark, rootA, Some("id"))(_.where(col("id") % 2 === 0))
    TxLog.tombstone(spark, rootA, Seq(4L, 8L).toDF("id"), "id")
    // the materialized-view loop, exactly-once form: each source
    // version's reconciled delta lands via mergeIdempotent keyed by
    // (replica-id, source-version) — foreachBatch may re-deliver after
    // a crash, and tokens make the re-delivery a no-op instead of
    // re-running a delete-then-reinsert window against newer state
    def applyVersion(v: Long): (Long, Boolean) = {
      val delta = TxLog.changes(spark, rootA, v - 1, v)
      val b = delta.groupBy("id")
        .agg(max(struct(col("__version"),
          (col("__change") === "insert").cast("int").as("ins"),
          col("text"))).as("m"))
        .select(col("id"), col("m.text").as("text"),
          (col("m.ins") === 0).as("del"))
      TxLog.mergeIdempotent(spark, rootB, b, "id", "mv", v,
        deleteCol = Some("del"), conflictRetries = 2)
    }
    val head = TxLog.latestVersion(spark, rootA)
    (1L to head).foreach(v => assert(applyVersion(v)._2,
      s"first delivery of v$v must commit"))
    val replica0 = TxLog.snapshot(spark, rootB).orderBy("id").collect()
    assert(replica0 === TxLog.snapshot(spark, rootA).orderBy("id").collect())
    // CRASH REPLAY: the engine re-delivers every batch (the worst
    // case — a checkpointless restart). The rewrite's delete-all +
    // re-insert window and the tombstone's delete window are the
    // dangerous ones; each replay returns its original version,
    // commits nothing, and the replica is byte-stable
    (1L to head).foreach { v =>
      val (orig, committedNow) = applyVersion(v)
      assert(!committedNow, s"replay of v$v must not commit")
      assert(orig === v, "the token resolves to the original commit")
    }
    assert(TxLog.latestVersion(spark, rootB) === head)
    assert(TxLog.snapshot(spark, rootB).orderBy("id").collect() === replica0)
  }

  test("RunReplica: one journey command bootstraps, resumes after " +
      "downtime, and live-tails — same operation, token cursor") {
    import graft.operators.TxLog
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_rr_src")
      .toString + "/t"
    val dst = java.nio.file.Files.createTempDirectory("graft_rr_dst")
      .toString + "/t"
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    TxLog.append(spark, src, docs(0, 30), Some("id"))
    TxLog.tombstone(spark, src, Seq(4L).toDF("id"), "id")
    // bootstrap pass
    val (applied1, head1) = graft.pipeline.RunReplica.run(
      spark, src, dst, "id")
    assert(applied1 === 2L && head1 === 2L)
    assert(TxLog.snapshot(spark, dst).count() === 29)
    // idle pass: nothing to do, nothing applied
    assert(graft.pipeline.RunReplica.run(spark, src, dst, "id")._1 === 0L)
    // downtime commits, then a watch window catches them live
    TxLog.merge(spark, src, Seq((5L, "five")).toDF("id", "text"), "id")
    val (applied3, _) = graft.pipeline.RunReplica.run(spark, src, dst,
      "id", watchSeconds = 2L)
    assert(applied3 === 1L)
    assert(TxLog.snapshot(spark, dst).orderBy("id").collect() ===
      TxLog.snapshot(spark, src).orderBy("id").collect())
  }

  test("TxStream: catchUp bootstraps, replicate live-tails, a second " +
      "catchUp after downtime resumes from the tokens — one-line replicas") {
    import graft.operators.TxLog
    import graft.streaming.TxStream
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_txs_src")
      .toString + "/t"
    val dst = java.nio.file.Files.createTempDirectory("graft_txs_dst")
      .toString + "/t"
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    // history BEFORE the replica exists: append + merge + tombstone
    TxLog.append(spark, src, docs(0, 40), Some("id"))
    TxLog.merge(spark, src, (0 until 10).map(i => (i.toLong, s"m-$i"))
      .toDF("id", "text"), "id")
    TxLog.tombstone(spark, src, Seq(3L, 7L).toDF("id"), "id")
    // bootstrap: one-shot catch-up replays it all
    val v0 = TxStream.catchUp(spark, src, dst, "id")
    assert(v0 === 3L)
    assert(TxLog.snapshot(spark, dst).orderBy("id").collect() ===
      TxLog.snapshot(spark, src).orderBy("id").collect())
    // live tail: commits landing while the stream runs replicate
    val q = TxStream.replicate(spark, src, dst, "id")
    try {
      q.processAllAvailable() // replays 1..3 — tokens make it a no-op
      TxLog.append(spark, src, docs(40, 60), Some("id"))
      TxLog.restore(spark, src, 3L) // roll the append back
      TxLog.append(spark, src, docs(60, 70), Some("id"))
      q.processAllAvailable()
    } finally q.stop()
    assert(TxLog.snapshot(spark, dst).orderBy("id").collect() ===
      TxLog.snapshot(spark, src).orderBy("id").collect())
    // downtime: more source commits with no stream running, then a
    // second catchUp resumes exactly where the tokens left off
    TxLog.tombstone(spark, src, Seq(65L).toDF("id"), "id")
    TxLog.merge(spark, src, Seq((61L, "late")).toDF("id", "text"), "id")
    TxStream.catchUp(spark, src, dst, "id")
    val a = TxLog.snapshot(spark, src).orderBy("id").collect()
    assert(TxLog.snapshot(spark, dst).orderBy("id").collect() === a)
    assert(a.length === 47, "40 - 2 takedowns + 10 tail - 1 takedown")
  }

  test("graft-tx streaming source: offsets ARE commit versions — a " +
      "checkpointed restart resumes at the version, reading only the " +
      "commits that landed while the stream was down") {
    import graft.operators.TxLog
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_txsrc_off")
      .toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_txsrc_ck")
      .toString
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    TxLog.append(spark, src, docs(0, 50), Some("id"))
    TxLog.append(spark, src, docs(50, 100), Some("id"))
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def startQ() = spark.readStream.format("graft-tx").load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val r = b.agg(min(col("__version")), max(col("__version")),
          count(lit(1))).head()
        if (!r.isNullAt(0)) {
          batches.add((r.getLong(0), r.getLong(1)))
          rows.addAndGet(r.getLong(2))
        }
        ()
      }.start()
    val q1 = startQ()
    try q1.processAllAvailable() finally q1.stop()
    assert(rows.get() === 100, "the bootstrap batch replays all history")
    assert(batches.poll() === ((1L, 2L)), "window (0, 2] — versions 1..2")
    // downtime: one more commit lands with no stream running
    TxLog.append(spark, src, docs(100, 110), Some("id"))
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    assert(rows.get() === 110,
      "the restart resumed AT v2 and read only v3's 10 rows — a " +
        "file-watermark source would have re-listed everything")
    assert(batches.poll() === ((3L, 3L)), "window (2, 3] exactly")
  }

  test("graft-tx streaming source kill-and-replay: a sink crash AFTER " +
      "the merge landed but BEFORE the offset committed re-delivers the " +
      "window; the idempotence token lands it exactly once") {
    import graft.operators.TxLog
    import graft.streaming.TxStream
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_txsrc_kr")
      .toString + "/t"
    val dst = java.nio.file.Files.createTempDirectory("graft_txdst_kr")
      .toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_txck_kr")
      .toString
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    TxLog.append(spark, src, docs(0, 40), Some("id"))
    TxLog.merge(spark, src, (0 until 8).map(i => (i.toLong, s"m-$i"))
      .toDF("id", "text"), "id")
    TxLog.tombstone(spark, src, Seq(5L, 9L).toDF("id"), "id")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def startQ() = spark.readStream.format("graft-tx").load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vRow = b.agg(max(col("__version"))).head()
        if (!vRow.isNullAt(0)) {
          val v = vRow.getLong(0)
          TxLog.mergeIdempotent(spark, dst, TxStream.reconcile(b, "id"),
            "id", "kr-replica", v, deleteCol = Some("__del"))
          // die between the merge commit and the offset commit — the
          // exactly-once window every at-least-once sink must survive
          if (crashed.compareAndSet(false, true))
            throw new RuntimeException("boom: crash after merge")
        }
        ()
      }.start()
    val q1 = startQ()
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    assert(crashed.get(), "the crash path must have fired")
    // restart on the same checkpoint: the SAME window re-delivers; the
    // (appId, window-max-version) token resolves it to the original
    // commit and lands nothing
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxLog.snapshot(spark, dst).orderBy("id").collect() ===
      TxLog.snapshot(spark, src).orderBy("id").collect())
    // exactly one merge commit on the replica — the replay was a no-op
    assert(TxLog.history(spark, dst)
      .where(col("action") === "merge").count() === 1L)
  }

  test("graft-tx streaming source options: startingVersion=latest tails " +
      "only post-definition commits; maxVersionsPerBatch drains a " +
      "backlog across bounded batches, surviving a checkpointed restart") {
    import graft.operators.TxLog
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_txsrc_opt")
      .toString + "/t"
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    (0 until 6).foreach(k =>
      TxLog.append(spark, src, docs(k * 10, k * 10 + 10), Some("id")))
    // latest: the 6-commit history is invisible; only the tail lands
    val tailRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val qL = spark.readStream.format("graft-tx")
      .option("startingVersion", "latest").load(src)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        tailRows.addAndGet(b.count()); ()
      }.start()
    try {
      qL.processAllAvailable()
      assert(tailRows.get() === 0, "history must not replay under latest")
      TxLog.append(spark, src, docs(100, 105), Some("id"))
      qL.processAllAvailable()
      assert(tailRows.get() === 5)
    } finally qL.stop()
    // maxVersionsPerBatch=2: the 7-commit backlog arrives as ceil(7/2)
    // bounded windows, in order, nothing lost — and a restart on the
    // checkpoint keeps draining forward from the recovered offset
    val ckpt = java.nio.file.Files.createTempDirectory("graft_txck_opt")
      .toString
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def startQ() = spark.readStream.format("graft-tx")
      .option("maxVersionsPerBatch", 2).load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val r = b.agg(min(col("__version")), max(col("__version"))).head()
        if (!r.isNullAt(0)) windows.add((r.getLong(0), r.getLong(1)))
        ()
      }.start()
    val q1 = startQ()
    try q1.processAllAvailable() finally q1.stop()
    val w1 = windows.toArray(Array.empty[(Long, Long)]).toSeq
    assert(w1 === Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 7L)),
      s"bounded drain, got $w1")
    windows.clear()
    TxLog.append(spark, src, docs(200, 210), Some("id"))
    TxLog.append(spark, src, docs(210, 220), Some("id"))
    TxLog.append(spark, src, docs(220, 230), Some("id"))
    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()
    val w2 = windows.toArray(Array.empty[(Long, Long)]).toSeq
    assert(w2 === Seq((8L, 9L), (10L, 10L)),
      s"the restart resumes the cap from the recovered offset, got $w2")
    // latest + an existing checkpoint: the checkpoint's offset is the
    // authoritative resume point — commits that landed during the
    // downtime must flow immediately (a head-anchored floor would
    // stall them until a brand-new commit landed)
    val ckptL = java.nio.file.Files.createTempDirectory("graft_txck_l")
      .toString
    val rowsL = new java.util.concurrent.atomic.AtomicLong(0L)
    def startLatest() = spark.readStream.format("graft-tx")
      .option("startingVersion", "latest").load(src)
      .writeStream.option("checkpointLocation", ckptL)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rowsL.addAndGet(b.count()); ()
      }.start()
    val qa = startLatest()
    try {
      qa.processAllAvailable()
      TxLog.append(spark, src, docs(300, 310), Some("id"))
      qa.processAllAvailable()
    } finally qa.stop()
    assert(rowsL.get() === 10)
    TxLog.append(spark, src, docs(310, 315), Some("id")) // downtime commit
    val qb = startLatest()
    try qb.processAllAvailable() finally qb.stop()
    assert(rowsL.get() === 15,
      "the downtime commit must flow on restart without waiting for " +
        "a post-restart commit")
  }

  test("native streaming sink: writeStream.format(graft-tx) lands " +
      "idempotent appends — exactly-once across checkpoint restart AND " +
      "a forced batch replay") {
    import graft.operators.TxLog
    val root = java.nio.file.Files.createTempDirectory("graft_sink_a")
      .toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ack")
      .toString
    val dir = eventsDir
    def start() = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select(col("event_id"), col("event_type"))
      .writeStream.format("graft-tx")
      .option("checkpointLocation", ckpt)
      .option("appId", "sink-a")
      .start(root)
    val q = start()
    try q.processAllAvailable() finally q.stop()
    val expected = spark.read.parquet(dir).count()
    assert(TxLog.snapshot(spark, root).count() === expected)
    // restart on the same checkpoint: nothing new to do, nothing lands
    val v1 = TxLog.latestVersion(spark, root)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxLog.latestVersion(spark, root) === v1)
    // FORCED REPLAY: re-deliver batch 0 straight into the sink (the
    // crash case the checkpoint restart above can't force) — the
    // (appId, batchId) token resolves it to its original commit
    val sink = new graft.sources.TxDataSource().createSink(
      spark.sqlContext, Map("path" -> root, "appId" -> "sink-a"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0L, spark.read.parquet(dir)
      .select(col("event_id"), col("event_type")).limit(5))
    assert(TxLog.latestVersion(spark, root) === v1,
      "a replayed batch id must land nothing")
    assert(TxLog.snapshot(spark, root).count() === expected)
  }

  test("native replica: readStream.format(graft-tx) -> writeStream" +
      ".format(graft-tx) with cdc reconciliation — the replica tracks " +
      "rewrites and tombstones across a kill-and-resume") {
    import graft.operators.TxLog
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_sink_src")
      .toString + "/t"
    val dst = java.nio.file.Files.createTempDirectory("graft_sink_dst")
      .toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ck")
      .toString
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d-$i")).toDF("id", "text")
    TxLog.append(spark, src, docs(0, 40), Some("id"))
    TxLog.rewrite(spark, src, Some("id"))(_.where(col("id") % 2 === 0))
    TxLog.tombstone(spark, src, Seq(4L, 8L).toDF("id"), "id")
    def start() = spark.readStream.format("graft-tx")
      .option("maxVersionsPerBatch", "1").load(src)
      .writeStream.format("graft-tx")
      .option("checkpointLocation", ckpt)
      .option("appId", "replica-1")
      .option("keyCol", "id").option("cdc", "true")
      .start(dst)
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(TxLog.snapshot(spark, dst).orderBy("id").collect() ===
      TxLog.snapshot(spark, src).orderBy("id").collect(),
      "the replica equals the source after the bootstrap window")
    // kill, land downtime commits, resume on the same checkpoint
    TxLog.merge(spark, src, Seq((6L, "SIX"), (100L, "hund"))
      .toDF("id", "text"), "id")
    TxLog.tombstone(spark, src, Seq(10L).toDF("id"), "id")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxLog.snapshot(spark, dst).orderBy("id").collect() ===
      TxLog.snapshot(spark, src).orderBy("id").collect(),
      "the resumed replica converges on the downtime commits")
    // the tokens are batch-scoped: nothing double-applied
    val hist = TxLog.history(spark, dst)
    assert(hist.where(col("txn_app") === "replica-1").count() ===
      hist.count(), "every replica commit carries its token")
  }

  test("native sink default appId is the streaming QUERY id: distinct " +
      "streams get distinct token sequences, a checkpoint restart keeps " +
      "its own, and a batch outside any stream refuses without appId") {
    import graft.operators.TxLog
    val root = java.nio.file.Files.createTempDirectory("graft_sink_qid")
      .toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_qck")
      .toString
    val dir = eventsDir
    def start() = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .select(col("event_id"), col("event_type"))
      .writeStream.format("graft-tx")
      .option("checkpointLocation", ckpt)
      .start(root) // NO appId option
    val q = start()
    try q.processAllAvailable() finally q.stop()
    val expected = spark.read.parquet(dir).count()
    assert(TxLog.snapshot(spark, root).count() === expected)
    val apps = TxLog.history(spark, root)
      .where(col("txn_app").isNotNull)
      .select("txn_app").distinct().collect().map(_.getString(0))
    assert(apps.length === 1 &&
      apps.head.startsWith("graft-tx-sink-"), apps.mkString(","))
    // the default rides the QUERY id (persisted in the checkpoint), so
    // a restart from the same checkpoint keeps the same token identity
    // — nothing re-lands
    val v1 = TxLog.latestVersion(spark, root)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(TxLog.latestVersion(spark, root) === v1)
    // outside any stream there is no query id on the thread: the sink
    // must refuse loudly rather than invent a collidable identity
    val sink = new graft.sources.TxDataSource().createSink(
      spark.sqlContext, Map("path" -> root), Seq.empty,
      org.apache.spark.sql.streaming.OutputMode.Append())
    val ex = intercept[IllegalStateException] {
      sink.addBatch(99L, spark.read.parquet(dir)
        .select(col("event_id"), col("event_type")).limit(3))
    }
    assert(ex.getMessage.contains("appId"), ex.getMessage)
  }

  test("native sink refusals: Complete mode, cdc without keyCol, and " +
      "partitionBy are loud errors") {
    val root = java.nio.file.Files.createTempDirectory("graft_sink_r")
      .toString + "/t"
    val ds = new graft.sources.TxDataSource()
    val complete = intercept[IllegalArgumentException] {
      ds.createSink(spark.sqlContext, Map("path" -> root), Seq.empty,
        org.apache.spark.sql.streaming.OutputMode.Complete())
    }
    assert(complete.getMessage.contains("Complete"), complete.getMessage)
    val cdc = intercept[IllegalArgumentException] {
      ds.createSink(spark.sqlContext, Map("path" -> root, "cdc" -> "true"),
        Seq.empty, org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(cdc.getMessage.contains("keyCol"), cdc.getMessage)
    val part = intercept[IllegalArgumentException] {
      ds.createSink(spark.sqlContext, Map("path" -> root), Seq("id"),
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(part.getMessage.contains("OPTIMIZE"), part.getMessage)
  }
}
