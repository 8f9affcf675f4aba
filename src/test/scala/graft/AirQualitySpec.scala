package graft

import graft.pipeline.AirQuality
import org.apache.spark.sql.functions._

/** End-to-end + per-operator semantics on a GEODAIR-shaped corpus the
  * suite writes for itself ([[GeodairCorpus.threePollutants]]: SO2, NO2
  * and CO over three days). SURVEY §5 strategy. */
class AirQualitySpec extends SparkSpec {

  private val csvDir = GeodairCorpus.threePollutants().toString
  private val testFiles = graft.pipeline.RunPipeline.listCsvs(csvDir)
  // CO (code 04) is the small slice: 3 files x 96 data rows
  private lazy val coFiles = testFiles.filter(_.contains("polluant-04"))

  test("header gate accepts all genuine files") {
    assert(AirQuality.filesPassingHeaderGate(spark, testFiles) == testFiles)
  }

  test("header gate skips files with a non-conforming header (O4)") {
    val bad = java.nio.file.Files.createTempFile("graft_badheader", ".csv")
    java.nio.file.Files.writeString(bad,
      "Wrong;Header;Entirely\n1;2;3\n")
    try {
      val gated = AirQuality.filesPassingHeaderGate(
        spark, coFiles :+ bad.toString)
      assert(gated == coFiles)
    } finally java.nio.file.Files.delete(bad)
  }

  test("pollutant dimension: parse honors the comment-out toggle and quoting") {
    val parsed = graft.pipeline.Pollutants.parse(
      """# preamble comment
        |- code: "01"
        |  short_name: "SO2"
        |  full_name: "dioxyde de soufre"
        |  unit: "µg-m3"
        |# - code: "19"
        |#   short_name: "Pb"
        |#   full_name: "plomb"
        |#   unit: "µg-m3"
        |- code: "04"
        |  short_name: CO
        |  full_name: monoxyde de carbone
        |  unit: mg-m3
        |""".stripMargin.linesIterator)
    assert(parsed == Seq(
      graft.pipeline.Pollutant("01", "SO2", "dioxyde de soufre", "µg-m3"),
      graft.pipeline.Pollutant("04", "CO", "monoxyde de carbone", "mg-m3")))
    assert(parsed.head.tableName == "so2")
  }

  test("pipeline fan-out is config-driven: unconfigured codes are skipped") {
    // config lists only SO2 — the NO2/CO files in the batch are ignored
    val onlySo2 = Seq(graft.pipeline.Pollutant("01", "SO2", "dioxyde de soufre", "µg-m3"))
    val gold = AirQuality.runPipeline(spark, testFiles, onlySo2)
    val prefixes = gold.columns
      .filter(c => c.endsWith("_valeur") && !c.endsWith("_type_de_valeur")).toSet
    assert(prefixes == Set("so2_valeur"))
    assert(!gold.columns.exists(_.startsWith("co_")))
  }

  test("K7: gold serves to a JDBC target (Derby in-memory), replace semantics") {
    val gold = AirQuality.runPipeline(spark, coFiles)
    val url = "jdbc:derby:memory:curated_t;create=true"
    graft.pipeline.RunPipeline.serveJdbc(gold.limit(50), url)
    // replace semantics: a second serve overwrites, not appends
    graft.pipeline.RunPipeline.serveJdbc(gold.limit(20), url)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "curated").load()
    assert(back.count() == 20)
    assert(back.columns.toSet == gold.columns.toSet)
  }

  test("K7: jdbc round-trip verifies rows + schema + content hash, driver-agnostic") {
    import graft.pipeline.RunPipeline
    val gold = AirQuality.runPipeline(spark, coFiles)
    val url = "jdbc:derby:memory:curated_rt;create=true"
    // the FULL gold frame (timestamps, doubles, nulls) must survive
    // the serve byte-for-byte: count + column set + value hash
    RunPipeline.serveJdbc(gold, url)
    assert(RunPipeline.verifyJdbcRoundTrip(spark, gold, url) == gold.count())
    // negative control: a store with different content must FAIL the
    // verify (otherwise the assert proves nothing)
    RunPipeline.serveJdbc(gold.limit(20), url)
    val e = intercept[IllegalArgumentException] {
      RunPipeline.verifyJdbcRoundTrip(spark, gold, url)
    }
    assert(e.getMessage.contains("round-trip"))
    // a value-level corruption (same count, same schema) is caught by
    // the content hash alone
    RunPipeline.serveJdbc(
      gold.withColumn("code_site",
        concat(col("code_site"), lit("X"))), url)
    val e2 = intercept[IllegalArgumentException] {
      RunPipeline.verifyJdbcRoundTrip(spark, gold, url)
    }
    assert(e2.getMessage.contains("content hash"))
  }

  test("bronze read + filename partition extraction (S5/K3)") {
    val df = AirQuality.withPartitionColumnsFromFilename(
      AirQuality.readBronzeCsv(spark, coFiles))
    val codes = df.select("pollutant").distinct().collect().map(_.getString(0)).toSet
    assert(codes == Set("04"))
    val dates = df.select("file_date").distinct().count()
    assert(dates == 3)
  }

  test("silver casts: two-format timestamps and float-or-null (O2)") {
    val df = AirQuality.silver(AirQuality.readBronzeCsv(spark, coFiles))
    val s = df.schema
    assert(s("date_de_debut").dataType.typeName == "timestamp")
    assert(s("valeur").dataType.typeName == "double")
    assert(s("code_site").dataType.typeName == "string")
    // timestamps parsed, not nulled
    assert(df.where(col("date_de_debut").isNull).count() == 0)
  }

  test("silverTyped: Dataset[Measurement] round-trips the silver rows") {
    val bronze = AirQuality.readBronzeCsv(spark, coFiles)
    val typed = AirQuality.silverTyped(spark, bronze)
    val rows = typed.collect()
    assert(rows.length == AirQuality.silver(bronze).count())
    // typed access: the numeric cast survived, sites are present
    assert(rows.forall(_.code_site.nonEmpty))
    assert(rows.exists(_.valeur.isDefined))
  }

  test("resampleHourly fills every missing hour and forward-fills values") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // site s1: hours 0, 3 observed -> grid 0,1,2,3; s2: single hour
    val df = Seq(("s1", 0L, 1.5), ("s1", 3L * 3600, 9.0), ("s2", 7200L, 4.0))
      .toDF("code_site", "sec", "v")
      .withColumn("date_de_debut", timestamp_seconds(col("sec"))).drop("sec")
    val out = AirQuality.resampleHourly(df, Seq("v"))
      .select("code_site", "date_de_debut", "v", "is_observed")
      .as[(String, java.sql.Timestamp, Double, Boolean)].collect()
      .map(r => (r._1, r._2.getTime / 3600000, r._3, r._4)).toSet
    assert(out == Set(
      ("s1", 0L, 1.5, true), ("s1", 1L, 1.5, false), ("s1", 2L, 1.5, false),
      ("s1", 3L, 9.0, true), ("s2", 2L, 4.0, true)))
  }

  test("silver dedup is idempotent and keyed (O5+K5)") {
    val bronze = AirQuality.readBronzeCsv(spark, coFiles)
    val doubled = bronze.unionByName(bronze) // simulate a re-run (reference re-pulls 3 days)
    val once = AirQuality.silver(bronze)
    val twice = AirQuality.silver(doubled)
    assert(once.count() == twice.count())
    val keyed = once.groupBy("code_site", "date_de_debut").count()
      .where(col("count") > 1).count()
    assert(keyed == 0)
  }

  test("gold pipeline end-to-end on full corpus") {
    val gold = AirQuality.runPipeline(spark, testFiles)
    val cols = gold.columns.toSet
    // per-pollutant prefixed value columns, named by normalized short_name
    // (codes 01=SO2, 03=NO2, 04=CO) like the reference's staging tables
    assert(cols.contains("so2_valeur") && cols.contains("no2_valeur") && cols.contains("co_valeur"))
    // derived columns from O9 / A3 / W1 / W2
    assert(cols.contains("so2_valeur_g_par_L"))
    assert(cols.contains("so2_valeur_brute_g_par_L"))
    assert(cols.contains("total_valeur_particule_g_par_L"))
    assert(cols.contains("no2_valeur_diff_6hrs"))
    assert(cols.contains("total_valeur_particule_g_par_L_percent_change_6hrs"))
    // key columns never prefixed, date_de_fin/polluant dropped
    assert(cols.contains("code_site") && cols.contains("date_de_debut"))
    assert(!cols.exists(_.endsWith("_date_de_fin")) && !cols.exists(_.endsWith("_polluant")))
    val n = gold.count()
    assert(n > 0)
    // full outer join: at least as many rows as the largest silver side
    val largest = Seq("01", "03", "04").map(code => AirQuality.silver(
      AirQuality.readBronzeCsv(spark,
        testFiles.filter(_.contains(s"polluant-$code")))).count()).max
    assert(largest > 0)
    assert(n >= largest)
  }

  test("RunScheduled: day-by-day ticks converge to the one-shot pipeline; re-runs change nothing") {
    // the @daily parity contract (SURVEY §3-E3): replaying the
    // reference's daily schedule over the corpus's own date span —
    // each tick re-pulling its 3-day window into bronze via dynamic
    // partition overwrite — must land the IDENTICAL gold table as one
    // RunPipeline over all files
    val schedDir = java.nio.file.Files
      .createTempDirectory("graft_sched").toString + "/lake"
    val nTicks = graft.pipeline.RunScheduled.runSimulated(
      spark, csvDir, schedDir, windowDays = 3)
    assert(nTicks >= 3, s"fixtures span several days, got $nTicks ticks")
    val oneShotDir = java.nio.file.Files
      .createTempDirectory("graft_sched_ref").toString + "/lake"
    val all = testFiles
    graft.pipeline.RunPipeline.run(spark, all, oneShotDir, "oneshot")
    val scheduled = spark.read.parquet(s"$schedDir/gold")
    val oneShot = spark.read.parquet(s"$oneShotDir/gold")
    assert(scheduled.count() === oneShot.count())
    assert(graft.pipeline.RunPipeline.contentHash(scheduled) ===
      graft.pipeline.RunPipeline.contentHash(oneShot),
      "the schedule is an access pattern, not a semantics change")
    // idempotent re-run: the last tick again — nothing changes
    val before = graft.pipeline.RunPipeline.contentHash(scheduled)
    val lastDay = all.flatMap(graft.pipeline.RunScheduled.fileDate)
      .distinct.sorted.last
    graft.pipeline.RunScheduled.tick(spark, csvDir, schedDir, lastDay)
    assert(graft.pipeline.RunPipeline.contentHash(
      spark.read.parquet(s"$schedDir/gold")) === before,
      "a re-run tick must converge (first-write-wins re-pull)")
    // the history file carries one line per tick (+ the re-run)
    val history = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(schedDir, "schedule.jsonl"))
    assert(history.size() === nTicks + 1)
  }

  test("RunPipeline and RunScheduled require the CSV dir: a missing one " +
      "is a named error showing the usage, never a default path") {
    for ((name, main) <- Seq[(String, Array[String] => Unit)](
        "RunPipeline" -> graft.pipeline.RunPipeline.main,
        "RunScheduled" -> graft.pipeline.RunScheduled.main)) {
      val e = intercept[IllegalArgumentException](main(Array.empty))
      assert(e.getMessage.contains("csvDir") &&
        e.getMessage.contains(s"usage: runMain graft.pipeline.$name"),
        e.getMessage)
    }
  }

  test("W1: first 6 rows per site have diff = 0 (coalesce rule)") {
    val gold = AirQuality.runPipeline(spark, coFiles)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("code_site").orderBy("date_de_debut")
    val firstSix = gold.withColumn("rn", row_number().over(w)).where(col("rn") <= 6)
    val nonZero = firstSix
      .where(col("co_valeur").isNotNull && abs(col("co_valeur_diff_6hrs")) > 1e-12)
      .count()
    assert(nonZero == 0)
  }

  test("W2: leading edge is null, not wraparound (regular semantics)") {
    val gold = AirQuality.runPipeline(spark, coFiles)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("code_site").orderBy("date_de_debut")
    val firstSix = gold.withColumn("rn", row_number().over(w)).where(col("rn") <= 6)
    assert(firstSix.where(col("co_valeur_percent_change_6hrs").isNotNull).count() == 0)
  }

  test("O9: unit conversion multiplies by the mapped factor") {
    val gold = AirQuality.runPipeline(spark, coFiles)
    // CO is mg-m3 -> 1e-3
    val bad = gold
      .where(col("co_valeur").isNotNull && col("co_unite_de_mesure") === "mg-m3")
      .where(abs(col("co_valeur_g_par_L") - col("co_valeur") * 1e-3) > 1e-15)
      .count()
    assert(bad == 0)
  }

  test("A1/A2: no nulls remain in imputable numeric columns") {
    val gold = AirQuality.runPipeline(spark, coFiles)
    // co_valeur had nulls in bronze; after mean imputation none remain
    assert(gold.where(col("co_valeur").isNull).count() == 0)
  }
}
