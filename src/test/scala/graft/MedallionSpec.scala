package graft

import graft.GeodairCorpus._
import graft.pipeline.{AirQuality, Pollutants, RunPipeline, RunScheduled}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

/** The medallion pipeline on tiny self-made GEODAIR-shaped corpora
  * ([[GeodairCorpus]]): one-pass silver against per-slice silver,
  * silver's one-shuffle dedup against the whole-row-distinct formula,
  * gold over the one silver table against the N-way join, the
  * one-window unit conversion against its per-column formula, and the
  * CSV listing's error for a missing directory. */
class MedallionSpec extends SparkSpec {

  test("listCsvs: a missing CSV directory is a named IllegalArgumentException") {
    val missing = tmp("medallion_missing").resolve("absent").toString
    val e = intercept[IllegalArgumentException](RunPipeline.listCsvs(missing))
    assert(e.getMessage.contains(missing))
    val e2 = intercept[IllegalArgumentException](
      RunScheduled.runSimulated(spark, missing, tmp("medallion_sched").toString))
    assert(e2.getMessage.contains(missing))
  }

  test("one-pass silver: gold equals gold over per-slice silver; one table dir per active pollutant") {
    val csvs = RunPipeline.listCsvs(corpus().toString)
    assert(csvs.size == 5)
    val out = tmp("medallion_out").toString
    RunPipeline.run(spark, csvs, out, "spec")

    val bronze = AirQuality.withPartitionColumnsFromFilename(
      AirQuality.readBronzeCsv(spark, AirQuality.filesPassingHeaderGate(spark, csvs)))
    val active = Pollutants.default.filter(p => Set("01", "04")(p.code))
    val perSlice = AirQuality.gold(active.map(p =>
      p.tableName -> AirQuality.silver(bronze.where(col("pollutant") === p.code))).toMap)
    val gold = spark.read.parquet(s"$out/gold")
    assert(gold.columns.toSeq == perSlice.columns.toSeq)
    assert(gold.count() == 2 * 2 * 12 && perSlice.count() == gold.count())
    assert(RunPipeline.contentHash(gold) == RunPipeline.contentHash(perSlice))

    def dirs(p: String) = new java.io.File(p).list().filter(_.contains("=")).toSet
    assert(dirs(s"$out/bronze").contains("pollutant=99"))
    assert(dirs(s"$out/silver") == active.map(p => s"table=${p.tableName}").toSet)
    // the verbatim repeat and the revised value each left one row per key
    val so2 = spark.read.parquet(s"$out/silver/table=so2")
    assert(so2.count() == 2 * 2 * 12)
    assert(so2.groupBy("code_site", "date_de_debut").count().where(col("count") > 1).isEmpty)
  }

  test("silver dedups in one shuffle: equals the whole-row-distinct formula; -0 lands as 0.0") {
    val dir = tmp("medallion_silver")
    val rows = (0 to 5).map(h => row(0, 0, h, "SO2", s"${h + 1}.250", "µg-m3"))
    val zeros = Seq(row(0, 0, 4, "SO2", "-0", "µg-m3"), row(0, 0, 4, "SO2", "0", "µg-m3"))
    // SO2: hour 2 repeated verbatim, the -0/0 pair at hour 4, a lone -0
    // at hour 5; CO: the pair in the other order
    writeCsv(dir, "01", 0, Seq(rows(2)) ++ rows.take(4) ++ zeros :+ row(0, 0, 5, "SO2", "-0", "µg-m3"))
    writeCsv(dir, "04", 0, zeros.reverse ++ rows.take(4).map(_.replace("SO2", "CO")))
    val bronze = AirQuality.withPartitionColumnsFromFilename(
      AirQuality.readBronzeCsv(spark, RunPipeline.listCsvs(dir.toString)))

    val got = AirQuality.silver(bronze)
    val expected = AirQuality.firstPerKey(
      AirQuality.castSilver(AirQuality.filterEmptyRows(bronze)).distinct(),
      "pollutant" +: AirQuality.keyColumns)
    def rendered(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(got.columns.toSeq == expected.columns.toSeq)
    assert(rendered(got) == rendered(expected))
    assert(got.count() == 6 + 5)
    val zeroBits = got.where(col("valeur") === 0.0).select("valeur", "valeur_brute").collect()
      .flatMap(r => Seq(r.getDouble(0), r.getDouble(1))).map(java.lang.Double.doubleToRawLongBits)
    assert(zeroBits.length == 2 * 3 && zeroBits.forall(_ == 0L))
  }

  test("goldFromSilver over the one silver table equals gold over the N-way join, null keys included") {
    val dir = tmp("medallion_nullkey")
    def hours(site: Int, n: Int, short: String, value: Int => String) =
      (0 until n).map(h => row(site, 0, h, short, value(site * 100 + h), "µg-m3"))
    def num(x: Int) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x * 1.7 + 0.123))
    val badDate = Some("not a date")
    // site 0: 4 hours plus an unparseable start in SO2 and CO (6 rows,
    // fewer than the lag, so the two null-date rows' tie cannot show);
    // site 1: SO2 only; site 2: all three, NO2 with every valeur empty
    writeCsv(dir, "01", 0, hours(0, 4, "SO2", num) ++ hours(1, 12, "SO2", num) ++
      hours(2, 12, "SO2", num) :+ row(0, 0, 4, "SO2", "5.500", "µg-m3", start = badDate))
    writeCsv(dir, "04", 0, hours(0, 4, "CO", x => num(3 * x)) ++ hours(2, 12, "CO", x => num(3 * x)) :+
      row(0, 0, 5, "CO", "7.250", "µg-m3", start = badDate))
    writeCsv(dir, "03", 0, hours(2, 12, "NO2", _ => ""))
    val out = tmp("medallion_nullkey_out").toString
    RunPipeline.run(spark, RunPipeline.listCsvs(dir.toString), out, "spec")

    val tables = Seq("so2", "no2", "co")
    val got = AirQuality.goldFromSilver(spark.read.parquet(s"$out/silver"), tables)
    val joined = AirQuality.gold(tables.map(t => t -> spark.read.parquet(s"$out/silver/table=$t")).toMap)
    assert(got.columns.toSeq == joined.columns.toSeq)
    assert(got.count() == 4 + 2 + 12 + 12 && joined.count() == got.count())
    assert(got.exceptAll(joined).isEmpty && joined.exceptAll(got).isEmpty)
    assert(RunPipeline.contentHash(got) == RunPipeline.contentHash(joined))
    assert(got.where(col("date_de_debut").isNull).count() == 2)
    assert(got.where(col("no2_valeur").isNotNull).isEmpty)
    assert(RunPipeline.contentHash(spark.read.parquet(s"$out/gold")) == RunPipeline.contentHash(joined))
  }

  test("convertUnits fills every unit column in one Window; rows equal the per-column formula") {
    import spark.implicits._
    val df = Seq(
      ("S1", 0, Some(1.0), Some(1.1), None, Some(4.0), None),
      ("S1", 1, None, Some(2.1), Some("mg-m3"), Some(5.0), None),
      ("S1", 2, Some(3.0), None, None, None, None),
      ("S1", 3, Some(4.0), Some(4.1), Some("µg-m3"), Some(6.0), None),
      ("S1", 4, Some(5.0), Some(5.1), None, Some(7.0), None),
      ("S2", 0, Some(9.0), Some(9.1), None, Some(1.0), Some("ng-m3")),
      ("S2", 1, Some(8.0), None, None, Some(2.0), None),
      ("S2", 2, None, Some(7.1), Some("mg-m3"), Some(3.0), None)
    ).toDF("code_site", "hour", "a_valeur", "a_valeur_brute", "a_unite_de_mesure",
      "b_valeur", "b_unite_de_mesure")
      .withColumn("date_de_debut", timestamp_seconds(col("hour") * 3600)).drop("hour")

    // the per-column form: one fill window per unit column, and the
    // factor re-fills the already filled column
    def perColumn(df: DataFrame): DataFrame = {
      val factorMap = typedlit(AirQuality.unitFactors)
      df.columns.filter(_.endsWith("_unite_de_mesure")).foldLeft(df) { (acc, unitCol) =>
        val prefix = unitCol.stripSuffix("_unite_de_mesure")
        val filled = AirQuality.ffillBfill(col(unitCol))
        val factor = element_at(factorMap, filled)
        Seq("_valeur", "_valeur_brute").foldLeft(acc.withColumn(unitCol, filled)) { (a, suffix) =>
          val valueCol = s"$prefix$suffix"
          if (a.columns.contains(valueCol))
            a.withColumn(s"${valueCol}_g_par_L", col(valueCol) * factor)
          else a
        }
      }
    }
    def analytics(convert: DataFrame => DataFrame) = AirQuality.pctChange6(
      AirQuality.lagDiff6(AirQuality.totalValeur(convert(AirQuality.imputeMeans(df)))))
    def windows(d: DataFrame) =
      d.queryExecution.optimizedPlan.collect { case w: Window => w }.size

    val got = analytics(AirQuality.convertUnits)
    val expected = analytics(perColumn)
    assert(windows(got) == 2, got.queryExecution.optimizedPlan.toString)
    assert(windows(expected) > 2)
    assert(got.columns.toSeq == expected.columns.toSeq)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq)
    assert(got.where(col("a_valeur_g_par_L").isNull).isEmpty)
  }
}
