package graft

import graft.pipeline.{AirQuality, Pollutants, RunPipeline, RunScheduled}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The medallion pipeline on a tiny self-made GEODAIR-shaped corpus
  * (FIXTURES.md §1): one-pass silver against per-slice silver, the
  * one-window unit conversion against its per-column formula, and the
  * CSV listing's error for a missing directory. */
class MedallionSpec extends SparkSpec {

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  /** One data row in file order: the 23 FIXTURES.md §1 columns. */
  private def row(site: Int, day: Int, hour: Int, short: String,
      value: String, unit: String, kind: String = "moyenne horaire validée"): String = {
    val t0 = java.time.LocalDateTime.of(2025, 3, 7 + day, hour, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss")
    Seq(t0.format(fmt), t0.plusHours(1).format(fmt), "ATMO SUD", "FR93ZAG01",
      "ZAG MARSEILLE-AIX", s"FR0${2000 + site}", s"Station $site", "Urbaine",
      short, "Fond", "A", "Oui", "mesures fixes", s"Auto $short", kind,
      value, value, unit, "", "", "", "A", "1").mkString(";")
  }

  private def writeCsv(dir: Path, code: String, day: Int, rows: Seq[String]): Unit = {
    val text = "﻿" + AirQuality.rawHeaders.mkString(";") + "\n" +
      rows.map(_ + "\n").mkString
    Files.write(dir.resolve(f"polluant-${code}_2025-03-${7 + day}%02d.csv"),
      text.getBytes(UTF_8))
  }

  /** SO2 (01) and CO (04) over two days at two sites sharing every
    * (site, hour) key; day 2 of SO2 repeats one day-1 row verbatim and
    * revises another day-1 value; code 99 is not configured. */
  private def corpus(): Path = {
    val dir = tmp("medallion_csv")
    def rows(day: Int, short: String, unit: String, scale: Double) = for {
      site <- 0 to 1; hour <- 0 until 12
    } yield row(site, day, hour, short,
      String.format(java.util.Locale.ROOT, "%.3f", scale * (site * 100 + day * 24 + hour)),
      if (hour == 3) "" else unit)
    val repeated = rows(0, "SO2", "µg-m3", 1.0)(5)
    val revised = row(1, 0, 7, "SO2", "999.500", "µg-m3", "moyenne horaire brute")
    for (day <- 0 to 1) {
      val extra = if (day == 0) Nil else Seq(repeated, revised)
      writeCsv(dir, "01", day, extra ++ rows(day, "SO2", "µg-m3", 1.0))
      writeCsv(dir, "04", day, rows(day, "CO", "mg-m3", 0.01))
    }
    writeCsv(dir, "99", 0, Seq(row(0, 0, 0, "XX", "1.000", "µg-m3")))
    dir
  }

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
