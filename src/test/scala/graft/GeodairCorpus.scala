package graft

import graft.pipeline.AirQuality

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Tiny GEODAIR-shaped CSV corpora (FIXTURES.md §1) that the medallion
  * tests write for themselves, so they read nothing outside the repo. */
object GeodairCorpus {

  def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  /** One data row in file order: the 23 FIXTURES.md §1 columns. `start`
    * replaces the formatted `Date de début` (e.g. an unparseable one);
    * `quality` and `validity` are `code qualité` and `validité`. */
  def row(site: Int, day: Int, hour: Int, short: String,
      value: String, unit: String, kind: String = "moyenne horaire validée",
      start: Option[String] = None, quality: String = "A",
      validity: String = "1"): String = {
    val t0 = java.time.LocalDateTime.of(2025, 3, 7 + day, hour, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss")
    Seq(start.getOrElse(t0.format(fmt)), t0.plusHours(1).format(fmt), "ATMO SUD", "FR93ZAG01",
      "ZAG MARSEILLE-AIX", s"FR0${2000 + site}", s"Station $site", "Urbaine",
      short, "Fond", "A", "Oui", "mesures fixes", s"Auto $short", kind,
      value, value, unit, "", "", "", quality, validity).mkString(";")
  }

  def writeCsv(dir: Path, code: String, day: Int, rows: Seq[String]): Unit = {
    val text = "﻿" + AirQuality.rawHeaders.mkString(";") + "\n" +
      rows.map(_ + "\n").mkString
    Files.write(dir.resolve(f"polluant-${code}_2025-03-${7 + day}%02d.csv"),
      text.getBytes(UTF_8))
  }

  /** SO2 (01) and CO (04) over two days at two sites sharing every
    * (site, hour) key; day 2 of SO2 repeats one day-1 row verbatim and
    * revises another day-1 value; code 99 is not configured. */
  def corpus(): Path = {
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

  /** The reference export's shape at test size: SO2, NO2 and CO (codes
    * 01/03/04) over three days, 24 hourly rows per site and day. Each
    * pollutant covers its own sites (SO2 0-3, NO2 0-7, CO 2-5), so gold
    * is a real full outer join, and NO2 is the widest side as in the
    * reference. Every fifth CO row has an empty `valeur` (quality N,
    * validity -1), and CO's midnight rows carry a date-only
    * `Date de début`, the second timestamp format. */
  def threePollutants(): Path = {
    val dir = tmp("geodair_csv")
    def fmt(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", x)
    for (day <- 0 until 3) {
      writeCsv(dir, "01", day, for (site <- 0 until 4; hour <- 0 until 24)
        yield row(site, day, hour, "SO2", fmt(0.5 * site + 0.1 * hour + day),
          "µg-m3"))
      writeCsv(dir, "03", day, for (site <- 0 until 8; hour <- 0 until 24)
        yield row(site, day, hour, "NO2", fmt(10.0 + site + 0.7 * hour - day),
          "µg-m3"))
      writeCsv(dir, "04", day, for (site <- 2 until 6; hour <- 0 until 24)
        yield {
          val empty = (day * 24 + site * 7 + hour) % 5 == 0
          row(site, day, hour, "CO",
            if (empty) "" else fmt(0.01 * (site * 24 + hour) + 0.2 * day),
            "mg-m3",
            start = if (hour == 0) Some(f"2025/03/${7 + day}%02d") else None,
            quality = if (empty) "N" else "A",
            validity = if (empty) "-1" else "1")
        })
    }
    dir
  }
}
