package graft.perfbench

import graft.operators.Materialize
import graft.pipeline.{AirQuality, Pollutants, RunPipeline}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** medallion_backfill: `RunPipeline.run` over every file of a seeded
  * GEODAIR-shaped corpus (bronze, silver, gold).
  *
  * Inputs: --csv-dir, --csv-rows (data rows), --csv-bytes, --gold-rows
  * (the generator's analytic gold row count).
  *
  * A run does `seconds / NominalBackfillS` backfills (at least one),
  * each into a fresh directory; the first runs in a cold session, as a
  * scheduled backfill does. The traced run replays `RunPipeline.run`'s
  * stage calls with a span around each; its gold must hash the same as
  * the untraced run's. */
object Medallion {
  /** Seconds a cold all-files backfill of the benchmark corpus takes at local[2] on a 4-core machine. */
  val NominalBackfillS = 20.0

  def run(spark: SparkSession, trace: Trace, r: Result, args: Map[String, String],
      seconds: Int): String = {
    val all = new File(args("csv-dir")).listFiles().map(_.getPath)
      .filter(_.endsWith(".csv")).sorted.toSeq
    val (csvRows, csvBytes, goldRows) =
      (args("csv-rows").toLong, args("csv-bytes").toLong, args("gold-rows").toLong)
    val out = s"${args("work")}/medallion"
    val backfills = math.max(1, math.round(seconds / NominalBackfillS).toInt)

    val dirs = (1 to backfills).map(i => s"$out/all$i")
    val t0 = r.start()
    dirs.foreach { dir =>
      r.op(Seq("backfill"), s"backfill into $dir") {
        if (trace.enabled) tracedRun(spark, trace, all, dir) else RunPipeline.run(spark, all, dir, "all")
      }(_ => None)
    }
    r.stop(t0)

    val fingerprints = dirs.filter(d => new File(s"$d/gold").isDirectory).map { dir =>
      val gold = spark.read.parquet(s"$dir/gold")
      val n = gold.count()
      if (n != goldRows) r.fail(s"$dir: gold has $n rows, the generator expects $goldRows")
      s"$n:${RunPipeline.contentHash(gold)}"
    }.distinct
    if (fingerprints.size > 1) r.fail(s"backfills of one corpus hash differently: $fingerprints")

    r.op(Nil, "header gate") {
      AirQuality.filesPassingHeaderGate(spark, all).size
    }(n => if (n != all.size) Some(s"$n of ${all.size} files pass the header gate") else None)

    val times = r.samples.getOrElse("backfill", Nil)
    r.put("wall_s", times.sum, "s")
    r.put("rows_per_s", csvRows * times.size / times.sum, "1/s")

    val bytes = Seq("bronze", "silver", "scratch", "gold").map(s => s -> Measure.du(new File(s"${dirs.last}/$s")))
    bytes.foreach { case (s, b) => r.put(s"pipeline.${s}_bytes", b.toDouble, "B") }
    r.put("write_amp", bytes.map(_._2).sum.toDouble / csvBytes, "ratio")
    r.put("space_amp", bytes.map(_._2).sum.toDouble / csvBytes, "ratio")

    if (trace.enabled) {
      Seq("gate", "bronze", "silver", "gold_join", "gold_analytics").foreach { s =>
        r.put(s"pipeline.${s}_s", trace.seconds(s"pipeline.$s") / backfills, "s")
      }
      val c = trace.counters(_.startsWith("pipeline."))
      r.put("pipeline.jobs", c.jobs.toDouble / backfills, "count")
      r.put("pipeline.tasks", c.tasks.toDouble / backfills, "count")
      r.put("pipeline.shuffle_write_bytes", c.shuffleWriteBytes.toDouble / backfills, "B")
      r.put("pipeline.spill_bytes", c.spillBytes.toDouble / backfills, "B")
      r.put("pipeline.gc_s", c.gcMs / 1e3 / backfills, "s")
      r.put("pipeline.peak_exec_mem_bytes", c.peakExecMemBytes.toDouble, "B")
    }
    Measure.deleteTree(new File(out))
    fingerprints.mkString(",")
  }

  /** `RunPipeline.run` with no JDBC/PG serving configured, one span per
    * stage call. */
  private def tracedRun(spark: SparkSession, trace: Trace, csvPaths: Seq[String], dir: String): Unit = {
    val gated = trace.span("pipeline.gate")(AirQuality.filesPassingHeaderGate(spark, csvPaths))
    require(gated.size == csvPaths.size, s"${gated.size} of ${csvPaths.size} files pass the header gate")
    trace.span("pipeline.bronze") {
      AirQuality.withPartitionColumnsFromFilename(AirQuality.readBronzeCsv(spark, gated))
        .write.mode(SaveMode.Overwrite).partitionBy("pollutant", "file_date").parquet(s"$dir/bronze")
    }
    val active = trace.span("pipeline.silver") {
      val bronze = spark.read.parquet(s"$dir/bronze")
        .withColumn("pollutant", lpad(col("pollutant").cast("string"), 2, "0"))
      val present = bronze.select("pollutant").distinct().collect().map(_.getString(0)).toSet
      val active = Pollutants.default.filter(p => present(p.code))
      active.foreach { p =>
        AirQuality.silver(bronze.where(col("pollutant") === p.code))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/silver/${p.tableName}")
      }
      active
    }
    val merged = trace.span("pipeline.gold_join") {
      val prefixed = active.map(p => p.tableName -> spark.read.parquet(s"$dir/silver/${p.tableName}"))
        .sortBy(_._1).map { case (t, df) => AirQuality.prefixColumns(df, t) }
      Materialize.toLake(AirQuality.goldJoin(prefixed), s"$dir/scratch/gold_base")
    }
    trace.span("pipeline.gold_analytics") {
      AirQuality.pctChange6(AirQuality.lagDiff6(AirQuality.totalValeur(
        AirQuality.convertUnits(AirQuality.imputeMeans(merged)))))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/gold")
      spark.read.parquet(s"$dir/gold").count()
    }
  }
}
