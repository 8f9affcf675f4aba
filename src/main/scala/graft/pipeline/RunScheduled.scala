package graft.pipeline

import org.apache.spark.sql.SparkSession

/** SCHEDULER PARITY — the engine form of the reference's two @daily
  * Airflow DAGs (`dags/datalake_pipeline.py:19`,
  * `regular_datalake_pipeline.py:19`: three sequential subprocess
  * tasks, fired daily, each run re-pulling the last
  * `reprocessing_window` days — `config/config.yaml:3`,
  * `unpacked_to_raw.py:24-29,166-180`). The regular/faster DAG split
  * collapses here by design (SURVEY §3-E2): one implementation, so
  * one schedule.
  *
  * A TICK is the reference's daily run, re-expressed on the lake:
  *   1. select the corpus files whose embedded date falls in the
  *      trailing `--window-days` window of the tick's "today"
  *      (the re-pull window — S3's date-range generator semantics);
  *   2. land them in bronze via DYNAMIC PARTITION OVERWRITE — only
  *      the (pollutant, file_date) partitions the window touches are
  *      replaced, exactly like the re-pull overwriting the same S3
  *      keys; history stays;
  *   3. rebuild silver and gold from the FULL bronze (the reference
  *      rebuilds gold from all of Cassandra every run;
  *      first-write-wins dedup makes the re-pull idempotent) and
  *      serve to any configured target (JDBC / native PostgreSQL).
  *
  * CONVERGENCE CONTRACT (spec-pinned): ticking day-by-day over the
  * corpus's date span lands the IDENTICAL gold table as one
  * [[RunPipeline.run]] over all files — the schedule is an access
  * pattern, not a semantics change — and any tick re-run converges
  * (nothing changes the second time).
  *
  * Modes:
  *  - default (simulated): one tick per distinct file date in order,
  *    no sleeping — the form tests and backfills use. A backfill IS
  *    this mode: replay the schedule over history.
  *  - `--interval-minutes M`: live loop — tick with wall-clock
  *    "today", sleep M minutes, repeat `--ticks` times (0 = forever).
  *    The engine deliberately ships a LOOP, not a cron daemon: real
  *    deployments hand this main to their scheduler (cron, Airflow,
  *    k8s) exactly as the reference handed its scripts to Airflow.
  *
  * Per tick, one JSON line appends to `<outDir>/schedule.jsonl`
  * (tick date, files landed, per-stage millis, gold rows) — the run
  * history the reference kept as Airflow task logs.
  *
  * Usage: runMain graft.pipeline.RunScheduled [csvDir] [outDir]
  *          [--window-days N] [--interval-minutes M] [--ticks K]
  */
object RunScheduled {

  /** `polluant-{code}_{yyyy-MM-dd}.csv` → the embedded date. */
  def fileDate(path: String): Option[java.time.LocalDate] = {
    val name = new java.io.File(path).getName
    if (!name.startsWith("polluant-") || !name.endsWith(".csv")) None
    else name.stripSuffix(".csv").split("_").lastOption.flatMap(d =>
      scala.util.Try(java.time.LocalDate.parse(d)).toOption)
  }

  def main(args: Array[String]): Unit = {
    var windowDays = 3
    var intervalMinutes = 0L
    var ticks = 0
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--window-days" => windowDays = args(i + 1).toInt; i += 1
        case "--interval-minutes" => intervalMinutes = args(i + 1).toLong; i += 1
        case "--ticks" => ticks = args(i + 1).toInt; i += 1
        case other => positional += other
      }
      i += 1
    }
    val csvDir = positional.headOption.getOrElse("/root/reference/test_files")
    val outDir = positional.drop(1).headOption.getOrElse("/tmp/graft_scheduled")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (intervalMinutes <= 0) {
      val n = runSimulated(spark, csvDir, outDir, windowDays)
      println(s"[scheduled] simulated schedule complete: $n ticks")
    } else {
      var t = 0
      while (ticks == 0 || t < ticks) {
        // UTC, matching the engine's pinned session zone — the JVM
        // default zone could label a near-midnight tick with the wrong
        // day relative to the UTC lake partitions
        tick(spark, csvDir, outDir,
          java.time.LocalDate.now(java.time.ZoneOffset.UTC), windowDays)
        t += 1
        if (ticks == 0 || t < ticks)
          Thread.sleep(intervalMinutes * 60000L)
      }
    }
    spark.stop()
  }

  /** Replay the daily schedule over the corpus's own date span: one
    * tick per distinct embedded file date, ascending — the backfill /
    * test form. Returns the number of ticks run. */
  def runSimulated(spark: SparkSession, csvDir: String, outDir: String,
      windowDays: Int = 3,
      pollutants: Seq[Pollutant] = Pollutants.default): Int = {
    val files = RunPipeline.listCsvs(csvDir)
    val dates = files.flatMap(fileDate).distinct.sorted
    dates.foreach(d => tick(spark, csvDir, outDir, d, windowDays, pollutants))
    dates.size
  }

  /** One scheduled run for `today`: land the trailing window into
    * bronze (dynamic partition overwrite), rebuild silver/gold from
    * the full lake, serve, append the history line. No-op (recorded)
    * when the window holds no files. */
  def tick(spark: SparkSession, csvDir: String, outDir: String,
      today: java.time.LocalDate, windowDays: Int = 3,
      pollutants: Seq[Pollutant] = Pollutants.default): Unit = {
    val from = today.minusDays(windowDays - 1L)
    val window = RunPipeline.listCsvs(csvDir).filter(p => fileDate(p).exists(d =>
      !d.isBefore(from) && !d.isAfter(today)))
    val label = s"tick:$today"
    val t0 = System.nanoTime()
    if (window.nonEmpty) {
      RunPipeline.bronzeWindow(spark, window, outDir)
      RunPipeline.silverGoldServe(spark, outDir, label, pollutants)
    } else println(s"[pipeline] $label empty window — nothing to land")
    val goldRows =
      if (new java.io.File(s"$outDir/gold").exists())
        spark.read.parquet(s"$outDir/gold").count()
      else 0L
    val line = s"""{"tick":"$today","window_files":${window.size},""" +
      s""""gold_rows":$goldRows,""" +
      s""""millis":${(System.nanoTime() - t0) / 1000000L}}"""
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "schedule.jsonl"), line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    println(s"[pipeline] $label landed ${window.size} files, " +
      s"gold rows=$goldRows")
  }
}
