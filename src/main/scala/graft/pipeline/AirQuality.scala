package graft.pipeline

import graft.core.Names
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's medallion pipeline (bronze CSV -> typed deduped
  * silver per pollutant -> curated gold time-series), re-expressed as
  * one declarative Spark job graph.
  *
  * Semantics ported (SURVEY §2, citations into /root/reference/):
  *  - O1 name normalization        src/preprocess_to_staging.py:13-32
  *  - O2 two-format ts + float cast src/preprocess_to_staging.py:35-63
  *  - O3 empty-row filter           src/preprocess_to_staging.py:195
  *  - O4 header/schema gate         src/preprocess_to_staging.py:182-191
  *  - O5+K5 dedup layering          src/preprocess_to_staging.py:171,133-146
  *  - O6/O7 drop + prefix rename    src/process_to_curated.py:160-171
  *  - J1 N-way full outer join      src/process_to_curated.py:176-186
  *  - A1/A2 mean imputation         src/process_to_curated.py:98-106
  *  - O9/W3 unit conversion + ffill/bfill src/process_to_curated.py:30-68
  *  - A3 row-wise NaN-skipping total src/process_to_curated.py:71-95
  *  - W1/W2 lag-6 diff / pct change src/process_to_curated.py:109-157
  *
  * Scale posture: [[goldFromSilver]] shuffles the one silver table
  * once, by `code_site`, and that exchange serves both the keyed
  * aggregate that stands in for the join and every window (windows
  * partition by `code_site` alone and sort by `date_de_debut` within).
  * At 100 TB silver would be written bucketed by `code_site` so gold
  * is shuffle-free; per-site row counts are bounded (hours per year),
  * so neither the aggregate nor the window state skews.
  *
  * Documented divergence (SURVEY §2.6): the reference's lag-6 is
  * positional over the whole merged frame; the *intent* (its own
  * docstring) is a per-site hourly lag. We implement the intended
  * semantics: `Window.partitionBy(code_site).orderBy(date_de_debut)`.
  * W2 uses the reference's "regular" NaN semantics (the `np.roll`
  * wraparound in the faster variant is a latent bug we do not copy).
  */
object AirQuality {

  /** Normalized 23-column schema (FIXTURES.md §1; DDL at
    * src/preprocess_to_staging.py:82-110). */
  val rawHeaders: Seq[String] = Seq(
    "Date de début", "Date de fin", "Organisme", "code zas", "Zas",
    "code site", "nom site", "type d'implantation", "Polluant",
    "type d'influence", "discriminant", "Réglementaire",
    "type d'évaluation", "procédure de mesure", "type de valeur",
    "valeur", "valeur brute", "unité de mesure", "taux de saisie",
    "couverture temporelle", "couverture de données", "code qualité",
    "validité")

  val normalizedColumns: Seq[String] = rawHeaders.map(Names.normalizeColumnName)

  val timestampColumns: Set[String] = Set("date_de_debut", "date_de_fin")
  val floatColumns: Set[String] = Set("valeur", "valeur_brute", "taux_de_saisie")
  val keyColumns: Seq[String] = Seq("code_site", "date_de_debut")

  /** All-string bronze schema: parse/typing happens in silver (O2),
    * keeping cast-failure-to-null semantics explicit and testable. */
  val bronzeSchema: StructType =
    StructType(normalizedColumns.map(StructField(_, StringType, nullable = true)))

  /** S5: semicolon CSV with UTF-8 BOM and a header row, read
    * positionally under [[bronzeSchema]]'s normalized names. Which
    * files may be read at all is [[filesPassingHeaderGate]]'s decision,
    * so Spark's own per-file header check (a WARN naming the raw
    * header) says nothing new. No renaming Project sits over the scan:
    * under a union of two reads, a rename over the pushed-down
    * [[filterEmptyRows]] predicate (which names every column) made
    * the optimizer's constraint propagation copy that predicate once
    * per subset of renamed columns — 2^23 copies, and the JVM heap
    * ran out. */
  def readBronzeCsv(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read
      .option("sep", ";")
      .option("header", "true") // consume+discard the raw header line
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .schema(bronzeSchema)
      .csv(paths: _*)

  /** O4: keep only input files whose normalized header matches the
    * expected schema (reference skips whole files on mismatch).
    *
    * The sniff runs DISTRIBUTED: paths are parallelized and each task
    * opens its files through the Hadoop FileSystem API, reading only
    * the first line (bounded bytes, not the file). At a million lake
    * objects this is a map-only metadata job; a driver-side loop — the
    * previous form — would serialize a million opens through one
    * machine. Order of the input list is preserved. */
  def filesPassingHeaderGate(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val expected = normalizedColumns
    if (paths.isEmpty) return Seq.empty
    val slices = math.min(paths.size, 64)
    // ship the SESSION's Hadoop configuration (spark.hadoop.* keys,
    // object-store credentials/endpoints, custom filesystems) to the
    // tasks — a bare `new Configuration()` there would gate against
    // default-configured filesystems, which on exactly the
    // million-object lakes this distributed sniff exists for means
    // missing credentials; one conf is deserialized per TASK, not per
    // file (Configuration construction parses XML — not per-row work)
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    spark.sparkContext.parallelize(paths, slices)
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.filter { p =>
          headerLine(p, conf).stripPrefix("﻿").split(";", -1).toSeq
            .map(Names.normalizeColumnName) == expected
        }
      }
      .collect().toSeq
  }

  /** First line of a file via the Hadoop FileSystem API (works for any
    * supported scheme — local, HDFS, object stores), capped at 256 KiB
    * so a malformed headerless blob cannot balloon the read. */
  private def headerLine(path: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = new java.io.BufferedInputStream(fs.open(p), 64 * 1024)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      var b = in.read()
      while (b != -1 && b != '\n' && buf.size < 256 * 1024) {
        if (b != '\r') buf.write(b)
        b = in.read()
      }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** K3: derive (pollutant, date) partition values from the reference's
    * filename contract `polluant-{code}_{YYYY-MM-DD}.csv`
    * (src/unpacked_to_raw.py:122-124,213-228). */
  def withPartitionColumnsFromFilename(df: DataFrame): DataFrame =
    df.withColumn("pollutant",
        regexp_extract(input_file_name(), "polluant-([^_/]+)_", 1))
      .withColumn("file_date",
        regexp_extract(input_file_name(), "polluant-[^_/]+_(\\d{4}-\\d{2}-\\d{2})\\.csv", 1))

  /** O2: empty->null, two-format timestamp parse (failure -> null), and
    * float casts (failure -> null). Spark's non-ANSI cast-to-null
    * matches the reference's try/except->None exactly. The `+ 0.0`
    * turns `-0.0` into `0.0` (IEEE identity for every other value), so
    * a `-0`/`0` pair is one value before [[dedupSilver]] picks a row. */
  def castSilver(df: DataFrame): DataFrame = {
    val cols = df.columns.map { c =>
      val base = when(trim(col(c)) === "", lit(null)).otherwise(col(c))
      if (timestampColumns(c))
        coalesce(
          try_to_timestamp(base, lit("yyyy/MM/dd HH:mm:ss")),
          try_to_timestamp(base, lit("yyyy/MM/dd"))).as(c)
      else if (floatColumns(c)) (base.try_cast("double") + 0.0).as(c)
      else base.as(c)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** O3: drop rows whose every cell is blank. */
  def filterEmptyRows(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(Set("pollutant", "file_date"))
    df.where(concat_ws("", dataCols.map(c => trim(coalesce(col(c), lit("")))).toIndexedSeq: _*) =!= "")
  }

  /** Deterministic first-row-per-key: the reference's LWT insert keeps
    * whichever duplicate arrived first (K5); Spark's `dropDuplicates`
    * keeps an arbitrary one, so we impose a total order (all non-key
    * columns ascending) to make the survivor stable across runs and
    * partitionings (SURVEY §7.4 risk 4). */
  def firstPerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
    val order = df.columns.filterNot(keys.contains).map(col(_).asc_nulls_last)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Aggregate form of [[firstPerKey]]: the lexicographic minimum of
    * `struct(orderCols...)` per key. Same survivor when the order is
    * total, but plans as a hash aggregate with map-side partial
    * combine — no per-partition sort, ~half the shuffled bytes — which
    * is the shape to prefer once keys number in the billions. */
  def firstPerKeyAgg(df: DataFrame, keys: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    val packed = df.groupBy(keys.map(col): _*)
      .agg(min(struct(others.map(col).toIndexedSeq: _*)).as("__first"))
    packed.select((keys.map(col) ++ others.map(c => col(s"__first.$c").as(c))).toIndexedSeq: _*)
  }

  /** O5 + K5: first-write-wins per (code_site, date_de_debut), and per
    * `pollutant` too when the frame has that column, in one shuffle.
    * [[firstPerKey]] orders by every non-key column, so rows that tie
    * are identical and the reference's whole-row distinct would not
    * change the survivor ([[castSilver]] already made `-0.0` and `0.0`
    * one value). One call over several pollutants' bronze dedups each
    * pollutant exactly as a call over its slice alone would: within a
    * slice `pollutant` is constant. */
  def dedupSilver(df: DataFrame): DataFrame = {
    val keys =
      if (df.columns.contains("pollutant")) "pollutant" +: keyColumns else keyColumns
    firstPerKey(df, keys)
  }

  /** Full silver stage for one pollutant's bronze slice, or for several
    * pollutants' bronze keyed by its `pollutant` column. */
  def silver(bronze: DataFrame): DataFrame =
    dedupSilver(castSilver(filterEmptyRows(bronze)))

  /** Typed view of the silver stage: a `Dataset[Measurement]` with the
    * compile-time schema (SURVEY §1.3 — silver is fixed-schema, so the
    * typed API fits; gold stays a DataFrame because its column set is
    * suffix-pattern driven). Downstream type-safe transforms get field
    * access and exhaustivity from the case class while keeping the
    * same physical plan (the Encoder is a no-op projection here). */
  def silverTyped(spark: SparkSession, bronze: DataFrame):
      org.apache.spark.sql.Dataset[graft.core.Measurement] = {
    import spark.implicits._
    silver(bronze)
      .select(normalizedColumns.map(col).toIndexedSeq: _*)
      .as[graft.core.Measurement]
  }

  private val goldDropped = Seq("date_de_fin", "polluant", "pollutant", "file_date")

  /** O6/O7: drop `date_de_fin`/`polluant`, prefix non-key columns with
    * the pollutant table name. */
  def prefixColumns(df: DataFrame, table: String): DataFrame = {
    val dropped = df.drop(goldDropped: _*)
    val cols = dropped.columns.map { c =>
      if (keyColumns.contains(c)) col(c) else col(c).as(s"${table}_$c")
    }
    dropped.select(cols.toIndexedSeq: _*)
  }

  /** J1: N-way full outer equi-join on (code_site, date_de_debut).
    * Column sets are disjoint after O7, so a fold of `full_outer` joins
    * on the shared key Seq is exactly the reference's pandas fold.
    * All frames are shuffled once on the same key; AQE may broadcast
    * small sides. */
  def goldJoin(perPollutant: Seq[DataFrame]): DataFrame =
    perPollutant.reduce(_.join(_, keyColumns, "full_outer"))

  /** A1/A2: replace nulls in every numeric column with that column's
    * global mean. The means are a 1-row aggregate cross-joined back
    * with an explicit broadcast — one job, no driver-side collect, and
    * Catalyst plans it as BroadcastNestedLoopJoin of a single row.
    * Columns whose mean is null (all-null columns) stay null, like
    * pandas fillna(NaN). */
  def imputeMeans(df: DataFrame): DataFrame = {
    val numeric = numericColumns(df)
    if (numeric.isEmpty) df
    else fillWithMeans(df, df.select(numeric.map(c => avg(col(c)).as(s"__mean_$c")): _*))
  }

  private def numericColumns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq
      .filter(f => f.dataType == DoubleType || f.dataType == FloatType)
      .map(_.name)

  /** Each column `c` that the 1-row `means` has a `__mean_c` for,
    * coalesced with it through a broadcast cross join. */
  private def fillWithMeans(df: DataFrame, means: DataFrame): DataFrame = {
    val filled = means.columns.toSet
    val out = df.columns.toIndexedSeq.map { c =>
      if (filled(s"__mean_$c")) coalesce(col(c), col(s"__mean_$c")).as(c) else col(c)
    }
    df.crossJoin(broadcast(means)).select(out: _*)
  }

  /** Unit-string -> multiplicative factor (src/process_to_curated.py:35-39). */
  val unitFactors: Map[String, Double] =
    Map("mg-m3" -> 1e-3, "µg-m3" -> 1e-6, "ng-m3" -> 1e-9)

  private def siteWindow = Window.partitionBy("code_site").orderBy("date_de_debut")

  /** W3: forward- then backward-fill of a column (per site, by time). */
  def ffillBfill(c: Column): Column = {
    val f = last(c, ignoreNulls = true)
      .over(siteWindow.rowsBetween(Window.unboundedPreceding, 0))
    val b = first(c, ignoreNulls = true)
      .over(siteWindow.rowsBetween(0, Window.unboundedFollowing))
    coalesce(f, b)
  }

  /** O9 (+W3): forward/backward-fill every `{t}_unite_de_mesure`
    * column in one projection, so all units share one Window operator,
    * then emit `{t}_valeur_g_par_L` / `{t}_valeur_brute_g_par_L` as the
    * value times the factor of the FILLED unit. The factor lookup is a
    * literal map — a broadcast-free, codegen-friendly expression.
    * Columns keep their order; the converted ones are appended. */
  def convertUnits(df: DataFrame): DataFrame = {
    val factorMap = typedlit(unitFactors)
    val unitCols = df.columns.filter(_.endsWith("_unite_de_mesure"))
    val filled = df.select(df.columns.toIndexedSeq.map(c =>
      if (unitCols.contains(c)) ffillBfill(col(c)).as(c) else col(c)): _*)
    val converted = for {
      unitCol <- unitCols.toIndexedSeq
      suffix <- Seq("_valeur", "_valeur_brute")
      valueCol = unitCol.stripSuffix("_unite_de_mesure") + suffix
      if df.columns.contains(valueCol)
    } yield (col(valueCol) * element_at(factorMap, col(unitCol))).as(s"${valueCol}_g_par_L")
    filled.select(col("*") +: converted: _*)
  }

  /** A3: NaN-skipping row-wise sum of the converted value columns.
    * Empty column set -> null (faster_process_to_curated.py:79-80);
    * all-null row over a non-empty set -> 0.0 (row_sum starts at 0). */
  def totalValeur(df: DataFrame): DataFrame = {
    val cols = df.columns.filter(c =>
      (c.endsWith("_valeur_g_par_L") && !c.endsWith("_type_de_valeur")) ||
        c.endsWith("_valeur_brute_g_par_L"))
    val total =
      if (cols.isEmpty) lit(null).cast(DoubleType)
      else cols.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _)
    df.withColumn("total_valeur_particule_g_par_L", total)
  }

  /** Reference's value-column selector for W1/W2: suffix `_valeur`
    * minus `_type_de_valeur`, plus the converted total column
    * (src/process_to_curated.py:116,142). */
  def lagValueColumns(df: DataFrame): Seq[String] =
    df.columns.filter(c =>
      (c.endsWith("_valeur") && !c.endsWith("_type_de_valeur")) ||
        c == "total_valeur_particule_g_par_L").toSeq

  /** W1: `v - lag(v, 6)`, with the leading-edge lag nulls replaced by
    * the current value so the first rows' diff is 0. */
  def lagDiff6(df: DataFrame): DataFrame =
    lagValueColumns(df).foldLeft(df) { (acc, c) =>
      val lagged = coalesce(lag(col(c), 6).over(siteWindow), col(c))
      acc.withColumn(s"${c}_diff_6hrs", col(c) - lagged)
    }

  /** W2: `((v - lag(v, 6)) / lag(v, 6)) * 100`; null (not wraparound)
    * on the leading edge — the reference "regular" semantics. */
  def pctChange6(df: DataFrame): DataFrame =
    lagValueColumns(df).foldLeft(df) { (acc, c) =>
      val lagged = lag(col(c), 6).over(siteWindow)
      acc.withColumn(s"${c}_percent_change_6hrs",
        (col(c) - lagged) / lagged * 100)
    }

  /** Hourly resample: materialize every hour between each site's first
    * and last measurement (the grid the reference ASSUMES exists — its
    * lag-6 treats 6 rows as 6 hours), left-join the observed rows, and
    * forward-fill `fillCols`. Grid generation is
    * sequence+explode per site — rows appear where the data lives, no
    * driver enumeration; the join and the fill share the per-site
    * partitioning. */
  def resampleHourly(df: DataFrame, fillCols: Seq[String]): DataFrame = {
    val spans = df.groupBy("code_site")
      .agg(min("date_de_debut").as("__t0"), max("date_de_debut").as("__t1"))
    val grid = spans.select(col("code_site"),
      explode(sequence(col("__t0"), col("__t1"),
        expr("INTERVAL 1 HOUR"))).as("date_de_debut"))
    val joined = grid.join(df, Seq("code_site", "date_de_debut"), "left")
      .withColumn("is_observed", col(fillCols.head).isNotNull)
    fillCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true)
        .over(siteWindow.rowsBetween(Window.unboundedPreceding, 0)))
    }
  }

  /** Full gold stage over the named silver tables, in the reference's
    * exact operator order (src/process_to_curated.py:202-276):
    * drop/prefix -> join -> impute -> convert -> total -> diff -> pct. */
  def gold(silverTables: Map[String, DataFrame]): DataFrame = {
    val prefixed = silverTables.toSeq.sortBy(_._1).map { case (t, df) => prefixColumns(df, t) }
    val merged = goldJoin(prefixed)
    pctChange6(lagDiff6(totalValeur(convertUnits(imputeMeans(merged)))))
  }

  /** [[gold]] of `tables` as one query over the single silver table
    * that [[RunPipeline]] writes (a `table` column naming each row's
    * pollutant table). The N-way join becomes one keyed aggregate:
    * after [[dedupSilver]] each (table, key) has at most one row, so
    * `first` per table over the rows of a (code_site, date_de_debut)
    * group is the joined row. A null key never matches in the join,
    * so such a row groups with its own table only. The means are a
    * 1-row aggregate over silver: each silver row appears exactly once
    * in the join, so they equal [[imputeMeans]]'s over the joined
    * frame. The `code_site` repartition is the plan's one shuffle: the
    * aggregate and every window reuse it. Columns and their order are
    * [[gold]]'s. */
  def goldFromSilver(silver: DataFrame, tables: Seq[String]): DataFrame = {
    val rows = silver.withColumn("table", col("table").cast("string"))
      .where(col("table").isin(tables: _*))
      .drop(goldDropped: _*)
    val values = rows.columns.toSeq.filterNot(c => keyColumns.contains(c) || c == "table")
    val numeric = numericColumns(rows)
    val sorted = tables.sorted
    val own = when(col("code_site").isNull || col("date_de_debut").isNull, col("table"))
    val firsts = sorted.map(t =>
      first(when(col("table") === t, struct(values.map(col): _*)), ignoreNulls = true).as(s"__t_$t"))
    val merged = rows.repartition(col("code_site"))
      .groupBy(col("code_site"), col("date_de_debut"), own.as("__k"))
      .agg(firsts.head, firsts.tail: _*)
      .select(keyColumns.map(col) ++ sorted.flatMap(t =>
        values.map(c => col(s"__t_$t").getField(c).as(s"${t}_$c"))): _*)
    val means = rows.select(sorted.flatMap(t => numeric.map(c =>
      avg(when(col("table") === t, col(c))).as(s"__mean_${t}_$c"))): _*)
    pctChange6(lagDiff6(totalValeur(convertUnits(fillWithMeans(merged, means)))))
  }

  /** End-to-end: bronze CSV paths -> gold curated frame. The fan-out
    * is CONFIG-driven, like the reference's: only pollutants present
    * in the [[Pollutants]] dimension are processed (a code commented
    * out of the config is skipped even when its files exist — the
    * toggle semantics of `config/pollutants.yaml`), and tables are
    * named by the normalized short name
    * (`src/preprocess_to_staging.py:154-155`). Filename codes (K3)
    * only say which slice of the lake a file belongs to. */
  def runPipeline(spark: SparkSession, csvPaths: Seq[String],
      pollutants: Seq[Pollutant] = Pollutants.default): DataFrame = {
    val gated = filesPassingHeaderGate(spark, csvPaths)
    val bronze = withPartitionColumnsFromFilename(readBronzeCsv(spark, gated))
    // tiny dimension-sized collect: distinct codes present in the batch
    val present = bronze.select("pollutant").distinct()
      .collect().map(_.getString(0)).toSet
    val active = pollutants.filter(p => present(p.code))
    val silvers = active.map { p =>
      p.tableName -> silver(bronze.where(col("pollutant") === p.code))
    }.toMap
    gold(silvers)
  }
}
