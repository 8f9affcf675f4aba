package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** One shard-partitioned parquet table of a persisted index. Every
  * index tier is built from these: exact `digests/`, fuzzy `sets/` +
  * `bands/`, Hamming `sigs/` + `bands/`, span `grams/`, and the IVF /
  * IVF-PQ cell table. The tiers choose the shard key; the rules below
  * are stated once, here.
  *
  *  - WRITE ([[write]]): `partitionBy(shardCol)`. A build overwrites;
  *    an append adds files only to the shard dirs its rows land in.
  *  - PRUNE ([[readFor]]): a probe, append or takedown collects the
  *    DISTINCT shard set of its own rows — at most nShards (or nlist)
  *    ints, a model-sized driver artifact — and reads the table under
  *    it as a static `isin` partition filter, so its I/O follows its
  *    own spread, never the corpus. An empty set reads `limit(0)`.
  *  - EMPTIED READ ([[readAll]]): a takedown that removes every row
  *    reclaims every shard dir, and a plain `read.parquet` then fails
  *    (UNABLE_TO_INFER_SCHEMA). An emptied index is a legitimate
  *    state (a full-retention purge; a CDC consumer replaying a
  *    rewrite's delete-all-then-reinsert), so it reads as an empty
  *    frame with exactly the schema a populated read gives: the build
  *    records that schema in the tier's meta ([[ddl]]). A layout whose
  *    meta lacks the record (built before it existed) fails with an
  *    IllegalStateException that says to rebuild, unless the tier
  *    names a fixed `legacyDdl`.
  *  - TAKEDOWN ([[takedown]]): read the target shards, rewrite ONLY
  *    them with what survives (dynamic-partition overwrite), reclaim
  *    the ones left empty, report the rows removed. Untouched shards
  *    keep their exact files and meta is never written. Quiesce
  *    probes and appends on the touched shards (in-place maintenance,
  *    the [[Compaction]] rule).
  *  - META ([[IndexTable.meta]]): the build's parameters (and, for
  *    IVF / IVF-PQ, its frozen model) live in a small table written
  *    once per build ([[IndexTable.writeMeta]]). It is immutable after
  *    the build, so it is read once per dir and cached: a re-read
  *    would be a pure fixed cost, one Spark job per micro-batch in the
  *    streaming intakes. A rebuild by ANOTHER process is the same
  *    hazard as any in-place layout change (the quiesce rule).
  */
private[operators] final case class IndexTable(dir: String, shardCol: String,
    metaDir: String, ddlCol: String, legacyDdl: Option[String] = None) {

  /** Write `df`, which carries `shardCol`: Overwrite builds, Append
    * grows. */
  def write(df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).partitionBy(shardCol).parquet(dir)

  /** The meta column recording the schema a populated read of `df`'s
    * [[write]] gives back: its other columns in order, nullable as
    * parquet reads them, then `shardCol` as the INT that partition
    * discovery infers. */
  def ddl(df: DataFrame): Column =
    lit(StructType(df.schema.filterNot(_.name == shardCol)
        .map(f => StructField(f.name, f.dataType)) :+
      StructField(shardCol, IntegerType)).toDDL).as(ddlCol)

  /** The whole table; an emptied one reads as an empty frame (the
    * class doc's EMPTIED READ rule). Emptiness is read off the listing
    * (no shard dir holds a parquet file), not off a failed read, which
    * Spark's listener bus would log as an ERROR with its stack. */
  def readAll(spark: SparkSession): DataFrame =
    if (hasData(spark)) spark.read.parquet(dir)
    else {
      val m = IndexTable.meta(spark, metaDir).head
      val recorded =
        if (m.schema.fieldNames.contains(ddlCol)) Option(m.getAs[String](ddlCol))
        else None
      val shape = recorded.orElse(legacyDdl).getOrElse(
        throw new IllegalStateException(s"$dir: the index table is empty " +
          s"and $metaDir records no $ddlCol (a layout built before emptied " +
          "tables kept their schema); rebuild the index"))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL(shape))
    }

  private def hasData(spark: SparkSession): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$shardCol="))
      .exists(d => fs.listStatus(d.getPath).exists(_.getPath.getName.endsWith(".parquet")))
  }

  /** The table pruned to the shards `rows` land in under `shard`. */
  def readFor(spark: SparkSession, rows: DataFrame, shard: Column): DataFrame =
    read(spark, IndexTable.shards(rows, shard))

  /** The table pruned to `shards`. */
  def read(spark: SparkSession, shards: Seq[Long]): DataFrame = {
    val all = readAll(spark)
    if (shards.isEmpty) all.limit(0)
    else all.where(col(shardCol).isin(shards: _*))
  }

  /** TAKEDOWN from `shards`: `keep` maps their rows to the survivors
    * (the class doc's rule). */
  def takedown(spark: SparkSession, shards: Seq[Long])
      (keep: DataFrame => DataFrame): Dedup.IndexDeleteReport =
    if (shards.isEmpty) Dedup.IndexDeleteReport(0L, Nil)
    else {
      val pruned = read(spark, shards)
      val before = pruned.count()
      Dedup.IndexDeleteReport(
        before - rewriteShards(spark, shards, keep(pruned)), shards)
    }

  /** Rewrite ONLY the `targets` shards with `remaining` (which carries
    * `shardCol`) and return its row count. Dynamic-partition overwrite
    * replaces each shard present in `remaining`; targets left EMPTY are
    * reclaimed by deleting their dir, since dynamic overwrite never
    * writes them and their stale files would otherwise survive.
    * `remaining` is checkpointed first: it reads the very files the
    * overwrite replaces. */
  private def rewriteShards(spark: SparkSession, targets: Seq[Long],
      remaining: DataFrame): Long = {
    val k = remaining.localCheckpoint()
    k.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(shardCol).parquet(dir)
    val kept = k.groupBy(shardCol).count().collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getLong(1)).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    targets.filterNot(kept.contains).foreach { s =>
      val shardDir = new org.apache.hadoop.fs.Path(s"$dir/$shardCol=$s")
      val fs = shardDir.getFileSystem(conf)
      if (fs.exists(shardDir)) fs.delete(shardDir, true)
    }
    kept.values.sum
  }

  /** APPEND a batch's LSH band rows `nb` (band, bucket, …, `shardCol`)
    * to this band table, withholding the rows whose (band, bucket)
    * would pass `cap` members counting the ones already stored (read
    * pruned to the batch's shards and semi-joined to its buckets). No
    * bucket ever passes the cap, so probe fan-in stays bounded under
    * any append sequence. Returns the appended rows, checkpointed so
    * that counting them does not re-read the grown table. */
  def appendCapped(spark: SparkSession, nb: DataFrame, cap: Int): DataFrame = {
    val existing = readFor(spark, nb, col(shardCol))
      .join(nb.select("band", "bucket").distinct(), Seq("band", "bucket"),
        "left_semi")
      .groupBy("band", "bucket").agg(count(lit(1)).as("__ex"))
    val overCap = nb.groupBy("band", "bucket").agg(count(lit(1)).as("__new"))
      .join(existing, Seq("band", "bucket"), "left")
      .where(coalesce(col("__ex"), lit(0L)) + col("__new") > cap)
      .select("band", "bucket")
    val appended =
      nb.join(overCap, Seq("band", "bucket"), "left_anti").localCheckpoint()
    write(appended, SaveMode.Append)
    appended
  }
}

private[operators] object IndexTable {

  /** The sorted distinct values of `shard` over `rows` (the PRUNE
    * rule's driver-side shard set). */
  def shards(rows: DataFrame, shard: Column): Seq[Long] =
    rows.select(shard).distinct().collect()
      .map(_.getAs[Number](0).longValue()).sorted.toIndexedSeq

  /** Build-time LSH skew rule: drop every (band, bucket) with more than
    * `cap` members WHOLE (a broadcast-sized anti-join), so probes stay
    * cap-free and bounded. Appends saturate instead
    * ([[IndexTable#appendCapped]]). */
  def dropOverCap(banded: DataFrame, cap: Int): DataFrame = {
    val overCap = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).where(col("__n") > cap)
      .select("band", "bucket")
    banded.join(overCap, Seq("band", "bucket"), "left_anti")
  }

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()

  /** The rows of the meta table at `metaDir`, read once and cached (the
    * class doc's META rule). */
  def meta(spark: SparkSession, metaDir: String): Array[Row] =
    metaCache.computeIfAbsent(metaDir, _ => readParts(spark, metaDir).collect())

  /** Write a build's meta table (one file) and drop its cache entry. */
  def writeMeta(df: DataFrame, metaDir: String): Unit = {
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(metaDir)
    forget(metaDir)
  }

  /** Drop `metaDir`'s cache entry, so the next [[meta]] re-reads it. */
  def forget(metaDir: String): Unit = {
    metaCache.remove(metaDir)
    ()
  }

  /** The parquet part files of `dir`, read by name. Reading the dir
    * itself would make Spark log "All paths were ignored" for the
    * underscore-named model dirs (`_centroids/`, `_codebook/`), which
    * its file index treats as hidden. */
  def readParts(spark: SparkSession, dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val parts = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(path).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    if (parts.isEmpty)
      throw new java.io.FileNotFoundException(s"$dir: no parquet part files")
    spark.read.parquet(parts.toIndexedSeq: _*)
  }
}
