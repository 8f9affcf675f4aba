package graft.sources

import graft.operators.TxLog
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The tx commit log as a REGISTERED SPARK DATA SOURCE — the SQL-side
  * door to everything [[TxLog]] does, so a session that never touches
  * the Scala API can still read (and append to) transactional tables:
  *
  * {{{
  *   spark.read.format("graft-tx").load(root)                  // head
  *   spark.read.format("graft-tx")
  *     .option("versionAsOf", 7).load(root)                    // travel
  *   df.write.format("graft-tx").mode("append").save(root)
  *   sql("CREATE TEMP VIEW t USING `graft-tx` OPTIONS (path '…')")
  * }}}
  *
  * Reads delegate to [[TxLog.snapshotRangeMulti]] (with no pushed
  * probe, exactly [[TxLog.snapshot]]'s read) — tombstone masks, mixed
  * schema generations, clone-chain resolution and the retention guard
  * all apply exactly as in the API — and pushed filters that bound a
  * column to a long range, `IS NULL` or an equality become its probes,
  * so MANIFEST-level dir skipping happens before the parquet scan
  * exactly as it does for API readers ([[TxBounds.boundsFrom]] is the
  * translation, unit-pinned). Spark re-evaluates every filter above
  * the scan (this relation declares none handled), so pruning is
  * purely an I/O optimization — results are exact regardless of which
  * dirs recorded stats. Writes map `append` onto [[TxLog.append]] and
  * `overwrite` onto a [[TxLog.rewrite]] that replaces the table with
  * the incoming frame — each a real commit with stats (the
  * `statsCol` option names the column; the first long-castable
  * column otherwise), so a pure-SQL producer still gets a prunable,
  * travel-readable table. `errorifexists`/`ignore` follow their
  * DataFrameWriter contracts against table existence. */
class TxDataSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-tx"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-tx: a 'path' option (the table root) is required"))

  // ---- streaming: the commit log as a sink (idempotence tokens) ----
  // `writeStream.format("graft-tx").start(root)` — see [[TxStreamSink]]

  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-tx sink: partitionBy is not the layout door — use " +
        "OPTIMIZE RANGE/HASH/ZORDER on the table instead")
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append()
        || outputMode == org.apache.spark.sql.streaming.OutputMode.Update(),
      s"graft-tx sink: output mode $outputMode is not supported — " +
        "Append lands idempotent appends (or keyed merges with " +
        "'keyCol'); Complete would rewrite the table per batch " +
        "(aggregate downstream instead)")
    new TxStreamSink(sqlContext.sparkSession, pathOf(parameters),
      parameters)
  }

  // ---- streaming: the commit log as a source (offsets = versions) --
  // `readStream.format("graft-tx").load(root)` — see [[TxStreamSource]]

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String])
      : (String, org.apache.spark.sql.types.StructType) =
    ("graft-tx", TxStreamSource.schemaFor(sqlContext.sparkSession,
      pathOf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val root = pathOf(parameters)
    // the RESOLVED start persists in the source's own metadataPath
    // (the Kafka-source pattern): `latest` must resolve ONCE, at
    // first stream creation — a restart recomputing it against the
    // current head would silently skip every commit that landed
    // during the downtime (the checkpoint's offsets resume the
    // window; this pins the stream's ORIGIN)
    val metaFile = new org.apache.hadoop.fs.Path(metadataPath, "start")
    val fs = metaFile.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val starting =
      if (fs.exists(metaFile)) {
        val in = fs.open(metaFile)
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          .trim.toLong
        finally in.close()
      } else {
        val resolved = parameters.get("startingVersion") match {
          // `latest`: only commits landing AFTER stream definition —
          // the tail-only replica (Kafka's `latest` semantic)
          case Some("latest") => TxLog.latestVersion(spark, root) + 1
          case Some(v) => v.toLong
          case None => 1L
        }
        fs.mkdirs(metaFile.getParent)
        val out = fs.create(metaFile, false)
        try out.write(resolved.toString.getBytes("UTF-8"))
        finally out.close()
        resolved
      }
    new TxStreamSource(spark, root, starting,
      parameters.get("maxVersionsPerBatch").map(_.toLong)
        .getOrElse(Long.MaxValue))
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val asOf: Option[Long] = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        TxLog.versionAtTime(spark, root,
          java.sql.Timestamp.valueOf(ts).getTime)))
    new TxRelation(sqlContext, root, asOf)
  }

  /** Named-table resolution passes the CATALOG'S stored schema here.
    * The tx log's pin is the truth — a Scala-API evolution
    * ([[TxLog.evolveSchema]]/renameColumn/dropColumn) against a
    * `saveAsTable`-named table updates the pin but not the metastore
    * entry, and without this override Spark's RelationProvider path
    * would THROW a schema mismatch on every later read by name.
    * Serving the pin instead re-pins the read (the stored schema is a
    * stale cache, never an instruction); the SQL DDL commands keep
    * the metastore entry itself in sync when they run
    * ([[TxSqlDdl.syncCatalogSchema]]). */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters)

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val exists = TxLog.latestVersion(spark, root) > 0
    val statsCol = parameters.get("statsCol").orElse(
      data.schema.fields.find(f => f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case _ => false
      }).map(_.name))
    // 'buckets' routes appends through the range-clustered layout
    // (one AddFile per key bucket with tight stats — the prunable
    // intake shape) instead of one arrival-order dir
    val buckets = parameters.get("buckets").map(_.toInt)
    def land(df: DataFrame): Long = (buckets, statsCol) match {
      case (Some(b), Some(k)) => TxLog.appendPartitioned(spark, root, df, k, b)
      case (Some(_), None) => throw new IllegalArgumentException(
        "graft-tx: 'buckets' needs a key — set 'statsCol' or include " +
          "a numeric column")
      case _ => TxLog.append(spark, root, df, statsCol)
    }
    mode match {
      case SaveMode.Append => land(data)
      case SaveMode.Overwrite =>
        // an EXISTING table whose live set was emptied (every row
        // merged/tombstoned away) has nothing for rewrite to replace
        // (rewrite reads a snapshot; an empty one is a loud error) —
        // overwriting it is just landing the frame, exactly the
        // DataFrameWriter contract (the read path deliberately serves
        // emptied tables as schema + zero rows, so the write path
        // must accept them too)
        if (exists && TxLog.liveFiles(spark, root)._2.nonEmpty)
          TxLog.rewrite(spark, root, statsCol)(_ => data)
        else land(data)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"graft-tx: $root already exists (mode=errorifexists)")
        land(data)
      case SaveMode.Ignore =>
        if (!exists) land(data)
    }
    new TxRelation(sqlContext, root, None)
  }
}

/** One resolved (root, version) read — schema from the engine's own
  * aligned snapshot, scans through it too. */
private[graft] class TxRelation(val sqlContext: SQLContext, root: String,
    asOf: Option[Long]) extends BaseRelation with PrunedFilteredScan
    with InsertableRelation {

  /** The table root — the SQL-DML rule ([[TxSparkExtensions]]) lowers
    * MERGE/UPDATE/DELETE on this relation to the TxLog write paths. */
  private[graft] def tableRoot: String = root

  /** True on a travel read (`versionAsOf`/`timestampAsOf`) — DML on
    * the past is refused. */
  private[graft] def isTravel: Boolean = asOf.isDefined

  private def spark = sqlContext.sparkSession

  // an EMPTIED table (every row merged/rewritten away) still has a
  // schema contract — serve the pin and zero rows, not an error
  private def isEmpty: Boolean =
    TxLog.liveFiles(spark, root, asOf)._2.isEmpty

  override val schema: StructType =
    if (isEmpty)
      TxLog.pinnedSchema(spark, root).map(StructType.fromDDL)
        .getOrElse(throw new IllegalArgumentException(
          s"graft-tx: $root is empty and carries no schema pin"))
    else TxLog.snapshot(spark, root, asOf).schema

  /** `INSERT INTO` / `INSERT OVERWRITE` on the relation (SQL and
    * DataFrameWriterV1 insertInto): append lands a real commit under
    * the schema pin; overwrite replaces the table (a rewrite — or a
    * plain landing when the live set was emptied, the Overwrite
    * contract elsewhere in this file). INSERT resolves columns BY
    * POSITION (the SQL contract), so the frame is re-labeled to the
    * pin's names before the pin check — a mis-ordered INSERT fails
    * on types or on the pinned column count, never silently. Travel
    * relations refuse (DML on the past). */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(asOf.isEmpty,
      "graft-tx INSERT: the target is a versionAsOf/timestampAsOf " +
        "travel read — inserts apply to the head, not the past")
    val pin = TxLog.pinnedSchema(spark, root).getOrElse(
      throw new IllegalStateException(
        s"graft-tx INSERT: $root has no schema pin"))
    val t = StructType.fromDDL(pin)
    require(data.schema.length == t.length,
      s"graft-tx INSERT: ${data.schema.length} columns for a " +
        s"${t.length}-column pin [$pin]")
    // positional alignment must fail LOUDLY on incompatible types:
    // the sessions run permissive-cast (ansi off), where a bare
    // cast() of a mis-ordered INSERT (string landing on a BIGINT
    // slot) coerces to NULL silently. Gate each slot on the ANSI
    // store-assignment rule first (string→numeric is a column-order
    // bug), then cast through [[LoudCast.cast]] so NARROWING numeric
    // assignments raise on out-of-range values instead of wrapping.
    data.schema.fields.zip(t.fields).zipWithIndex.foreach {
      case ((from, to), i) =>
        LoudCast.gate(from.dataType, to.dataType,
          s"graft-tx INSERT: column ${i + 1} has type " +
            s"${from.dataType.sql} but the pinned slot " +
            s"'${to.name}' is ${to.dataType.sql} — positional INSERT " +
            "refuses incompatible types rather than coercing to null " +
            s"[$pin]")
    }
    val aligned = data.select(data.columns.toSeq.zip(t.fields).map {
      case (from, f) => LoudCast.cast(col(from),
        data.schema(from).dataType, f.dataType,
        "graft-tx INSERT", f.name).as(f.name) }: _*)
    val statsCol = TxLog.statsColumn(spark, root)
    if (overwrite && TxLog.liveFiles(spark, root)._2.nonEmpty)
      TxLog.rewrite(spark, root, statsCol)(_ => aligned)
    else TxLog.append(spark, root, aligned, statsCol)
    ()
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    if (isEmpty)
      return spark.sparkContext.emptyRDD[Row]
    val bounds = TxBounds.boundsFrom(filters)
    // a TOP-LEVEL IsNull prunes via the per-dir null counters (any
    // dir recording zero nulls of the column skips) — `IS NULL` is
    // the one predicate class min/max bounds can never answer
    val nullProbes = filters.collect { case IsNull(c) => c }.toSeq
    // a pushed equality prunes via the per-dir Blooms when the column
    // carries them (`WHERE url = '…'` on a doc_id-clustered table —
    // the takedown shape). Integral equalities ALSO ride along: their
    // [v, v+1) bound above answers only on value-statted columns,
    // while a bloom answers on any declared one (the write side
    // hashes CAST(col AS STRING), so the integral's decimal rendering
    // is the probe key); bloom-less dirs admit either way
    val pointProbes = filters.collect {
      case EqualTo(c, v: String) => (c, v)
      case EqualTo(c, v: java.lang.Long) => (c, v.toString)
      case EqualTo(c, v: java.lang.Integer) => (c, v.toString)
    }.toSeq
    // no pushed probe reads exactly as TxLog.snapshot
    TxLog.snapshotRangeMulti(spark, root, bounds, asOf, nullProbes,
      pointProbes).select(requiredColumns.map(col).toSeq: _*).rdd
  }
}

/** Pushed-filter → manifest-bound translation, factored for the unit
  * pin: long-valued equality and range filters collapse per column to
  * one `[lo, hi)` interval (the [[TxLog.snapshotRangeMulti]] shape);
  * anything else — strings, doubles, OR trees, null checks — is
  * simply not a pruning bound (Spark re-applies every filter above
  * the scan, so dropping one here costs I/O, never correctness). */
/** The loud positional-assignment cast shared by INSERT and MERGE:
  * [[gate]] refuses type pairs the ANSI store-assignment rule
  * refuses (string landing on a BIGINT slot = a column-order bug,
  * not a cast), and [[cast]] closes the gate's remaining gap —
  * `canANSIStoreAssign` still permits NARROWING numerics (BIGINT →
  * INT), which under the permissive sessions this code targets would
  * wrap/overflow silently, the same corruption class the gate's
  * message claims to refuse. Lossless widenings (`Cast.canUpCast`)
  * cast plainly; lossy-but-assignable pairs cast via `try_cast`
  * guarded by `raise_error`, so the first out-of-range value fails
  * the job by NAME instead of wrapping — inline in the projection,
  * codegen'd, no extra validation pass over the data. */
private[graft] object LoudCast {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.functions.{lit, raise_error, when}
  import org.apache.spark.sql.types.DataType

  def gate(fromType: DataType, toType: DataType, msg: => String): Unit =
    require(fromType == toType ||
      Cast.canANSIStoreAssign(fromType, toType), msg)

  def cast(c: Column, fromType: DataType, toType: DataType,
      what: String, slot: String): Column =
    if (fromType == toType) c
    else if (Cast.canUpCast(fromType, toType)) c.cast(toType)
    else {
      val t = c.try_cast(toType.sql)
      when(c.isNotNull && t.isNull, raise_error(lit(
        s"$what: a ${fromType.sql} value is out of range for the " +
          s"${toType.sql} slot '$slot' — refusing the silent " +
          "wrap/overflow (widen the target column or cast explicitly)"
      ))).otherwise(t)
    }
}

private[graft] object TxBounds {

  private def longOf(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  def boundsFrom(filters: Array[Filter]): Seq[(String, Long, Long)] = {
    val lo = scala.collection.mutable.Map.empty[String, Long]
    val hi = scala.collection.mutable.Map.empty[String, Long]
    def tighten(m: scala.collection.mutable.Map[String, Long], c: String,
        v: Long, keepMax: Boolean): Unit =
      m.update(c, m.get(c) match {
        case Some(prev) => if (keepMax) math.max(prev, v) else math.min(prev, v)
        case None => v
      })
    def walk(f: Filter): Unit = f match {
      case EqualTo(c, v) => longOf(v).foreach { l =>
        tighten(lo, c, l, keepMax = true)
        if (l != Long.MaxValue) tighten(hi, c, l + 1, keepMax = false)
      }
      case GreaterThan(c, v) => longOf(v).foreach(l =>
        if (l != Long.MaxValue) tighten(lo, c, l + 1, keepMax = true))
      case GreaterThanOrEqual(c, v) => longOf(v).foreach(l =>
        tighten(lo, c, l, keepMax = true))
      case LessThan(c, v) => longOf(v).foreach(l =>
        tighten(hi, c, l, keepMax = false))
      case LessThanOrEqual(c, v) => longOf(v).foreach(l =>
        if (l != Long.MaxValue) tighten(hi, c, l + 1, keepMax = false))
      case And(a, b) => walk(a); walk(b)
      case _ => // OR trees, strings, IsNotNull, … : no bound
    }
    filters.foreach(walk)
    // a one-sided bound still prunes: open the other side fully
    val cols = (lo.keySet ++ hi.keySet).toSeq.sorted
    cols.map(c => (c, lo.getOrElse(c, Long.MinValue),
      hi.getOrElse(c, Long.MaxValue)))
  }
}
