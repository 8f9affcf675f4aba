package graft.perfbench

import graft.operators.TxLog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** lake_upsert: a `TxLog` table under a seeded change stream, writes
  * beside reads, one client in a closed loop.
  *
  * Build (timed): `InitialRows` string-keyed rows in `AppendBatches`
  * appends (min/max stats on the long `ts` column, Bloom on the key),
  * then `optimizeHash` into `Buckets` key-hash buckets.
  * Each round: one `merge` of `Updates` updates, `Deletes` deletes and
  * `Inserts` fresh keys, where updated and deleted keys favour recent
  * inserts; then a `snapshotPoint`, a `snapshotKeys` and a
  * `snapshotRange` read, each checked against an in-memory replay of
  * the same change stream. `optimizeCompact` runs every
  * `CompactEvery` rounds and `checkpoint` every `CheckpointEvery`.
  * A run does `seconds * RoundsPerSecond` rounds, so its work and its
  * byte counts depend only on the seed and the run length. */
object Lake {
  val InitialRows = 6000
  val AppendBatches = 1
  val Buckets = 16
  val Updates = 6
  val Deletes = 2
  val Inserts = 4
  val CompactEvery = 3
  val CheckpointEvery = 5
  val PayloadChars = 96
  /** Rounds per second of run length: about what local[2] sustains on a 4-core machine. */
  val RoundsPerSecond = 0.4

  private val schema = StructType(Seq(StructField("k", StringType), StructField("ts", LongType),
    StructField("n", LongType), StructField("v", StringType)))
  private val batchSchema = schema.add(StructField("del", BooleanType))

  private final case class Rec(ts: Long, n: Long, v: String)

  def run(spark: SparkSession, trace: Trace, r: Result, args: Map[String, String],
      seconds: Int): String = {
    val root = s"${args("work")}/lake/table"
    Measure.deleteTree(new File(root))
    val rng = new java.util.Random(args("seed").toLong)
    val rounds = math.max(CheckpointEvery, math.round(seconds * RoundsPerSecond).toInt)

    val live = mutable.HashMap[String, Rec]()
    val order = mutable.ArrayBuffer[String]()   // every key ever inserted, oldest first
    val deleted = mutable.ArrayBuffer[String]()
    var userBytes = 0L
    var changeRows = 0L
    def key(i: Int) = f"k$i%08d"
    def payload(): String = {
      val sb = new StringBuilder(PayloadChars)
      for (_ <- 0 until PayloadChars) sb += ('a' + rng.nextInt(26)).toChar
      sb.toString
    }
    def utf8(s: String) = s.getBytes("UTF-8").length.toLong
    def recent(exclude: collection.Set[String]): String = {
      var k: String = null
      while (k == null) {
        val u = rng.nextDouble()
        val c = order(math.max(0, order.size - 1 - (order.size * u * u * u).toInt))
        if (live.contains(c) && !exclude(c)) k = c
      }
      k
    }
    def frame(rows: Seq[Row], s: StructType): DataFrame = spark.createDataFrame(rows.asJava, s)
    def rowOf(k: String, rec: Rec): Row = Row(k, rec.ts, rec.n, rec.v)
    def same(got: Array[Row], want: Iterable[(String, Rec)]): Option[String] = {
      val g = got.map(x => (x.getString(0), Rec(x.getLong(1), x.getLong(2), x.getString(3)))).toMap
      if (g.size == got.length && g == want.toMap) None
      else Some(s"read ${got.length} rows, the replay expects ${want.size}")
    }

    var rewritten = 0L
    var prevDirs = Set.empty[String]
    var scanned = 0L
    // resolves the live set after each write; only a merge's removals count as rewrites
    def fold(afterMerge: Boolean): Unit = if (trace.enabled) {
      val dirs = trace.span("txlog.fold")(TxLog.liveFiles(spark, root))._2.map(_.dir).toSet
      if (afterMerge) rewritten += (prevDirs -- dirs).size
      prevDirs = dirs
    }
    def commit[A](span: String)(body: => A): Unit =
      trace.span(span)(r.op(Seq("commit"), span)(body)(_ => None))

    val t0 = r.start()
    val per = InitialRows / AppendBatches
    for (b <- 0 until AppendBatches) {
      val rows = (b * per until (b + 1) * per).map { i =>
        val rec = Rec(i.toLong, rng.nextLong(), payload())
        val k = key(i)
        live(k) = rec
        order += k
        userBytes += utf8(k) + 16 + utf8(rec.v)
        rowOf(k, rec)
      }
      changeRows += rows.size
      commit("txlog.append")(TxLog.appendCols(spark, root, frame(rows, schema), Seq("ts"), bloomCols = Seq("k")))
    }
    commit("txlog.optimize_hash")(TxLog.optimizeHash(spark, root, "k", Buckets, extraStats = Seq("ts")))
    fold(afterMerge = false)

    for (round <- 1 to rounds) {
      val base = InitialRows.toLong + round * 100L
      val touched = mutable.LinkedHashSet[String]()
      val batch = mutable.ArrayBuffer[Row]()
      val changes = mutable.ArrayBuffer[(String, Option[Rec])]()
      def write(k: String): Unit = {
        val rec = Rec(base + batch.size, rng.nextLong(), payload())
        touched += k
        batch += Row(k, rec.ts, rec.n, rec.v, false)
        changes += k -> Some(rec)
        userBytes += utf8(k) + 16 + utf8(rec.v)
      }
      for (_ <- 0 until Updates) write(recent(touched))
      for (_ <- 0 until Deletes) {
        val k = recent(touched)
        touched += k
        batch += Row(k, base + batch.size, 0L, "", true)
        changes += k -> None
        userBytes += utf8(k) + 1
      }
      for (_ <- 0 until Inserts) {
        val k = key(order.size)
        order += k
        write(k)
      }
      val merged = trace.span("txlog.merge") {
        r.op(Seq("commit"), s"merge $round") {
          TxLog.merge(spark, root, frame(batch.toSeq, batchSchema), "k", Some("del"), Seq("ts"))
        }(_ => None)
      }
      if (merged.isDefined) {
        changeRows += batch.size
        changes.foreach {
          case (k, Some(rec)) => live(k) = rec
          case (k, None) => live -= k; deleted += k
        }
      }
      fold(afterMerge = true)

      val pk = recent(Set.empty)
      trace.span("txlog.snapshot_point") {
        r.op(Seq("read"), s"point read $round") {
          TxLog.snapshotPoint(spark, root, "k", pk).collect()
        }(got => same(got, Seq(pk -> live(pk))))
      }
      val picked = mutable.LinkedHashSet[String]()
      while (picked.size < 6) picked += recent(picked)
      val asked = picked.toSeq ++ deleted.takeRight(2)
      trace.span("txlog.snapshot_keys") {
        r.op(Seq("read"), s"keys read $round") {
          TxLog.snapshotKeys(spark, root, frame(asked.map(Row(_)), StructType(Seq(schema("k")))), "k").collect()
        }(got => same(got, asked.flatMap(k => live.get(k).map(k -> _))))
      }
      val (lo, hi) = (base - 200L, base + 100L)
      trace.span("txlog.snapshot_range") {
        r.op(Seq("read"), s"range read $round") {
          TxLog.snapshotRange(spark, root, "ts", lo, hi).collect()
        }(got => same(got, live.filter { case (_, rec) => rec.ts >= lo && rec.ts < hi }))
      }
      if (trace.enabled) trace.span("audit") {
        scanned += TxLog.pruneAudit(spark, root, "ts", lo, hi).where("scanned").count()
      }

      if (round % CompactEvery == 0) {
        commit("txlog.optimize_compact")(TxLog.optimizeCompact(spark, root, InitialRows / Buckets))
        fold(afterMerge = false)
      }
      if (round % CheckpointEvery == 0) commit("txlog.checkpoint")(TxLog.checkpoint(spark, root))
    }
    val t1 = r.stop(t0)

    val want = Measure.countAndHash(frame(live.toSeq.map { case (k, rec) => rowOf(k, rec) }, schema))
    r.op(Nil, "final snapshot")(Measure.countAndHash(TxLog.snapshot(spark, root))) { got =>
      if (got == want) None else Some(s"snapshot $got, replay $want")
    }

    val wall = (t1 - t0) / 1e9
    r.put("wall_s", wall, "s")
    r.put("rows_per_s", changeRows / wall, "1/s")
    r.latency("commit", "commit")
    r.latency("read", "read")

    val liveDirs = TxLog.liveFiles(spark, root)._2.map(_.dir)
    val logBytes = Measure.du(new File(s"$root/_txlog"))
    val liveBytes = liveDirs.map(d => Measure.du(new File(s"$root/$d"))).sum
    val liveLogical = live.map { case (k, rec) => utf8(k) + 16 + utf8(rec.v) }.sum
    r.put("write_amp", Measure.du(new File(root)).toDouble / userBytes, "ratio")
    r.put("space_amp", (liveBytes + logBytes).toDouble / liveLogical, "ratio")
    r.put("txlog.live_files", liveDirs.size.toDouble, "count")
    r.put("txlog.log_bytes", logBytes.toDouble, "B")

    if (trace.enabled) {
      def mean(span: String) = trace.seconds(span) / math.max(1, trace.count(span))
      Seq("merge", "fold", "optimize_compact", "checkpoint", "snapshot_point",
        "snapshot_keys", "snapshot_range").foreach(s => r.put(s"txlog.${s}_s", mean(s"txlog.$s"), "s"))
      r.put("txlog.append_s", trace.seconds("txlog.append"), "s")
      r.put("txlog.optimize_hash_s", trace.seconds("txlog.optimize_hash"), "s")
      val merges = math.max(1, trace.count("txlog.merge"))
      val c = trace.counters(_ == "txlog.merge")
      r.put("txlog.jobs_per_commit", c.jobs.toDouble / merges, "count")
      r.put("txlog.tasks_per_commit", c.tasks.toDouble / merges, "count")
      r.put("txlog.files_rewritten_per_merge", rewritten.toDouble / merges, "count")
      r.put("txlog.dirs_scanned_per_read", scanned.toDouble / rounds, "count")
    }
    s"${want._1}:${want._2}"
  }
}
