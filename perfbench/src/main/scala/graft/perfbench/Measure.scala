package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import scala.collection.mutable

/** What one run measured: named metrics with units, operation counts,
  * latency samples per operation kind, and the errors behind failures. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val errors = mutable.ArrayBuffer[String]()
  val notes = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  /** Client-clock nanoseconds of the timed body: [start, end). */
  var window: (Long, Long) = (0L, 0L)
  private var cpu0 = 0L

  /** Start the timed body; returns its start on the client clock. */
  def start(): Long = {
    cpu0 = Measure.cpuNs()
    System.nanoTime()
  }

  /** End the timed body begun at `t0`: records its window and the
    * process CPU seconds spent in it (`cpu_s`). */
  def stop(t0: Long): Long = {
    val t1 = System.nanoTime()
    put("cpu_s", (Measure.cpuNs() - cpu0) / 1e9, "s")
    window = (t0, t1)
    t1
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def fail(what: String): Unit = {
    failed += 1
    errors += what.replaceAll("[\"\\\\\n\r\t]", " ").take(300)
  }

  /** Run one client operation. A throw or a failed `check` counts as
    * failed and its time is not sampled. Returns the body's value when
    * the operation succeeded. */
  def op[A](kinds: Seq[String], what: String)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e.toString) }
    val sec = (System.nanoTime() - t0) / 1e9
    out.flatMap(a => check(a).toLeft(a)) match {
      case Right(a) =>
        kinds.foreach(k => samples.getOrElseUpdate(k, mutable.ArrayBuffer[Double]()) += sec)
        Some(a)
      case Left(err) =>
        fail(s"$what: $err")
        None
    }
  }

  /** `<kind>_p50_s` and `<kind>_tail_s` of a sample set, named with
    * `prefix`; the tail's percentile and the sample count go to notes. */
  def latency(kind: String, prefix: String): Unit =
    samples.get(kind).filter(_.nonEmpty).foreach { xs =>
      val (tail, pct) = Measure.tail(xs.toSeq)
      put(s"${prefix}_p50_s", Measure.median(xs.toSeq), "s")
      put(s"${prefix}_tail_s", tail, "s")
      notes(s"${prefix}_tail_s") = f"p$pct%.1f of ${xs.size} samples"
    }
}

object Measure {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it (the
    * 11th largest sample) and its percentile rank. With fewer than 21
    * samples that percentile lies below the median, so the median
    * (upper middle sample) is returned instead. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = math.max(s.size / 2, s.size - 11)
    (s(i), 100.0 * (i + 1) / s.size)
  }

  /** CPU time of this process (every thread), in nanoseconds. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Row count and order-independent content hash of `df` in one
    * action. The hash is [[graft.pipeline.RunPipeline.contentHash]]'s:
    * md5 per row over the name-sorted columns cast to string, 60 bits
    * of it summed as an exact decimal. Columns are renamed by position
    * first, so duplicate or dotted names cannot make a reference
    * ambiguous. */
  def countAndHash(df: DataFrame): (Long, String) = {
    val order = df.schema.fields.zipWithIndex.sortBy(_._1.name).toIndexedSeq
    val plain = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = order.map { case (f, i) =>
      val c = col(s"c$i")
      val base = if (f.dataType == DoubleType || f.dataType == FloatType) c + lit(0.0) else c
      coalesce(base.cast("string"), lit("\u0000"))
    }
    val row = plain.select(md5(concat_ws("\u0001", cols: _*)).as("h"))
      .agg(count(lit(1)),
        coalesce(sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
      .collect()(0)
    (row.getLong(0), row.getDecimal(1).toBigInteger.toString)
  }

  /** Bytes of every regular file under `dir` (0 when absent). */
  def du(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(du).sum).getOrElse(0L)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Resident-set high-water mark of this process, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
}
