package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** JVM side of the benchmark; `perfbench/run.py` builds the inputs and
  * launches it. One process, one client thread, `local[cores]`.
  *
  *   --workload <name>      medallion_backfill | catalog_sf01 | lake_upsert
  *   --seed, --seconds, --trace 0|1, --cores, --work <dir>, --out <artifact.json>
  *   --launch-ns <epoch ns> when the launcher started this process
  *
  * Workload inputs arrive as further `--key value` pairs (see each
  * workload). The artifact holds every metric the run measured; the
  * launcher picks the ones `BENCHMARK.json` declares. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val launchNs = args("launch-ns").toLong
    val cores = args("cores").toInt
    val work = args("work")
    val mainNs = nowEpochNs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sources.TxSparkExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionNs = nowEpochNs()
    spark.range(1000).selectExpr("sum(id)").collect()
    val readyNs = nowEpochNs()
    val setupS = (readyNs - launchNs) / 1e9
    // where setup went: JVM start to main, session build, first action
    val setupSplit = Seq(mainNs - launchNs, sessionNs - mainNs, readyNs - sessionNs)
      .map(ns => f"${ns / 1e9}%.3f").mkString("/")

    val seconds = args("seconds").toInt
    val trace = new Trace(spark, args("trace") == "1")
    val r = new Result
    r.notes("setup_split_s") = setupSplit
    val t0 = System.nanoTime()
    val fingerprint = args("workload") match {
      case "medallion_backfill" => Medallion.run(spark, trace, r, args, seconds)
      case "catalog_sf01" => CatalogWorkload.run(spark, trace, r, args, seconds)
      case "lake_upsert" => Lake.run(spark, trace, r, args, seconds)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (trace.enabled) {
      val (s0, s1) = r.window
      val wall = r.metrics("wall_s")._1
      r.put("trace.wall_s", wall, "s")
      r.put("trace.span_cover_frac", trace.covered(s0, s1) / wall, "ratio")
    }
    r.put("peak_rss_mb", Measure.peakRssMb(), "MB")
    r.put("failed_ops_frac", if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted, "ratio")
    val runS = (System.nanoTime() - t0) / 1e9
    spark.stop()

    def obj(kv: Iterable[(String, String)]) = kv.map { case (k, v) => Measure.json(k) + ":" + v }.mkString("{", ",", "}")
    val out = obj(Seq(
      "workload" -> Measure.json(args("workload")),
      "cores" -> cores.toString,
      "setup_s" -> Measure.num(setupS),
      "run_s" -> Measure.num(runS),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "fingerprint" -> Measure.json(fingerprint),
      "metrics" -> obj(r.metrics.map { case (k, (v, u)) =>
        k -> s"""{"value":${Measure.num(v)},"unit":${Measure.json(u)}}""" }),
      "notes" -> obj(r.notes.map { case (k, v) => k -> Measure.json(v) }),
      "samples_s" -> obj(r.samples.map { case (k, xs) => k -> xs.map(Measure.num).mkString("[", ",", "]") }),
      "errors" -> r.errors.map(Measure.json).mkString("[", ",", "]"),
      "spans" -> trace.spans.map(s =>
        s"""[${s.id},${s.parent},${Measure.json(s.name)},${s.startNs - t0},${s.endNs - t0}]""")
        .mkString("[", ",", "]")))
    write(args("out"), out)
  }

  private def nowEpochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}
