package graft

/** Benchmark main: times the headline queries (Catalog.headlines) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is forced
  * with count() (full plan execution, no result collection cost).
  *
  * Noise protocol (r4 lesson — a whole round's perf signal was burned
  * on host-steal artifacts): every query runs SPARK_GRAFT_BENCH_REPS
  * times (default 5 — raised from 3 after rounds 6 AND 7 each spent
  * their top verdict slot adjudicating a host-steal floor move that
  * five reps would have self-evidenced) IN ONE SESSION, interleaved
  * nowhere — rep 1 is the cold number (includes whole-stage-codegen
  * compilation, the r1-comparable headline), and the JSON also
  * carries per-query min and median so a regression claim can be
  * made against the rep floor instead of eyeballing a noise band.
  * `warm` = min of reps 2..N (plan classes cached — steady-state
  * throughput), keeping the key comparable with rounds 1-4. The
  * `reps_detail` map carries EVERY rep in run order, so the steal
  * signature (min==cold with slower warm reps, or one inflated
  * outlier rep) is visible in the artifact itself — no follow-up
  * session needed to adjudicate a moved floor. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(2, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt)
    val spark = Sessions.local()
    // one cheap action to absorb session/codegen warmup noise
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // a query that throws must NOT record its time-to-throw as a (fast!)
    // measurement — r17 verdict item 5: carry the error in the artifact.
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeOnce(q: Catalog.QueryDef): Double = {
      val t0 = System.nanoTime()
      try { q.build(spark, sfDir).count() } catch { case e: Throwable =>
        errs(q.name) = e.toString.take(200).replaceAll("[\"\\\\\n\r]", " ") }
      // the built frame is dropped here, so its checkpoint blocks are
      // the ContextCleaner's to free (see graft.operators.Dedup)
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    final case class Row(name: String, cold: Double, min: Double,
        med: Double, warm: Double, all: Seq[Double])
    // adjudication dev loop: SPARK_GRAFT_BENCH_ONLY=x88,q20 times a
    // subset (prefix match) — "min-of-5 of the suspect plus an
    // untouched control in ONE session". Unset = all.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val rows = Catalog.headlines
      .filter(q => only.forall(_.exists(q.name.startsWith))).map { q =>
      val ts = (1 to reps).map(_ => timeOnce(q))
      val r = Row(q.name, ts.head, ts.min, median(ts), ts.tail.min, ts)
      Console.err.println(
        f"[bench] ${q.name}%-24s cold ${r.cold}%7.3f  min ${r.min}%7.3f  med ${r.med}%7.3f  warm ${r.warm}%7.3f s")
      r
    }
    def jmap(f: Row => Double) = rows
      .map(r => "\"" + r.name + f"""":${f(r)}%.3f""").mkString("{", ",", "}")
    def total(f: Row => Double) = f"${rows.map(f).sum}%.3f"
    val detail = rows.map(r => "\"" + r.name + "\":" +
      r.all.map(t => f"$t%.3f").mkString("[", ",", "]")).mkString("{", ",", "}")
    // additions-only vs r17: the "err" map is present only when a query
    // threw (keys: query name → exception string); all prior keys keep
    // their meaning so r16/r17 artifacts stay comparable.
    val errJson = if (errs.isEmpty) "" else errs
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString(""","err":{""", ",", "}")
    val json = s"""{"metric":"total","value":${total(_.cold)},"unit":"sec","reps":$reps,"queries":${jmap(_.cold)},"min_total":${total(_.min)},"min":${jmap(_.min)},"median_total":${total(_.med)},"median":${jmap(_.med)},"warm_total":${total(_.warm)},"warm":${jmap(_.warm)},"reps_detail":$detail$errJson,"sf":"$sfDir"}"""
    // persist to a file FIRST: three rounds of driver stdout captures
    // truncated the tail and lost min_total (BENCH_r10/r12/r13 all
    // arrived with parsed:null) — the file artifact can't be cut off
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      Console.err.println(s"[bench] could not write $outFile: $e") }
    // the JSON is the LAST thing this program writes to stdout: Spark
    // stops before it (its shutdown chatter goes to stderr — the
    // bundled log4j2.properties routes every logger there), so a
    // driver parsing the captured stdout tail finds the JSON line,
    // not log noise
    spark.stop()
    // Emit the JSON twice: once bare (a parser reading the last line
    // verbatim) and once behind a grep-stable sentinel — sbt's batch
    // runner prefixes program stdout with "[info] ", so a harness
    // that captured `sbt runMain` output can recover the payload with
    // `grep -o 'BENCHJSON .*'` or by stripping a leading "[info] "
    // from the final line. bench_out.json remains the file artifact.
    println(s"BENCHJSON $json")
    println(json)
    Console.out.flush()
  }
}
