package graft.perfbench

import graft.Catalog
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** catalog_sf01: every headline query of `Catalog.headlines` (the
  * `graft.Bench` set) over the fixed sf0.1 tables, in catalog order,
  * `seconds / NominalPassS` passes (at least one). The first pass runs
  * in a cold session, so it includes each query's code generation.
  * `x170_tx_merge_string` builds and merges a `TxLog` table, so the
  * transactional commit path is measured here too.
  *
  * Inputs: --sf-dir, and --expected <json> with each query's row count
  * and content hash, or --record <json> to write that file (once, from
  * a run whose outputs the DuckDB oracle has accepted).
  *
  * Each timed query is forced with `count()`, as `graft.Bench` does, and
  * its row count is checked. Hashing every result would double a run's
  * cost, so the content hashes are checked in an untimed pass after the
  * timed ones, in the traced run only. No checkpoint drain runs between
  * queries, so executor storage shows what the queries leave behind. */
object CatalogWorkload {
  /** Seconds a cold pass takes at local[2] on a 4-core machine. */
  val NominalPassS = 32.0

  def queries: Seq[graft.QueryDef] = Catalog.headlines

  def run(spark: SparkSession, trace: Trace, r: Result, args: Map[String, String],
      seconds: Int): String = {
    val sf = args("sf-dir")
    val record = args.get("record")
    val expected = record.fold(parseExpected(args("expected")))(_ => Map.empty[String, (Long, String)])
    val passes = math.max(1, math.round(seconds / NominalPassS).toInt)
    var resultRows = 0L

    val t0 = r.start()
    val storage = (1 to passes).map { _ =>
      queries.foreach { q =>
        trace.span(s"catalog.${q.name}") {
          r.op(Seq("query"), q.name)(q.build(spark, sf).count()) { n =>
            resultRows += n
            expected.get(q.name) match {
              case Some((want, _)) if want != n => Some(s"$n rows, recorded $want")
              case None if record.isEmpty => Some("no recorded result")
              case _ => None
            }
          }
        }
      }
      Trace.storageMemBytes(spark)
    }
    val t1 = r.stop(t0)
    val planS = trace.planSeconds()

    val seen = collection.mutable.LinkedHashMap[String, (Long, String)]()
    if (trace.enabled || record.isDefined) trace.span("verify") {
      queries.foreach { q =>
        r.op(Nil, s"${q.name} content")(Measure.countAndHash(q.build(spark, sf))) { got =>
          seen(q.name) = got
          expected.get(q.name).filter(_ != got).map(want => s"rows/hash $got, recorded $want")
        }
      }
    }

    val wall = (t1 - t0) / 1e9
    val n = r.samples.get("query").map(_.size).getOrElse(0)
    r.put("wall_s", wall, "s")
    r.put("rows_per_s", resultRows / wall, "1/s")
    r.put("queries_per_s", n / wall, "1/s")
    r.latency("query", "query")
    r.put("catalog.storage_mem_bytes", storage.last.toDouble, "B")

    if (trace.enabled) {
      queries.foreach { q =>
        val span = s"catalog.${q.name}"
        r.put(s"${span}_s", trace.seconds(span) / passes, "s")
        r.put(s"$span.jobs", trace.counters(_ == span).jobs.toDouble / passes, "count")
      }
      val c = trace.counters(_.startsWith("catalog."))
      r.put("catalog.plan_s", planS / passes, "s")
      r.put("catalog.stages", c.stages.toDouble / passes, "count")
      r.put("catalog.tasks", c.tasks.toDouble / passes, "count")
      r.put("catalog.shuffle_write_bytes", c.shuffleWriteBytes.toDouble / passes, "B")
      r.put("catalog.spill_bytes", c.spillBytes.toDouble / passes, "B")
      r.put("catalog.gc_s", c.gcMs / 1e3 / passes, "s")
      r.put("catalog.peak_exec_mem_bytes", c.peakExecMemBytes.toDouble, "B")
    }
    record.foreach { path =>
      val body = seen.map { case (k, (rows, hash)) => s"""  "$k": {"rows": $rows, "hash": "$hash"}""" }
      Files.write(Paths.get(path), body.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    }
    "sf0.1"
  }

  private val Entry = "\"([^\"]+)\":\\s*\\{\"rows\":\\s*(\\d+),\\s*\"hash\":\\s*\"(\\d+)\"\\}".r

  private def parseExpected(path: String): Map[String, (Long, String)] =
    Entry.findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
}
