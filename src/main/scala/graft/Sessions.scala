package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main and the test
  * suites get the same conf set, so a plan explained, verified, benched
  * or tested is the same plan:
  *   - `local[cores]` with `cores` shuffle partitions;
  *   - AQE on, ANSI off (the reference's permissive casts; the DuckDB
  *     oracles use TRY_CAST), UTC session time zone, UI off;
  *   - `graft.sources.TxSparkExtensions`, the SQL-DML door for graft-tx
  *     tables;
  *   - log level WARN.
  * A caller passes in `conf` only the keys it sets differently. */
object Sessions {
  /** Worker threads: `SPARK_GRAFT_CPUS` if set, else every core the JVM
    * sees. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = Sessions.cores,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val defaults = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.sources.TxSparkExtensions")
    val spark = (defaults ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
