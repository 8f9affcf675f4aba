package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(conf = Map(
      // SPARK_GRAFT_ANSI=1 flips the session to ANSI mode (Spark 4's
      // default): the conf-robustness audit — any query whose result
      // depends on permissive casts it didn't spell as try_cast shows
      // up as a failure/mismatch here instead of silently depending
      // on session conf
      "spark.sql.ansi.enabled" ->
        sys.env.get("SPARK_GRAFT_ANSI").contains("1").toString,
      // SPARK_GRAFT_STRICT_CODEGEN=1: janino compile errors fail the
      // query instead of silently falling back to interpreted — the
      // audit that catches codegen template bugs unit tests can miss
      // (small toDF plans constant-fold before codegen ever runs).
      // Strict mode keys on the VALUE being "1" — =0 or empty stays
      // non-strict (presence alone used to enable it, inverted contract)
      "spark.sql.codegen.fallback" ->
        (!sys.env.get("SPARK_GRAFT_STRICT_CODEGEN").contains("1")).toString))
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_ONLY=q01,q02 runs a subset (unset = all)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.exists(n.startsWith))
    }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
