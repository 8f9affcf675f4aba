package graft.pipeline

import graft.core.Names

/** The pollutant dimension (reference: `config/pollutants.yaml:2-21`):
  * one row per pollutant the pipeline is configured to process, with
  * the GEODAIR code, display names, and the declared source unit.
  *
  * The reference fans every stage out from this list — a pollutant
  * commented out of the config is skipped even when its files exist in
  * the lake, and silver tables are named by
  * `normalize_column_name(short_name)`
  * (`src/preprocess_to_staging.py:154-155`). [[AirQuality.runPipeline]]
  * and [[RunPipeline]] reproduce both behaviors from this dimension
  * instead of deriving identity from filenames alone.
  */
final case class Pollutant(code: String, shortName: String,
    fullName: String, unit: String) {
  /** Silver/gold table name — the reference's normalized short name. */
  def tableName: String = Names.normalizeColumnName(shortName)
}

object Pollutants {

  /** The reference's ACTIVE configuration (`config/pollutants.yaml:2-21`;
    * the commented-out tail of that file is intentionally absent — that
    * is the toggle semantics). */
  val default: Seq[Pollutant] = Seq(
    Pollutant("01", "SO2", "dioxyde de soufre", "µg-m3"),
    Pollutant("03", "NO2", "dioxyde d'azote", "µg-m3"),
    Pollutant("04", "CO", "monoxyde de carbone", "mg-m3"),
    Pollutant("08", "O3", "ozone", "µg-m3"),
    Pollutant("12", "NOX", "oxydes d'azote", "µg-m3"))

  /** Load the dimension from the reference's config shape — a YAML
    * list of flat string-valued maps:
    *
    * {{{
    * - code: "01"
    *   short_name: "SO2"
    *   full_name: "dioxyde de soufre"
    *   unit: "µg-m3"
    * }}}
    *
    * This is a deliberate MINIMAL parser for exactly that subset
    * (`- key: value` starts an entry, `key: value` extends it, `#`
    * comments and blank lines are skipped, scalars may be
    * double-quoted) — enough to honor the reference's config contract,
    * including its comment-out toggle, without a YAML library
    * dependency. Anything outside the subset fails loudly rather than
    * parsing wrong. */
  def parse(lines: Iterator[String]): Seq[Pollutant] = {
    val entries = scala.collection.mutable.ArrayBuffer[Map[String, String]]()
    var current: Map[String, String] = null
    def flush(): Unit = if (current != null) { entries += current; current = null }
    lines.map(_.replaceAll("\t", "  ")).foreach { raw =>
      val line = raw.takeWhile(_ != '#').replaceAll("\\s+$", "")
      val trimmed = line.trim
      if (trimmed.nonEmpty) {
        val isNew = trimmed.startsWith("- ")
        val kv = (if (isNew) trimmed.drop(2) else trimmed).split(":", 2)
        require(kv.length == 2,
          s"pollutants config: expected 'key: value', got '$trimmed'")
        val key = kv(0).trim
        val value = kv(1).trim.stripPrefix("\"").stripSuffix("\"")
        if (isNew) { flush(); current = Map(key -> value) }
        else {
          require(current != null,
            s"pollutants config: '$trimmed' appears before any '- ' entry")
          current += key -> value
        }
      }
    }
    flush()
    entries.map { e =>
      def get(k: String) = e.getOrElse(k,
        throw new IllegalArgumentException(
          s"pollutants config: entry $e is missing '$k'"))
      Pollutant(get("code"), get("short_name"), get("full_name"), get("unit"))
    }.toSeq
  }

  def load(path: String): Seq[Pollutant] = {
    import scala.jdk.CollectionConverters._
    parse(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path),
      java.nio.charset.StandardCharsets.UTF_8).iterator().asScala)
  }
}
