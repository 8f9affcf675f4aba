package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  // STRICT codegen in tests: a janino compile error in a generated
  // expression normally falls back to interpreted execution with only a
  // logged warning — correct results, silently interpreted hot paths.
  // Tests must fail instead (caught a real line-leading "||"
  // margin-stripping bug in FloatDot's template).
  lazy val spark: SparkSession =
    Sessions.local(4, Map("spark.sql.codegen.fallback" -> "false"))

  def sf(name: String): String = s"/root/testdata/$name"
}

/** The driver's t1 smoke contract: entry() on a bare session. */
class EntrySpec extends SparkSpec {
  test("entry returns rows on sf0.001 with no session prerequisites") {
    assert(SparkEntry.entry(spark).count() > 0)
    assert(SparkEntry.queries.nonEmpty)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
