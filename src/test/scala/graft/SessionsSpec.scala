package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** `Sessions` is the one session builder, and the environment variables
  * and `spark.graft.*` conf keys the program reads are explicit lists: a
  * new builder or a new knob is a visible edit here. So is a second
  * checkpoint lifetime rule (see [[graft.operators.Dedup]]). */
class SessionsSpec extends SparkSpec {

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    require(Files.isDirectory(root),
      s"$root not found: the suite runs from the repository root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  private def lines(f: Path): Seq[String] = Files.readAllLines(f).asScala.toSeq

  test("no file but Sessions.scala builds a SparkSession (scaladoc aside)") {
    val builder = """SparkSession\.builder\(\)""".r
    val offenders = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filterNot(_.getFileName.toString == "Sessions.scala")
      .flatMap(f => lines(f).zipWithIndex.collect {
        case (l, i) if builder.findFirstIn(l).isDefined &&
            !l.trim.startsWith("*") => s"$f:${i + 1}"
      })
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main reads exactly the listed environment variables") {
    val read = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"(\w+)"""".r
    val reads = scalaFiles("src/main/scala").flatMap(f => lines(f)
      .flatMap(l => read.findAllMatchIn(l).map(m => m.group(1) -> f.getFileName.toString)))
    assert(reads.filter(_._1 == "SPARK_GRAFT_CPUS").map(_._2) === Seq("Sessions.scala"))
    assert(reads.map(_._1).toSet === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_ONLY", "SPARK_GRAFT_ANSI", "SPARK_GRAFT_STRICT_CODEGEN",
      "SPARK_GRAFT_POLLUTANTS", "SPARK_GRAFT_PG", "SPARK_GRAFT_JDBC_URL",
      "SPARK_GRAFT_JDBC_DRIVER", "SPARK_GRAFT_BENCH_REPS",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_ONLY"))
  }

  test("src/main reads exactly the listed spark.graft conf keys") {
    val key = """"(spark\.graft\.[\w.]+)"""".r
    val keys = scalaFiles("src/main/scala")
      .flatMap(f => lines(f).flatMap(l => key.findAllMatchIn(l).map(_.group(1))))
    assert(keys.toSet === Set("spark.graft.tx.fusedBucketStats"))
  }

  test("checkpoints live by reachability: no drain, lease or cleaner conf; one free helper") {
    val code = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .flatMap(f => lines(f).zipWithIndex.map { case (l, i) => (f, i + 1, l) })
    val gone = """release[C]heckpoints|Checkpoint[L]ease|Dedup\.scope[d]|track[C]heckpoint""".r
    val mentions = code.collect {
      case (f, n, l) if gone.findFirstIn(l).isDefined => s"$f:$n"
    }
    assert(mentions.isEmpty, mentions.mkString("\n"))
    val cleanerKey = """"spark\.cleaner\.""".r
    val cleanerConf = code.collect {
      case (f, n, l) if cleanerKey.findFirstIn(l).isDefined => s"$f:$n"
    }
    assert(cleanerConf.isEmpty, cleanerConf.mkString("\n"))
    // the only src/main code that reaches a checkpoint's RDD (to free it)
    val mainCode = code.filter { case (f, _, l) =>
      f.startsWith(Paths.get("src/main/scala")) &&
        !l.trim.startsWith("*") && !l.trim.startsWith("//")
    }
    def where(token: String): Seq[String] = mainCode.collect {
      case (f, _, l) if l.contains(token) => f.getFileName.toString
    }
    assert(where("LogicalRDD") === Seq("Dedup.scala"))
    assert(where(".rdd.unpersist(") === Seq("Dedup.scala"))
  }
}
