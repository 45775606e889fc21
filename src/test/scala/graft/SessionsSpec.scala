package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one-session-factory invariant (every session comes from
  * `Sessions.build`) and the local-cluster executor-sizing contract
  * (SCALING.md r13: the bracket's third field is only the worker's
  * advertised capacity; executors launch at the 1 GiB default unless
  * spark.executor.memory is set from it). */
class SessionsSpec extends SparkSpec {

  test("only Sessions.build creates a SparkSession; nothing uses spark.experimental") {
    val exempt = Set("Sessions.scala", "SessionsSpec.scala")
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val files = Seq("src/main", "src/test").flatMap(scalaFiles)
    assert(files.exists(_.endsWith("graft/Sessions.scala")), "source tree not found")
    val offenders = for {
      f <- files if !exempt(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkSession.builder()") || line.contains("spark.experimental")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the shared test session carries the base confs and the extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sessionState.planner.strategies.contains(graft.plans.AsofJoinStrategy))
  }

  test("bracket memMB parses to executor memory, with or without whitespace") {
    assert(Sessions.executorMemFromMaster("local-cluster[4,8,6144]")
      .contains("6144m"))
    // Spark's own master regex accepts spaces; silently falling back to
    // the 1 GiB default on them was the exact bug this parse fixes
    assert(Sessions.executorMemFromMaster("local-cluster[4, 8, 6144]")
      .contains("6144m"))
    assert(Sessions.executorMemFromMaster("local-cluster[ 2 , 4 , 3072 ]")
      .contains("3072m"))
  }

  test("non-local-cluster masters imply no executor sizing") {
    assert(Sessions.executorMemFromMaster("local[32]").isEmpty)
    assert(Sessions.executorMemFromMaster("spark://host:7077").isEmpty)
  }

  test("a malformed local-cluster bracket fails loudly, never under-sizes") {
    assert(Sessions.executorMemFromMaster("local-cluster[4,8]").isEmpty)
    val e = intercept[IllegalArgumentException] {
      Sessions.applyMaster(org.apache.spark.sql.SparkSession.builder(),
        "local-cluster[4,8]", memOverride = None)
    }
    assert(e.getMessage.contains("cannot size executors"))
    // the explicit override rescues an unparseable bracket
    Sessions.applyMaster(org.apache.spark.sql.SparkSession.builder(),
      "local-cluster[4,8]", memOverride = Some("2048m"))
  }
}
