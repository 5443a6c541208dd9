package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The mains' integer settings parser and the one-session-builder rule.
  * Starts no SparkSession.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("intEnv: unset takes the default, a positive integer is read") {
    assert(GraftSession.intEnv("SPARK_GRAFT_X", 7, env = Map.empty) === 7)
    assert(GraftSession.intEnv("SPARK_GRAFT_X", 7, env = Map("SPARK_GRAFT_X" -> "3")) === 3)
  }

  test("intEnv: zero and non-numbers fail naming the variable") {
    val zero = intercept[IllegalArgumentException] {
      GraftSession.intEnv("SPARK_GRAFT_X", 7, env = Map("SPARK_GRAFT_X" -> "0"))
    }
    assert(zero.getMessage.contains("SPARK_GRAFT_X must be >= 1, got 0"))
    val word = intercept[RuntimeException] {
      GraftSession.intEnv("SPARK_GRAFT_X", 7, env = Map("SPARK_GRAFT_X" -> "x"))
    }
    assert(word.getMessage === "SPARK_GRAFT_X must be a positive integer, got 'x'")
  }

  test("SparkSession.builder() appears once under src/main, in GraftSession") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    def count(p: Path): Int =
      java.util.regex.Pattern.quote("SparkSession.builder()").r
        .findAllMatchIn(Files.readString(p)).size
    val hits = sources.map(p => p.getFileName.toString -> count(p)).filter(_._2 > 0)
    assert(hits === Seq("GraftSession.scala" -> 1))
  }
}
