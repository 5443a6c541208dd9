package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Rules over the library source that no compiler check enforces: every
  * cut goes through [[Checkpoints.Scope]], and no operator hands its
  * materialization choice to the caller as a function.
  */
class SourceRulesSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** (path relative to `root`, line number, line) of every Scala line. */
  private lazy val lines: Seq[(String, Int, String)] = {
    assert(Files.isDirectory(root), s"no source tree at $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    files.flatMap { p: Path =>
      val rel = root.relativize(p).toString
      Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (rel, i + 1, l) }
    }
  }

  private def report(hits: Seq[(String, Int, String)]): String =
    hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n")

  test("localCheckpoint appears only in Checkpoints.scala; operators take no DataFrame => DataFrame") {
    val rawCuts = lines.filter { case (f, _, l) =>
      l.contains("localCheckpoint") && f != "graft/Checkpoints.scala"
    }
    assert(rawCuts.isEmpty,
      s"cut through Checkpoints.Scope instead:\n${report(rawCuts)}")
    val strategyParams = lines.filter { case (f, _, l) =>
      f.startsWith("graft/operators/") && l.matches(".*DataFrame\\s*=>\\s*DataFrame.*")
    }
    assert(strategyParams.isEmpty,
      s"take `cuts: Option[Checkpoints.Scope]` instead:\n${report(strategyParams)}")
  }
}
