package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for orphaned scaladoc: when a doc block is followed,
  * with only blank lines between, by another doc block, scaladoc
  * attaches the second block to the next definition and the first one
  * documents nothing.
  */
class DocLintSpec extends AnyFunSuite {

  test("scaladoc: no doc block is directly followed by another doc block") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"source root $root not found")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    val orphans = sources.flatMap { (f: Path) =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).trim.endsWith("*/")).flatMap { i =>
        val next = lines.indexWhere(_.trim.nonEmpty, i + 1)
        if (next >= 0 && lines(next).trim.startsWith("/**")) Some(s"$f:${next + 1}")
        else None
      }
    }
    assert(orphans.isEmpty,
      s"doc blocks directly followed by another doc block at: ${orphans.mkString(", ")}")
  }
}
