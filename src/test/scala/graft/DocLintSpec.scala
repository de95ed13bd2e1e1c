package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main/scala`.
  *
  * Orphaned scaladoc: when a doc block is followed, with only blank
  * lines between, by another doc block, scaladoc attaches the second
  * block to the next definition and the first one documents nothing.
  *
  * Reachability: a top-level object that no other main or perfbench
  * source names, and that defines no `main`, is reached only by its
  * own specs — no catalog query, main or benchmark runs it.
  */
class DocLintSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"source root $root not found")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
  }

  /** Source text with block and line comments removed (a `//` only
    * counts after whitespace or at line start, so `hdfs://` survives).
    */
  private def code(f: Path): String = {
    val text = new String(Files.readAllBytes(f), "UTF-8")
    "(?m)(^|\\s)//.*$".r.replaceAllIn("(?s)/\\*.*?\\*/".r.replaceAllIn(text, ""), "$1")
  }

  private val topLevelDecl = "(?m)^(?:[a-z]+ )*(object|class|trait) (\\w+)".r

  test("scaladoc: no doc block is directly followed by another doc block") {
    val orphans = scalaFiles(Paths.get("src/main/scala")).flatMap { (f: Path) =>
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

  test("reachability: every top-level object is named by another source or defines a main") {
    val mainFiles = scalaFiles(Paths.get("src/main/scala"))
    val sources = (mainFiles ++ scalaFiles(Paths.get("perfbench/src"))).map(f => f -> code(f)).toMap
    val unreached = mainFiles.flatMap { f =>
      val text = sources(f)
      val decls = topLevelDecl.findAllMatchIn(text).toSeq
      decls.zipWithIndex.collect {
        case (m, i) if m.group(1) == "object" =>
          val end = if (i + 1 < decls.size) decls(i + 1).start else text.length
          (m.group(2), text.substring(m.start, end))
      }.filterNot { case (name, body) =>
        "\\bdef main\\s*\\(".r.findFirstIn(body).isDefined ||
          sources.exists { case (g, c) =>
            g != f && s"\\b$name\\b".r.findFirstIn(c).isDefined
          }
      }.map { case (name, _) => s"$name ($f)" }
    }
    assert(unreached.isEmpty,
      s"objects no other source names and with no main: ${unreached.mkString(", ")}")
  }
}
