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
  * own specs — no catalog query, main or benchmark runs it. The same
  * holds one level down for the public defs of a top-level object.
  * Both checks match by NAME, so a name shared with other code (a
  * `read` next to `spark.read`) passes: they find code nothing names,
  * not code nothing calls.
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

  /** Public defs kept although no other main or perfbench source names
    * them, each with its row in SURVEY.md §8.1 (the ledger of code only
    * its own specs reach). The test checks that the row is there and
    * says "kept".
    */
  private val keptDefs: Set[String] = Set(
    "RawLayer.streamingIngest",      // the reference's poll loop (I4)
    "Sources.incremental",           // the reference's JDBC watermark extract (S1/P4)
    "PartitionedLake.filesScanned",  // pruning instrument specs check gated queries with
    "PartitionedLake.dataFileCount", // compaction instrument, same
    "Sketches.hllEstimate",          // q102's register estimate, read by specs
  )

  private val memberDef =
    "^  (?:(?:final|implicit|inline|override|private|protected)(?:\\[\\w+\\])? )*def (\\w+)".r

  test("reachability: every public def of a top-level object is named outside its definition") {
    val mainFiles = scalaFiles(Paths.get("src/main/scala"))
    val sources = (mainFiles ++ scalaFiles(Paths.get("perfbench/src"))).map(f => f -> code(f)).toMap
    val unreached = mainFiles.flatMap { f =>
      val text = sources(f)
      val lines = text.split("\n", -1).toIndexedSeq
      val decls = topLevelDecl.findAllMatchIn(text).toSeq
      decls.zipWithIndex.collect { case (m, i) if m.group(1) == "object" =>
        val first = text.substring(0, m.start).count(_ == '\n')
        val last = if (i + 1 < decls.size) text.substring(0, decls(i + 1).start).count(_ == '\n')
          else lines.size
        (first until last).flatMap { l =>
          memberDef.findPrefixMatchOf(lines(l)).collect {
            case d if !"\\b(private|protected|override)\\b".r.findFirstIn(d.matched).isDefined =>
              // the definition runs to the next line at member indent or less
              val end = (l + 1 until lines.size).find { k =>
                lines(k).trim.nonEmpty && !lines(k).startsWith("   ")
              }.getOrElse(lines.size)
              (s"${m.group(2)}.${d.group(1)}", d.group(1), l, end)
          }
        }
      }.flatten.filterNot { case (qualified, name, start, end) =>
        val word = s"\\b$name\\b".r
        keptDefs(qualified) ||
          word.findFirstIn((lines.take(start) ++ lines.drop(end)).mkString("\n")).isDefined ||
          sources.exists { case (g, c) => g != f && word.findFirstIn(c).isDefined }
      }.map { case (qualified, _, _, _) => s"$qualified ($f)" }
    }
    assert(unreached.isEmpty,
      s"public defs named nowhere outside their definition: ${unreached.mkString(", ")}")
    val ledger = new String(Files.readAllBytes(Paths.get("SURVEY.md")), "UTF-8")
      .split("\n").dropWhile(!_.startsWith("### 8.1 ")).takeWhile(l => !l.startsWith("## "))
    val unrecorded = keptDefs.filterNot { d =>
      ledger.exists(l => l.startsWith(s"| `$d`") && l.contains("| kept |"))
    }
    assert(unrecorded.isEmpty,
      s"kept defs with no \"kept\" row in SURVEY.md §8.1: ${unrecorded.mkString(", ")}")
  }
}
