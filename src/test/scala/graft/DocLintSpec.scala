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
  * Stale scaladoc links: the last segment of every `[[…]]` link must
  * name a class, object, trait, def or val defined under
  * `src/main/scala`, so a deleted definition strands no link.
  *
  * Reachability: a top-level object that no other main or perfbench
  * source names, and that defines no `main`, is reached only by its
  * own specs — no catalog query, main or benchmark runs it. The same
  * holds one level down for the public defs of a top-level object.
  * Both checks match by NAME, so a name shared with other code (a
  * `read` next to `spark.read`) passes: they find code nothing names,
  * not code nothing calls.
  *
  * Tool mains are not gates: a name used only inside
  * `graft/tools` reaches nothing, and each tool main keeps its place
  * by a "kept" row in SURVEY.md §8.1 that gives the reason.
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

  /** A top-level declaration, modifiers included (`private[operators]`). */
  private val topLevelDecl = "(?m)^(?:[a-z]+(?:\\[\\w+\\])? )*(object|class|trait) (\\w+)".r

  private val toolsDir = Paths.get("src/main/scala/graft/tools")

  /** Main and perfbench sources with comments removed, by file. */
  private def sources: Map[Path, String] =
    (scalaFiles(Paths.get("src/main/scala")) ++ scalaFiles(Paths.get("perfbench/src")))
      .map(f => f -> code(f)).toMap

  /** The sources whose names reach library code: every source but the tool mains. */
  private def reachers(all: Map[Path, String]): Map[Path, String] =
    all.filterNot { case (f, _) => f.startsWith(toolsDir) }

  /** Each top-level object of a source text: (name, start, end offsets). */
  private def topLevelObjects(text: String): Seq[(String, Int, Int)] = {
    val decls = topLevelDecl.findAllMatchIn(text).toSeq
    decls.zipWithIndex.collect { case (m, i) if m.group(1) == "object" =>
      (m.group(2), m.start, if (i + 1 < decls.size) decls(i + 1).start else text.length)
    }
  }

  /** Rows of SURVEY.md §8.1, the ledger of code only its own specs reach. */
  private def ledger: Seq[String] =
    new String(Files.readAllBytes(Paths.get("SURVEY.md")), "UTF-8")
      .split("\n").toSeq.dropWhile(!_.startsWith("### 8.1 ")).takeWhile(l => !l.startsWith("## "))

  private def keptRow(name: String): Boolean =
    ledger.exists(l => l.startsWith(s"| `$name`") && l.contains("| kept |"))

  /** Objects declared with a qualified modifier, which the checks must see. */
  private val qualifiedObjects = Set("BatchedIndex", "Rebalance", "DurableSnapshots")

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

  test("scaladoc: every [[link]] names a definition under src/main/scala") {
    val files = scalaFiles(Paths.get("src/main/scala"))
    val defined = files.flatMap { f =>
      "\\b(?:class|object|trait|def|val) +(\\w+)".r.findAllMatchIn(code(f)).map(_.group(1))
    }.toSet
    val stale = files.flatMap { f =>
      val docs = "(?s)/\\*\\*.*?\\*/".r
        .findAllIn(new String(Files.readAllBytes(f), "UTF-8"))
      docs.flatMap(d => "\\[\\[([^\\]\\s]+)".r.findAllMatchIn(d).map(_.group(1))).collect {
        case target if !defined(target.split("[.#]").last) => s"[[$target]] ($f)"
      }
    }.distinct.sorted
    assert(stale.isEmpty, s"scaladoc links naming no main definition: ${stale.mkString(", ")}")
  }

  test("reachability: every top-level object is named by another source or defines a main") {
    val all = sources
    val named = reachers(all)
    val checked = all.toSeq.flatMap { case (f, text) =>
      topLevelObjects(text).map { case (name, start, end) => (f, name, text.substring(start, end)) }
    }.filter { case (f, _, _) => f.startsWith("src/main/scala") }
    assert(qualifiedObjects.subsetOf(checked.map(_._2).toSet),
      s"objects missing from the checked set: ${qualifiedObjects -- checked.map(_._2)}")
    val unreached = checked.filterNot { case (f, name, body) =>
      "\\bdef main\\s*\\(".r.findFirstIn(body).isDefined ||
        named.exists { case (g, c) => g != f && s"\\b$name\\b".r.findFirstIn(c).isDefined }
    }.map { case (f, name, _) => s"$name ($f)" }.sorted
    assert(unreached.isEmpty,
      s"objects no other source names and with no main: ${unreached.mkString(", ")}")
  }

  test("tools: every graft/tools object has a kept row in SURVEY.md §8.1") {
    val tools = scalaFiles(toolsDir).flatMap(f => topLevelObjects(code(f)).map(_._1))
    assert(tools.nonEmpty, s"no tool objects found under $toolsDir")
    val unrecorded = tools.filterNot(t => keptRow(s"tools.$t"))
    assert(unrecorded.isEmpty,
      s"tool objects with no \"kept\" row in SURVEY.md §8.1: ${unrecorded.mkString(", ")}")
  }

  /** Public defs kept although no main or perfbench source outside
    * `graft/tools` names them, each with its row in SURVEY.md §8.1 (the
    * ledger of code only its own specs reach). The test checks that the
    * row is there and says "kept".
    */
  private val keptDefs: Set[String] = Set(
    "RawLayer.streamingIngest",      // the reference's poll loop (I4)
    "Sources.incremental",           // the reference's JDBC watermark extract (S1/P4)
    "PartitionedLake.filesScanned",  // pruning instrument specs check gated queries with
    "PartitionedLake.dataFileCount", // compaction instrument, same
    "Sketches.hllEstimate",          // q102's register estimate, read by specs
    "SparkEntry.entry",              // the driver contract's flagship smoke
  )

  private val memberDef =
    "^  (?:(?:final|implicit|inline|override|private|protected)(?:\\[\\w+\\])? )*def (\\w+)".r

  test("reachability: every public def of a top-level object is named outside its definition") {
    val all = sources
    val named = reachers(all)
    val checked = all.toSeq.filter { case (f, _) => f.startsWith("src/main/scala") }.flatMap {
      case (f, text) =>
        val lines = text.split("\n", -1).toIndexedSeq
        topLevelObjects(text).map { case (obj, start, end) =>
          val first = text.substring(0, start).count(_ == '\n')
          val last = if (end < text.length) text.substring(0, end).count(_ == '\n') else lines.size
          val defs = (first until last).flatMap { l =>
            memberDef.findPrefixMatchOf(lines(l)).collect {
              case d if !"\\b(private|protected|override)\\b".r.findFirstIn(d.matched).isDefined =>
                // the definition runs to the next line at member indent or less
                val defEnd = (l + 1 until lines.size).find { k =>
                  lines(k).trim.nonEmpty && !lines(k).startsWith("   ")
                }.getOrElse(lines.size)
                (s"$obj.${d.group(1)}", d.group(1), l, defEnd)
            }
          }
          (f, lines, obj, defs)
        }
    }
    assert(qualifiedObjects.subsetOf(checked.map(_._3).toSet),
      s"objects missing from the checked set: ${qualifiedObjects -- checked.map(_._3)}")
    val unreached = checked.flatMap { case (f, lines, _, defs) =>
      defs.filterNot { case (qualified, name, start, end) =>
        val word = s"\\b$name\\b".r
        keptDefs(qualified) ||
          word.findFirstIn((lines.take(start) ++ lines.drop(end)).mkString("\n")).isDefined ||
          named.exists { case (g, c) => g != f && word.findFirstIn(c).isDefined }
      }.map { case (qualified, _, _, _) => s"$qualified ($f)" }
    }.sorted
    assert(unreached.isEmpty,
      s"public defs named nowhere outside their definition: ${unreached.mkString(", ")}")
    val unrecorded = keptDefs.filterNot(keptRow)
    assert(unrecorded.isEmpty,
      s"kept defs with no \"kept\" row in SURVEY.md §8.1: ${unrecorded.mkString(", ")}")
  }
}
