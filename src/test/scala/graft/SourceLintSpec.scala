package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source lints: rules about where code may live, checked on the tree. */
class SourceLintSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Code lines of `file`: comment lines (scaladoc, block and line
    * comments) do not count. */
  private def codeLines(file: Path): Seq[(String, Int)] =
    Files.readAllLines(file).asScala.zipWithIndex.collect {
      case (line, i) if !Seq("*", "/*", "//").exists(line.trim.startsWith) =>
        (line, i + 1)
    }.toSeq

  test("sessions are built only by the Session recipe") {
    // split so this file does not match its own rule
    val call = ("SparkSession" + """\s*\.\s*builder\b""").r
    val recipe = Paths.get("src/main/scala/graft/Session.scala")
    val hits = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .flatMap(f => codeLines(f).collect {
        case (line, n) if call.findFirstIn(line).nonEmpty => (f, n)
      })
    val outside = hits.filterNot(_._1 == recipe)
    assert(outside.isEmpty,
      outside.map { case (f, n) => s"$f:$n" }.mkString("builder outside the recipe: ", ", ", ""))
    assert(hits.count(_._1 == recipe) == 1)
  }

  test("Spark work is counted only by the Profile listener") {
    // split so this file does not match its own rule
    val listener = ("""\b(new|extends)\s+""" + "SparkListener" + """\b""").r
    val profile = Paths.get("src/main/scala/graft/Profile.scala")
    val hits = scalaFiles("src/main/scala").flatMap(f => codeLines(f).collect {
      case (line, n) if listener.findFirstIn(line).nonEmpty => (f, n)
    })
    val outside = hits.filterNot(_._1 == profile)
    assert(outside.isEmpty,
      outside.map { case (f, n) => s"$f:$n" }.mkString("listener outside Profile: ", ", ", ""))
    assert(hits.count(_._1 == profile) == 1)
  }

  test("materialization is decided only by ops/Checkpoints") {
    val call = ("""localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)""").r
    val helper = Paths.get("src/main/scala/graft/ops/Checkpoints.scala")
    val hits = scalaFiles("src/main/scala").flatMap(f => codeLines(f).collect {
      case (line, n) if call.findFirstIn(line).nonEmpty => (f, n)
    })
    val outside = hits.filterNot(_._1 == helper)
    assert(outside.isEmpty, outside.map { case (f, n) => s"$f:$n" }
      .mkString("materialization outside ops/Checkpoints: ", ", ", ""))
    assert(hits.exists(_._1 == helper))
  }

  test("every public def in src/main is referenced somewhere") {
    // name-based: a name used anywhere else (or twice in its own file)
    // counts as used, so a shared name can hide a dead def, never the
    // reverse
    val defn = """^\s*((?:[a-z]+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)""".r
    val main = scalaFiles("src/main/scala")
    val all = main ++ scalaFiles("src/test/scala") ++ scalaFiles("perfbench/src")
    val text = all.map(f => f -> Files.readString(f)).toMap
    val unused = for {
      f <- main
      (line, n) <- codeLines(f)
      m <- defn.findPrefixMatchOf(line).toSeq
      mods = m.group(1)
      name = m.group(2)
      if !mods.contains("private") && !mods.contains("override") && name != "main"
      word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
      if word.findAllIn(text(f)).size <= 1 &&
        all.forall(g => g == f || word.findFirstIn(text(g)).isEmpty)
    } yield s"$f:$n $name"
    assert(unused.isEmpty, unused.mkString("unreferenced public defs: ", ", ", ""))
  }
}
