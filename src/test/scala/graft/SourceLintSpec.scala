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
}
