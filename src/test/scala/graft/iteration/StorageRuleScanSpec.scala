package graft.iteration

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source scan for the storage rule of [[Loop]]: no operator chooses a
 * storage level or releases storage by hand. Under `src/main/scala/graft`,
 * `StorageLevel` and `.persist(` appear only in `iteration/Loop.scala`,
 * `benchmark/ScaleUp.scala` (its stages clear the cache) and `examples/`,
 * and no code outside them calls `.unpersist(` (comments and string
 * literals, such as a scaladoc telling the caller to unpersist, are not
 * code).
 */
class StorageRuleScanSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def allowed(rel: String): Boolean =
    rel == "iteration/Loop.scala" || rel == "benchmark/ScaleUp.scala" ||
      rel.startsWith("examples/")

  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') -> Files.readString(p))
      .filterNot { case (rel, _) => allowed(rel) }
      .toList
    finally walk.close()
  }

  /** `src` with comments and string literals blanked, line breaks kept. */
  private def codeOf(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        out ++= src.substring(i, stop).filter(_ == '\n')
        i = stop
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop).filter(_ == '\n')
        i = stop
      } else if (src(i) == '"') {
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') i += 1
          i += 1
        }
        i += 1
      } else if (at("'\"'")) {
        i += 3 // the character literal '"' opens no string
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  private def hits(text: String => String, pattern: String): Seq[String] =
    sources.flatMap { case (rel, src) =>
      text(src).linesIterator.zipWithIndex.collect {
        case (line, n) if line.contains(pattern) => s"$rel:${n + 1}: ${line.trim}"
      }
    }

  test("the scan reads the operator sources") {
    assert(sources.exists(_._1 == "graph/PageRank.scala"), sources.map(_._1))
    assert(codeOf("a.unpersist() // b.unpersist()\nc(\"d.unpersist()\")") ==
      "a.unpersist() \nc()")
  }

  test("only Loop chooses a storage level") {
    val found = hits(identity, "StorageLevel")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only Loop persists") {
    val found = hits(identity, ".persist(")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only Loop releases storage") {
    val found = hits(codeOf, ".unpersist(")
    assert(found.isEmpty, found.mkString("\n"))
  }
}
