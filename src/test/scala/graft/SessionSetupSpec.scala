package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session in the library is built through [[GraftSession]], so the
  * master and the per-core defaults come from the machine in one place;
  * every scratch dir and catalog comes from [[Scratch]]. */
class SessionSetupSpec extends AnyFunSuite {

  private val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("only GraftSession.scala builds a SparkSession") {
    val call = """SparkSession\s*\.\s*builder""".r
    val users = sources.collect {
      case (p, text) if call.findFirstIn(text).nonEmpty => p.getFileName.toString
    }
    assert(users == Seq("GraftSession.scala"))
  }

  test("only Scratch.scala makes temp dirs or registers a catalog") {
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    // a catalog key passed as an argument or a pair's key sets it; a
    // key that is only read or quoted is followed by `)`
    val scratch =
      """createTempDirectory|"spark\.sql\.catalog\.[^"\n]*"\s*(,|->)""".r
    val users = sources.collect {
      case (p, text) if scratch.findFirstIn(comment.replaceAllIn(text, "")).nonEmpty =>
        p.getFileName.toString
    }
    assert(users == Seq("Scratch.scala"))
  }

  test("no source hard-codes a local[<n>] master") {
    val pinned = """local\[\d+\]""".r
    val hits = sources.collect {
      case (p, text) if pinned.findFirstIn(text).nonEmpty => p.toString
    }
    assert(hits.isEmpty, s"hard-coded local[<n>] in ${hits.mkString(", ")}")
  }
}
