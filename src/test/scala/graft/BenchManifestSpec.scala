package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * Keeps `tools/expected_queries.txt` — the board-coverage manifest the
 * Bench main checks its emitted board against — in lockstep with the
 * source tree. The manifest lives ON DISK (not in this JVM) precisely
 * so a bench run from a stale compiled tree diverges from the fresh
 * checkout's manifest and fails loudly; this spec is the other half of
 * that contract: adding or renaming a SparkEntry query without
 * regenerating the manifest fails here, with the exact lines to add.
 */
class BenchManifestSpec extends AnyFunSuite {

  test("expected_queries.txt matches SparkEntry.queries exactly") {
    val f = new java.io.File("tools/expected_queries.txt")
    assert(f.isFile, s"missing manifest ${f.getAbsolutePath}")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val manifest =
      try src.getLines().map(_.trim).filter(_.nonEmpty).toVector
      finally src.close()
    assert(manifest == manifest.sorted, "manifest must be sorted")
    val tree = SparkEntry.queries.keySet
    val missing = tree -- manifest.toSet
    val stale = manifest.toSet -- tree
    assert(missing.isEmpty && stale.isEmpty,
      s"regenerate tools/expected_queries.txt — " +
        s"add: ${missing.toSeq.sorted.mkString(",")} " +
        s"remove: ${stale.toSeq.sorted.mkString(",")}")
  }

  test("Bench rejects an unknown query name before building a session") {
    val before = org.apache.spark.sql.SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](
      Bench.main(Array("q_pipeline", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!e.getMessage.contains("q_pipeline"))
    assert(org.apache.spark.sql.SparkSession.getDefaultSession == before)
  }

  test("README's Layout block names every main and no main that is gone") {
    val sources = scala.util.Using.resource(
        Files.walk(Path.of("src/main/scala/graft")))(_.iterator.asScala.toSeq)
      .filter(_.toString.endsWith(".scala")).map(Files.readString)
    // each `def main(` belongs to the last `object` declared above it
    val objectDecl = """(?m)^\s*object\s+(\w+)""".r
    val objects = sources.flatMap(objectDecl.findAllMatchIn(_).map(_.group(1))).toSet
    val mains = sources.flatMap { text =>
      """def main\(""".r.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.take(m.start)).toSeq.last.group(1)
      }
    }.toSet
    assert(mains.contains("Bench") && mains.contains("Verify"), mains)

    val readme = Files.readString(Path.of("README.md"))
    val layout = readme.drop(readme.indexOf("## Layout")).split("```")(1)
    // top-level entries: two-space indent, capitalized (`Name` or `A/B`)
    val named = """(?m)^  ([A-Z][\w/]*)""".r.findAllMatchIn(layout)
      .flatMap(_.group(1).split('/')).toSet
    assert((mains -- named).isEmpty,
      s"README Layout misses mains: ${(mains -- named).toSeq.sorted.mkString(",")}")
    assert((named -- objects).isEmpty,
      s"README Layout names what no longer exists: " +
        (named -- objects).toSeq.sorted.mkString(","))
  }
}
