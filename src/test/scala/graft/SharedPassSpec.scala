package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.SharedPass

/** The shared-pass list against the code it describes: its consumers
  * against the declared registry and the benchmark's own copy of the
  * consumer set, its memo tags against every memo call site. */
class SharedPassSpec extends AnyFunSuite {
  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
  private val quoted = "\"([^\"]+)\"".r

  test("the consumer sets' union equals the benchmark's MemoConsumers") {
    val src = read(Paths.get("cdcbench/src/main/scala/cdcbench/Queries.scala"))
    val body = """(?s)val MemoConsumers: Set\[String\] = Set\((.*?)\)""".r
      .findFirstMatchIn(src).getOrElse(fail("MemoConsumers not found"))
      .group(1)
    val theirs = quoted.findAllMatchIn(body).map(_.group(1)).toSet
    assert(SharedPass.all.flatMap(_.consumers).toSet === theirs)
  }

  test("every consumer is a declared query") {
    val missing = SharedPass.all.flatMap(_.consumers).toSet --
      SparkEntry.queries.keySet
    assert(missing.isEmpty)
  }

  test("memo tags are disjoint across passes and cover every memo call site") {
    val tags = SharedPass.all.flatMap(_.memoTags)
    assert(tags.distinct === tags, "a tag may belong to one pass only")
    val call = """Memo\.get\(\s*"([^"]+)"""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val used = files.flatMap(f => call.findAllMatchIn(read(f)).map(_.group(1)))
      .toSet
    assert(used.nonEmpty)
    assert(used === tags.toSet)
  }
}
