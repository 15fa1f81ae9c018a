package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the program's entry points few and on one session shape: a
  * new `main` or a private `SparkSession.builder` copy fails here. */
class EntryPointsSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")
  private val sources: Seq[(String, String)] = {
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toList
    finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(sources.nonEmpty)
    assert(sources.collect {
      case (f, src) if src.contains("SparkSession.builder") => f
    } === Seq("graft/GraftSession.scala"))
  }

  test("only the five entry points define a main") {
    val mains = sources.collect {
      case (f, src) if src.contains("def main(") ||
        src.matches("(?s).*extends\\s+App\\b.*") => f
    }.toSet
    assert(mains === Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/Explain.scala", "graft/pipelines/RunAll.scala",
      "graft/streaming/LifecycleDemo.scala"))
  }
}
