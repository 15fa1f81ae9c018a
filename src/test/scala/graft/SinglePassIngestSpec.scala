package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the daily tick single-pass: the pipelines declare their source
  * types (`Pipelines.SourceTypes`), so a schema-inference read, which
  * scans each file once more before the sinks do, fails here. */
class SinglePassIngestSpec extends AnyFunSuite {

  test("no inferSchema under graft/pipelines") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/pipelines")
    val walk = java.nio.file.Files.walk(root)
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty)
    assert(sources.filter(p => new String(java.nio.file.Files.readAllBytes(p),
      "UTF-8").contains("inferSchema")).map(_.toString) === Nil)
  }
}
