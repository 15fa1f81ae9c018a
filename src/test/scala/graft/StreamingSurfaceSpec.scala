package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps `object Streaming` down to the curation store: a public def
  * that nothing outside `Streaming.scala` calls — no registry query,
  * pipeline, entry point or perfbench workload — fails here
  * unless it is one of the curation store's lifecycle entry points
  * named below. A caller is a qualified `Streaming.<name>` outside
  * comments and string literals. */
class StreamingSurfaceSpec extends AnyFunSuite {

  /** Curation-store readers, writers and maintenance passes that users
    * and the specs drive directly but no program entry point calls. */
  private val lifecycle = Set(
    "compactCurationCorpus", "compactDedupIndex", "deconAudit",
    "decontaminateAgainstIndex", "dropSnapshot", "fsckStore",
    "listSnapshots", "readBenchmarkNgrams", "readCurationTombstones",
    "readDedupIndex", "readSnapshot", "readWordHistogram",
    "rebuildCurationStats")

  private val literalOrComment =
    """(?s)/\*.*?\*/|//[^\n]*|\"{3}.*?\"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'""".r

  /** Source text with comments and string literals blanked out. */
  private def code(src: String): String =
    literalOrComment.replaceAllIn(src, _ => "")

  /** Source text with only the comments blanked out. */
  private def codeAndLiterals(src: String): String =
    literalOrComment.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) ""
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  private def scalaFiles(dir: String): Seq[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  private val streamingFile = java.nio.file.Paths.get(
    "src/main/scala/graft/streaming/Streaming.scala")

  private val publicDefs: Set[String] = {
    val src = code(read(streamingFile))
    "(?m)^  def (\\w+)".r
      .findAllMatchIn(src.substring(src.indexOf("object Streaming")))
      .map(_.group(1)).toSet
  }

  test("every public def of Streaming has a caller or is a named " +
      "lifecycle entry point") {
    val callers = (scalaFiles("src/main/scala") ++
        scalaFiles("perfbench/harness"))
      .filterNot(_.endsWith(streamingFile))
      .map(p => code(read(p))).mkString("\n")
    val called = "\\bStreaming\\s*\\.\\s*(\\w+)".r
      .findAllMatchIn(callers).map(_.group(1)).toSet
    assert(publicDefs.nonEmpty && called.nonEmpty)
    assert((publicDefs -- called -- lifecycle).toSeq.sorted === Nil)
  }

  test("every named lifecycle entry point is still a public def") {
    assert((lifecycle -- publicDefs).toSeq.sorted === Nil)
  }

  test("the store lease reads no graft.lease.* key but " +
      "assumeAtomicCreate, and streaming/ loads no class by name") {
    val main = scalaFiles("src/main/scala")
      .map(p => p -> codeAndLiterals(read(p)))
    val otherKeys = for {
      (p, src) <- main
      m <- "graft\\.lease\\.(?!assumeAtomicCreate\\b)[\\w.]*".r
        .findAllMatchIn(src)
    } yield s"${p.getFileName}: ${m.matched}"
    assert(otherKeys === Nil)
    val forName = main.collect {
      case (p, src) if p.toString.contains("/streaming/") &&
          src.contains("Class.forName") => p.getFileName.toString
    }
    assert(forName === Nil)
  }
}
