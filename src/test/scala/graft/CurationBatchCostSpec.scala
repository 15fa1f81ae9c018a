package graft

import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import scala.jdk.CollectionConverters._

/** Keeps the curation micro-batch O(batch) in files and Spark jobs: a
  * batch on top of a standing store writes a few index files however
  * many band-hash buckets it touches, touches no stats file but its own
  * parts and the mark, lists no directory tree in a Spark job, starts
  * no more jobs than it did when this spec was last measured, and
  * releases every checkpoint it took. */
class CurationBatchCostSpec extends SparkSpec {
  import spark.implicits._

  /** Every file under `dir`, by relative path, with its mtime and size. */
  private def files(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        (p.toFile.lastModified, p.toFile.length)).toMap
    finally walk.close()
  }

  test("a curation batch after two others writes a few index files, " +
      "starts no listing job and no more jobs than before") {
    val root = java.nio.file.Files.createTempDirectory("graft-cost").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val slices = all.grouped((all.length + 2) / 3).toSeq
    def ingest(i: Int): Unit = Streaming.curationIngestBatch(
      slices(i).toIndexedSeq.toDF("doc_id", "text"), "text", "doc_id", root,
      i.toLong, minQuality = 0.0, lenLo = 0.0, lenHi = 1000.0,
      numHashes = 8, bands = 4, shingleSize = 3)
    ingest(0)
    ingest(1)
    def stored(): Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = stored()
    val statsBefore = files(s"$root/stats")
    val (jobStarts, lateCompiles) = jobStartsOf(ingest(2))
    val jobs = jobStarts.map(_._1)
    // no RDD the batch stored outlives it
    assert(stored() -- before === Set.empty,
      "the batch left its checkpoints pinned")
    val parts = new java.io.File(s"$root/index/batch=2").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val buckets = Streaming.readDedupIndex(spark, s"$root/index")
      .where(col("batch") === 2).select("bh").distinct().count()
    assert(parts.nonEmpty && parts.length < buckets &&
      parts.length <= spark.sparkContext.defaultParallelism,
      s"${parts.length} index files for $buckets buckets")
    // under stats/ the batch adds its own parts, one file each, and
    // rewrites the mark; no standing part is read back and rewritten
    val statsAfter = files(s"$root/stats")
    val touched = statsAfter.keySet.filter(p =>
      !statsBefore.get(p).contains(statsAfter(p)))
    assert(statsBefore.keySet -- statsAfter.keySet === Set.empty)
    assert(touched.forall(p => p.matches("(hist|lens)/batch=2/.*") ||
      p.matches("\\.?_batch(\\.crc)?")), touched.toSeq.sorted)
    for (part <- Seq("hist", "lens"))
      assert(touched.count(p => p.startsWith(s"$part/batch=2/") &&
        p.endsWith(".parquet")) === 1, s"$part: ${touched.toSeq.sorted}")
    assert(jobs.filter(_.startsWith("Listing leaf files")) === Nil)
    // the counts measured in this session shape (local[2], 2 shuffle
    // partitions); each step of the batch names its jobs
    val perStep = jobStarts.groupBy(_._1).view
      .mapValues(js => (js.size, js.map(_._2).sum)).toSeq.sortBy(_._1)
      .map { case (s, (n, c)) => s"$s: $n jobs, $c compiles" }
      .mkString(", ") + s"; after the last job: $lateCompiles compiles"
    assert(jobs.size <= 19, s"${jobs.size} jobs ($perStep)")
    assert(jobs.count(_ == "stats") <= 5, s"stats step ($perStep)")
  }
}
