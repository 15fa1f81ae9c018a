package graft

import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** Keeps the curation micro-batch O(batch) in files and Spark jobs: a
  * batch on top of a standing store writes a few index files however
  * many band-hash buckets it touches, lists no directory tree in a
  * Spark job, starts no more jobs than it did when this spec was
  * last measured, and releases every checkpoint it took. */
class CurationBatchCostSpec extends SparkSpec {
  import spark.implicits._

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
    val jobs = jobsStartedBy(ingest(2))
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
    assert(jobs.filter(_.startsWith("Listing leaf files")) === Nil)
    // the count measured in this session shape (local[2], 2 shuffle
    // partitions); each step of the batch names its jobs
    val perStep = jobs.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy(_._1).map { case (s, n) => s"$s: $n" }.mkString(", ")
    assert(jobs.size <= 22, s"${jobs.size} jobs ($perStep)")
  }
}
