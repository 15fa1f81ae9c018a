package graft

import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** The curation stats store keeps one aggregate per ingest batch and
  * folds them on read: through crash replays and every maintenance
  * pass, its folded word histogram and length buckets equal a
  * from-scratch aggregation of the clean corpus, and a store written
  * in the older flat layout stays readable and takes new batches. */
class CurationStatsStoreSpec extends SparkSpec {
  import spark.implicits._

  private val docs = IndexedSeq(
    "the river rises slowly through the spring and floods the lower " +
      "meadows before the first haying",
    "glass furnaces along the coast burned driftwood and kelp ash to " +
      "melt sand into pale green bottles",
    "the survey marked every boundary stone and recorded the field " +
      "names the parish had used for centuries",
    "terraced vineyards stepped down the valley toward the slow bend " +
      "of the river under a late sun",
    "cartwrights seasoned elm for a full year before turning hubs that " +
      "would outlast the iron tyres",
    // no ascii word: it counts in the length buckets only
    "ÉÉÉÉ ÖÖÖÖ ÜÜÜÜ ÄÄÄÄ çççç",
    "nine grey herons waited motionless along the frozen millpond " +
      "margin at first light",
    "red kites circled the high chalk downs hunting voles between the " +
      "gorse and the hawthorn",
    "black barges slid beneath the iron bridge upstream loaded with " +
      "coal for the brewery furnaces")

  private def ingest(root: String, batchId: Long, ids: Int*): Unit =
    Streaming.curationIngestBatch(
      ids.map(i => (i.toLong, docs(i))).toDF("doc_id", "text"), "text",
      "doc_id", root, batchId, 0.0, 0.0, 1000.0, 8, 4, 3)

  private val parts = Seq(Streaming.HistPart, Streaming.LensPart)

  /** The folded `hist` and `lens` of the store. */
  private def folded(root: String): Seq[Set[Seq[Any]]] =
    parts.map(p => Streaming.readStatsPart(spark, s"$root/stats", p)
      .collect().map(_.toSeq).toSet)

  /** `hist` and `lens` aggregated from scratch over the clean corpus
    * batches up to `upTo`. */
  private def scratch(root: String,
      upTo: Long = Long.MaxValue): Seq[Set[Seq[Any]]] = {
    val clean = Streaming.readCleanCorpus(spark, root)
      .where(col("batch") <= upTo)
    Seq(graft.ops.Bpe.wordHistogram(clean, "text"),
      clean.groupBy(graft.ops.Profiling.psiBucket(
          length(col("text")).cast("double"), 0.0, 1000.0, 10)
          .as("bucket"))
        .agg(count(lit(1)).as("n")))
      .map(_.collect().map(_.toSeq).toSet)
  }

  /** Names under `stats/<part>/`, `_` and `.` files left out. */
  private def entries(root: String, part: String): Set[String] =
    new java.io.File(s"$root/stats/$part").list().toSet
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  private def writeMark(root: String, v: Long): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/stats/_batch"),
      v.toString.getBytes("UTF-8"))
    new java.io.File(s"$root/stats/._batch.crc").delete()
    ()
  }

  test("stats parity: per-batch parts fold to a from-scratch " +
      "aggregation through a crash before the mark and its replay, a " +
      "subtract, a rebuild and a compaction fold") {
    val root = java.nio.file.Files.createTempDirectory("graft-stats")
      .toString
    ingest(root, 0L, 0, 1)
    ingest(root, 1L, 2)
    ingest(root, 2L, 3, 5)
    for (p <- parts) {
      assert(entries(root, p.name) === Set("batch=0", "batch=1", "batch=2"))
      assert(new java.io.File(s"$root/stats/${p.name}/batch=2").list()
        .count(_.endsWith(".parquet")) === 1)
    }
    assert(folded(root) === scratch(root))
    // a crash between batch 3's parts and its mark: readers skip the
    // uncommitted parts, fsck names them, and the replay commits them
    ingest(root, 3L, 4, 6)
    writeMark(root, 2L)
    assert(folded(root) === scratch(root, upTo = 2L))
    assert(Streaming.fsckCurationStore(spark, root)
      .select("area", "status", "path").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getString(2).stripPrefix(s"$root/"))).toSet === Set(
      ("stats", "warn", "stats/hist/batch=3"),
      ("stats", "warn", "stats/lens/batch=3")))
    ingest(root, 3L, 4, 6)
    assert(folded(root) === scratch(root))
    assert(Streaming.fsckCurationStore(spark, root).isEmpty)
    // a sweep tombstones doc 2; the subtract folds the store
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, docs(2))).toDF("bid", "text"), "text", s"$root/bench",
      0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, root, "text", "doc_id",
      s"$root/bench") === 1L)
    assert(folded(root) !== scratch(root))
    assert(Streaming.subtractTombstonedStats(spark, root) === 1L)
    assert(parts.forall(p => entries(root, p.name) === Set("batch=-1")))
    assert(folded(root) === scratch(root))
    ingest(root, 4L, 7)
    assert(folded(root) === scratch(root))
    Streaming.rebuildCurationStats(spark, root, "text")
    assert(parts.forall(p => entries(root, p.name) === Set("batch=-1")))
    assert(folded(root) === scratch(root))
    ingest(root, 5L, 8)
    assert(entries(root, "hist") === Set("batch=-1", "batch=5"))
    Streaming.compactCurationCorpus(spark, root)
    assert(parts.forall(p => entries(root, p.name) === Set("batch=-1")))
    assert(folded(root) === scratch(root))
    assert(Streaming.fsckCurationStore(spark, root)
      .where(col("status") =!= "info").isEmpty)
  }

  test("a stats store in the flat layout stays readable, and its next " +
      "batch moves it to the per-batch layout") {
    val root = java.nio.file.Files.createTempDirectory("graft-flat")
      .toString
    ingest(root, 0L, 0, 1)
    ingest(root, 1L, 2, 5)
    // rewrite each part as one flat table of summed counts — the
    // layout a whole-store merge per batch left
    val want = scratch(root)
    for (p <- parts) {
      val rows = Streaming.readStatsPart(spark, s"$root/stats", p)
        .collect().toSeq
      val dir = new java.io.File(s"$root/stats/${p.name}")
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(); ()
      }
      rmr(dir)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), p.schema)
        .repartition(2).write.parquet(dir.toString)
      assert(entries(root, p.name).forall(_.endsWith(".parquet")))
    }
    assert(entries(root, "hist").size === 2)
    assert(folded(root) === want)
    assert(Streaming.fsckCurationStore(spark, root).isEmpty)
    // a move into batch=-1 cut short after one file reads the same
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val first = entries(root, "hist").min
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/stats/hist/batch=-1"))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$root/stats/hist/$first"),
      new org.apache.hadoop.fs.Path(s"$root/stats/hist/batch=-1/$first")))
    assert(folded(root) === want)
    ingest(root, 2L, 3)
    assert(entries(root, "hist") === Set("batch=-1", "batch=2"))
    assert(entries(root, "lens") === Set("batch=-1", "batch=2"))
    assert(folded(root) === scratch(root))
    assert(Streaming.readStatsUnits(spark, s"$root/stats") ===
      Some((0.0, 1000.0)))
  }
}
