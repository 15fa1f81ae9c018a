package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Warehouse}

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def changeLog = Seq(
    (1L, ts("2024-01-01 00:00:00"), "bronze"),
    (1L, ts("2024-03-01 00:00:00"), "silver"),
    (1L, ts("2024-06-01 00:00:00"), "gold"),
    (2L, ts("2024-02-01 00:00:00"), "bronze")
  ).toDF("cust", "at", "tier")

  test("scd2 chains intervals per key and flags the open one") {
    val out = rows(Warehouse.scd2(changeLog, Seq("cust"),
        Seq(col("at").asc), "at")
      .select("cust", "tier", "valid_to", "is_current")
      .orderBy("cust", "valid_from"))
    assert(out == Seq(
      Seq(1L, "bronze", ts("2024-03-01 00:00:00"), false),
      Seq(1L, "silver", ts("2024-06-01 00:00:00"), false),
      Seq(1L, "gold", null, true),
      Seq(2L, "bronze", null, true)))
  }

  test("scd2 tie-break ordering makes boundaries deterministic") {
    val tied = Seq((1L, ts("2024-01-01 00:00:00"), 10L, "a"),
      (1L, ts("2024-01-01 00:00:00"), 20L, "b")).toDF("k", "at", "seq", "v")
    val out = rows(Warehouse.scd2(tied, Seq("k"),
        Seq(col("at").asc, col("seq").asc), "at")
      .select("v", "is_current").orderBy("seq"))
    // same timestamp: seq decides which row is the open interval
    assert(out == Seq(Seq("a", false), Seq("b", true)))
  }

  private def base = Seq(
    (1L, 1L, "keep-me", 100.0),
    (2L, 2L, "stale", 50.0),
    (3L, 3L, "to-delete", 75.0)
  ).toDF("k", "seq", "v", "x")

  private def changes = Seq(
    (2L, 5L, "updated", 60.0),   // newer seq -> replaces base row
    (2L, 4L, "older-change", 55.0), // loses to seq=5 within the stream
    (3L, 9L, "DEL", 0.0),        // tombstone -> key 3 drops out
    (4L, 7L, "inserted", 20.0)   // new key -> appears
  ).toDF("k", "seq", "v", "x")

  test("applyCdc: latest change wins, tombstones delete, base survives untouched keys") {
    val out = rows(Warehouse.applyCdc(base, changes, Seq("k"), Seq("seq"),
      col("v") === "DEL").select("k", "v").orderBy("k"))
    assert(out == Seq(Seq(1L, "keep-me"), Seq(2L, "updated"),
      Seq(4L, "inserted")))
  }

  test("applyCdc: a change at the base row's own seq still wins (stream is newer)") {
    val tied = Seq((1L, 1L, "from-stream", 0.0)).toDF("k", "seq", "v", "x")
    val out = rows(Warehouse.applyCdc(base, tied, Seq("k"), Seq("seq"),
      lit(false)).filter($"k" === 1L).select("v"))
    assert(out == Seq(Seq("from-stream")))
  }

  test("applyCdc: a STALE replayed change (lower seq) cannot override") {
    // base k=1 is at seq=1; a replay captured before the snapshot
    // carries seq=0 — latest-wins is sequence-first, so the base row
    // survives (absolute stream precedence would corrupt the table on
    // any at-least-once replay of an old changelog segment)
    val stale = Seq((1L, 0L, "stale-replay", 0.0)).toDF("k", "seq", "v", "x")
    val out = rows(Warehouse.applyCdc(base, stale, Seq("k"), Seq("seq"),
      lit(false)).filter($"k" === 1L).select("v"))
    assert(out == Seq(Seq("keep-me")))
  }

  test("weightedSample keeps everything at weight>=1 and nothing at weight 0") {
    val docs = (1L to 50L).toDF("id")
    assert(Curation.weightedSample(docs, col("id"), lit(1.0)).count() == 50)
    assert(Curation.weightedSample(docs, col("id"), lit(1.5)).count() == 50)
    assert(Curation.weightedSample(docs, col("id"), lit(0.0)).count() == 0)
  }

  test("weightedSample decision is a pure function of the id (partition-stable)") {
    val docs = (1L to 200L).toDF("id")
    val w = col("id") / lit(300.0)
    val a = rows(Curation.weightedSample(docs, col("id"), w).orderBy("id")).flatten
    val b = rows(Curation.weightedSample(docs.repartition(7), col("id"), w)
      .orderBy("id")).flatten
    assert(a == b && a.nonEmpty && a.size < 200)
  }

  test("snapshotDiff classifies added/removed/changed with column detail") {
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "x")
    val v2 = Seq((1L, "a", 10.0), (2L, "B", 21.0), (4L, "d", 40.0))
      .toDF("k", "s", "x")
    val d = Warehouse.snapshotDiff(v1, v2, Seq("k")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getSeq[String](2).toSet)))
      .toMap
    assert(d(1L) === (("unchanged", Set.empty[String])))
    assert(d(2L) === (("changed", Set("s", "x"))))
    assert(d(3L) === (("removed", Set.empty[String])))
    assert(d(4L) === (("added", Set.empty[String])))
  }

  test("snapshotDiff: null-to-value transitions count as changes") {
    val v1 = Seq((1L, Option.empty[String]), (2L, Some("y")))
      .toDF("k", "s")
    val v2 = Seq((1L, Some("now-set")), (2L, Option.empty[String]))
      .toDF("k", "s")
    val d = Warehouse.snapshotDiff(v1, v2, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "changed", 2L -> "changed"))
  }

  test("compact merges small files to the target count, rows intact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val path = s"$tmp/t"
    (1L to 1000L).toDF("id").repartition(20)
      .write.parquet(path) // 20 small files
    def parquetFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles == 20)
    val total = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target = half the table -> 2 output files
    val n = Warehouse.compact(spark, path, targetFileBytes = total / 2 + 1)
    assert(n == 2 && parquetFiles == 2)
    val back = spark.read.parquet(path)
    assert(back.count() == 1000 &&
      rows(back.agg(sum("id"))).head.head == 500500L)
  }

  test("writeJsonlShards: stable shard membership, jsonl round-trip") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val docs = (1L to 300L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val written =
      Warehouse.writeJsonlShards(docs, "doc_id", s"$tmp/corpus", nShards = 4)
    // the write itself reports the doc count (an Observation on the
    // job — the caller never re-reads its own output to count it)
    assert(written == 300L)
    val back = spark.read.json(s"$tmp/corpus")
    assert(back.count() == 300)
    // the historical one-byte mapping is pinned for n <= 256:
    // md5("1") starts c4 = 196, so doc 1 lands in shard 196 % 4 = 0
    assert(back.where(col("doc_id") === 1).select("shard")
      .head.getInt(0) == 0)
    assert(back.select("shard").distinct().count() == 4)
    // shard dirs exist on disk as partition directories
    val dirs = new java.io.File(s"$tmp/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("shard="))
    assert(dirs.length == 4)
    // membership is md5-stable: rewriting a shuffled input produces the
    // same doc->shard mapping
    Warehouse.writeJsonlShards(docs.repartition(7), "doc_id",
      s"$tmp/corpus2", nShards = 4)
    val again = spark.read.json(s"$tmp/corpus2")
    assert(rows(back.select("doc_id", "shard").orderBy("doc_id")) ==
      rows(again.select("doc_id", "shard").orderBy("doc_id")))
    // shard counts past the old 256 cap (a 100 TB export needs the
    // count to grow with the data): in range, and just as md5-stable
    Warehouse.writeJsonlShards(docs, "doc_id", s"$tmp/big1",
      nShards = 1000)
    Warehouse.writeJsonlShards(docs.repartition(5), "doc_id",
      s"$tmp/big2", nShards = 1000)
    val b1 = spark.read.json(s"$tmp/big1")
    assert(b1.count() == 300 &&
      b1.agg(max("shard")).head.getInt(0) < 1000 &&
      b1.agg(min("shard")).head.getInt(0) >= 0)
    assert(rows(b1.select("doc_id", "shard").orderBy("doc_id")) ==
      rows(spark.read.json(s"$tmp/big2")
        .select("doc_id", "shard").orderBy("doc_id")))
  }
}
