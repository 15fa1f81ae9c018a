package graft

import org.apache.spark.sql.DataFrame

import graft.ops.Dedup
import graft.streaming.Streaming

/** MinHash admission ([[Dedup.admitAgainstIndex]] and the streaming
  * index merge) against a brute-force oracle over the collected band
  * rows: a document is admitted iff none of its band keys is in the
  * standing index and no lower-id batch document shares one of its
  * keys. */
class AdmissionParitySpec extends SparkSpec {
  import spark.implicits._

  private type Key = (Int, String)

  private lazy val fixture: Seq[(Long, String)] =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where($"text".isNotNull).orderBy("doc_id")
      .select("doc_id", "text").as[(Long, String)].take(60).toSeq

  private def frame(docs: Seq[(Long, String)]): DataFrame =
    docs.map { case (id, t) => (id, Option(t)) }.toDF("doc_id", "text")

  private def bandKeys(docs: DataFrame): Map[Long, Set[Key]] =
    Dedup.minhashIndex(docs, "text", "doc_id")
      .select("id", "band_idx", "band_hash").as[(Long, Int, String)]
      .collect().toSeq.groupBy(_._1)
      .map { case (id, rs) => id -> rs.map(r => (r._2, r._3)).toSet }

  private def oracle(batch: Seq[(Long, String)],
      index: Set[Key]): Set[Long] = {
    val keys = bandKeys(frame(batch))
    batch.map(_._1).filter { id =>
      val mine = keys.getOrElse(id, Set.empty[Key])
      mine.forall(k => !index(k)) && !keys.exists {
        case (other, theirs) => other < id && (theirs & mine).nonEmpty
      }
    }.toSet
  }

  private def admitted(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  /** The standing documents, and a batch holding a store hit (1000),
    * a case/space variant of a store document (1001), an exact
    * in-batch duplicate (1002), an in-batch near-dup (1003: a text with
    * a word appended), null-text documents with the highest and the
    * lowest id (1004, -1) and fresh documents. */
  private lazy val (store, batch) = {
    val (s, fresh) = fixture.splitAt(30)
    (s, fresh ++ Seq((1000L, s(3)._2),
      (1001L, "  " + s(7)._2.toUpperCase + " "), (1002L, fresh(2)._2),
      (1003L, fresh(4)._2 + " appendix"), (1004L, null), (-1L, null)))
  }

  test("admitAgainstIndex matches the brute-force oracle with a " +
      "standing index: store hits, variants and in-batch dups go, " +
      "null-text documents stay") {
    val index = Dedup.minhashIndex(frame(store), "text", "doc_id")
    val indexKeys = bandKeys(frame(store)).values.flatten.toSet
    val got = admitted(Dedup.admitAgainstIndex(frame(batch), "text",
      "doc_id", index))
    val want = oracle(batch, indexKeys)
    assert(got === want)
    // the oracle itself turns away the cases the batch was built with
    assert(!want(1000L) && !want(1001L), "store hits were admitted")
    assert(!want(1002L), "the exact in-batch duplicate was admitted")
    assert(want(1004L) && want(-1L), "null-text documents were turned away")
  }

  test("admitAgainstIndex matches the brute-force oracle against an " +
      "empty standing index") {
    val index = Dedup.minhashIndex(frame(store).limit(0), "text", "doc_id")
    val got = admitted(Dedup.admitAgainstIndex(frame(batch), "text",
      "doc_id", index))
    assert(got === oracle(batch, Set.empty))
    assert(got(1000L) && got(1001L), "no store, yet store hits went")
    assert(!got(1002L), "the exact in-batch duplicate was admitted")
  }

  test("the streaming index merge admits the oracle's set and indexes " +
      "exactly the admitted documents' band rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-adm").toString
    val first = Streaming.mergeDedupIndexBatch(frame(store), "text",
      "doc_id", s"$dir/index", batchId = 0L)
    assert(admitted(first) === oracle(store, Set.empty))
    val indexKeys = Streaming.readDedupIndex(spark, s"$dir/index")
      .select("band_idx", "band_hash").as[(Int, String)].collect().toSet
    val second = admitted(Streaming.mergeDedupIndexBatch(frame(batch),
      "text", "doc_id", s"$dir/index", batchId = 1L))
    assert(second === oracle(batch, indexKeys))
    val written = Streaming.readDedupIndex(spark, s"$dir/index")
      .where($"batch" === 1).select("id", "band_idx", "band_hash")
      .as[(Long, Int, String)].collect().toSet
    val expected = bandKeys(frame(batch)).toSeq
      .filter { case (id, _) => second(id) }
      .flatMap { case (id, ks) => ks.map(k => (id, k._1, k._2)) }.toSet
    assert(written === expected)
  }
}
