package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import org.apache.hadoop.fs.{Path => HPath}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("curation ops run unchanged in a stream: quality gate + chunking") {
    // the row-local curation stages (normalize, quality score, chunk)
    // are plain expression trees, so the same code paths serve batch and
    // readStream with no re-implementation — the unified-pipeline claim
    import graft.ops.{Curation, Text}
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
      .withColumn("norm", Curation.normalizeText(col("text")))
      .filter(Text.tokenCount(col("norm")) >= 3)
    val chunks = Curation.chunkTokens(docs, "doc_id", "norm",
      chunkSize = 4, stride = 3)
    val q = chunks.writeStream.format("memory").queryName("cur_chunks")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "The QUICK brown fox, jumps over the lazy dog!!"), // 9 tokens
        (2L, "too short"),                                      // filtered
        (3L, "Alpha beta gamma delta"))                // starts 0,3 -> 2
      q.processAllAvailable()
      val out = spark.table("cur_chunks")
      // doc 1: starts 0,3,6 -> 3 chunks; doc 2 dropped; doc 3: 2 chunks
      assert(out.filter($"doc_id" === 1).count() === 3)
      assert(out.filter($"doc_id" === 2).count() === 0)
      assert(out.filter($"doc_id" === 3).count() === 2)
      // chunk digests identical to the batch path on the same input
      val batch = Curation.chunkTokens(
        Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "norm"),
        "doc_id", "norm", chunkSize = 4, stride = 3)
      assert(rows(out.filter($"doc_id" === 3).select("chunk_md5")
          .orderBy("chunk_md5")) ==
        rows(batch.select("chunk_md5").orderBy("chunk_md5")))
    } finally q.stop()
  }

  test("curationIngestSink: gate -> dedup -> payload -> stats in one " +
      "exactly-once pass; crash-replay is a no-op end to end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val junk = "@@@@ #### !!!! %%%% @@@@ #### !!!! %%%%"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    // threshold sits between the junk score and the prose scores
    val scores = Seq(junk, prose1, prose2, prose3).toDF("t")
      .select(graft.ops.Text.qualityScore(col("t")))
      .collect().map(_.getDouble(0))
    val minQ = (scores.head + scores.tail.min) / 2
    assert(scores.head < minQ && scores.tail.forall(_ > minQ))
    val b1 = Seq((1L, prose1), (2L, junk), (3L, prose2))
    val b2 = Seq((10L, prose1 + " x"), // near-dup of admitted 1 -> out
      (11L, prose3),                   // novel -> admitted
      (12L, junk))                     // gated out before dedup
    val in = MemoryStream[(Long, String)]
    val q = Streaming.curationIngestSink(in.toDF().toDF("doc_id", "text"),
      "text", "doc_id", tmp, s"$tmp/ckpt", minQuality = minQ).start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      val corpus = Streaming.readCurationCorpus(spark, tmp)
      val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L, 11L),
        s"gate+dedup admitted the wrong set: $ids")
      // the stats stores saw EXACTLY the admitted corpus
      val hist = Streaming.readWordHistogram(spark, s"$tmp/stats")
      val expect = graft.ops.Bpe.wordHistogram(
        corpus.select("doc_id", "text"), "text")
      assert(hist.count() === expect.count())
      assert(hist.unionAll(expect).distinct().count() === expect.count())
      // end-to-end crash replay: re-running batch 1 against the same
      // pre-state rewrites identical corpus/index and skips the stats
      val before = (corpus.collect().map(_.toSeq).toSet,
        hist.collect().map(_.toSeq).toSet)
      Streaming.curationIngestBatch(b2.toDF("doc_id", "text"), "text",
        "doc_id", tmp, 1L, minQ, 0.0, 1000.0, 8, 4, 3)
      val after = (Streaming.readCurationCorpus(spark, tmp)
        .collect().map(_.toSeq).toSet,
        Streaming.readWordHistogram(spark, s"$tmp/stats")
          .collect().map(_.toSeq).toSet)
      assert(after === before)
      // corpus + index compaction: payload rows, admitted ids and the
      // stats stores are identical; a post-compaction ingest appends
      val payloadPre = Streaming.readCurationCorpus(spark, tmp)
        .drop("batch").collect().map(_.toSeq).toSet
      Streaming.compactCurationCorpus(spark, tmp)
      Streaming.compactDedupIndex(spark, s"$tmp/index")
      assert(Streaming.readCurationCorpus(spark, tmp)
        .drop("batch").collect().map(_.toSeq).toSet === payloadPre)
      assert(Streaming.readWordHistogram(spark, s"$tmp/stats")
        .collect().map(_.toSeq).toSet === before._2)
      // replay of the carried latest batch (1) after compaction: the
      // corpus and stats replay to identical state (index batch dir
      // was carried, not folded; stats skip at the mark)
      Streaming.curationIngestBatch(b2.toDF("doc_id", "text"), "text",
        "doc_id", tmp, 1L, minQ, 0.0, 1000.0, 8, 4, 3)
      assert(Streaming.readCurationCorpus(spark, tmp)
        .drop("batch").collect().map(_.toSeq).toSet === payloadPre)
      val prose4 = "terraced vineyards stepped down the valley toward " +
        "the slow bend of the river"
      Streaming.curationIngestBatch(Seq((20L, prose4))
        .toDF("doc_id", "text"), "text", "doc_id", tmp, 2L, minQ,
        0.0, 1000.0, 8, 4, 3)
      assert(Streaming.readCurationCorpus(spark, tmp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
        === Set(1L, 3L, 11L, 20L))
    } finally q.stop()
  }

  test("ingest sinks survive a degenerate first batch: a fully " +
      "gated-out / shingle-less / null-hash batch 0 writes NO batch " +
      "dir and the next batch proceeds (no schema-inference wedge)") {
    // curation: batch 0 entirely below the quality gate
    val tmpC = java.nio.file.Files.createTempDirectory("graft-gate0").toString
    val junk = "@@@@ #### !!!! %%%% @@@@ #### !!!! %%%%"
    val prose = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val Array(qJunk, qProse) = Seq(junk, prose).toDF("t")
      .select(graft.ops.Text.qualityScore(col("t")))
      .collect().map(_.getDouble(0))
    val minQ = (qJunk + qProse) / 2
    Streaming.curationIngestBatch(Seq((1L, junk)).toDF("doc_id", "text"),
      "text", "doc_id", tmpC, 0L, minQ, 0.0, 1000.0, 8, 4, 3)
    // no effect may exist: an index/batch=0 holding only _SUCCESS
    // would fail parquet schema inference on batch 1's standing read
    assert(!new java.io.File(s"$tmpC/index").exists())
    assert(!new java.io.File(s"$tmpC/corpus").exists())
    Streaming.curationIngestBatch(Seq((2L, prose)).toDF("doc_id", "text"),
      "text", "doc_id", tmpC, 1L, minQ, 0.0, 1000.0, 8, 4, 3)
    assert(Streaming.readCurationCorpus(spark, tmpC)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))

    // MinHash dedup index: batch 0 all null text, so no band hash at all
    val tmpH = java.nio.file.Files.createTempDirectory("graft-mix0").toString
    Streaming.mergeDedupIndexBatch(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "text", "doc_id", s"$tmpH/index", 0L)
    assert(!new java.io.File(s"$tmpH/index").exists())
    Streaming.mergeDedupIndexBatch(
      Seq((2L, prose)).toDF("doc_id", "text"),
      "text", "doc_id", s"$tmpH/index", 1L)
    assert(Streaming.readDedupIndex(spark, s"$tmpH/index")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(2L))
    // mixed later batch: null text (admitted, band-less) + exact dup
    // of the stored doc (suppressed) -> empty write frame, no dir
    Streaming.mergeDedupIndexBatch(
      Seq((3L, null.asInstanceOf[String]), (4L, prose))
        .toDF("doc_id", "text"),
      "text", "doc_id", s"$tmpH/index", 2L)
    assert(!new java.io.File(s"$tmpH/index/batch=2").exists())
  }

  test("benchmarkIndexSink: store-fed decontamination equals the batch " +
      "scorer over the benchmarks registered so far; n is a guarded unit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bix").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // corpus = odd ids; benchmark sets arrive over time as even-id slices
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val benches = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .as[(Long, String)].collect()
    val slices = benches.grouped((benches.length + 2) / 3).toSeq
    val in = MemoryStream[(Long, String)]
    val q = Streaming.benchmarkIndexSink(
      in.toDF().toDF("doc_id", "text"), "text",
      s"$tmp/stats", s"$tmp/ckpt", n = 8).start()
    try {
      slices.zipWithIndex.foreach { case (g, i) =>
        in.addData(g.toIndexedSeq: _*); q.processAllAvailable()
        // store-fed == batch scorer over the REGISTERED-SO-FAR union,
        // cell-exact at every intermediate state
        val soFar = slices.take(i + 1).flatten.toDF("doc_id", "text")
        val fed = Streaming.decontaminateAgainstIndex(spark, corpus,
          "text", "doc_id", s"$tmp/stats")
        val scan = graft.ops.Dedup.ngramContamination(corpus, soFar,
          "text", "doc_id", n = 8)
        assert(fed.orderBy("doc_id").collect().toSeq ===
          scan.orderBy("doc_id").collect().toSeq)
      }
      // some doc must actually be contaminated for the parity to bite
      // (benchmark texts are drawn from the same corpus fixture, which
      // contains near/exact dups across the odd/even split)
      assert(Streaming.decontaminateAgainstIndex(spark, corpus, "text",
        "doc_id", s"$tmp/stats").where(col("contaminated")).count() > 0)
      // checkpoint-replayed batch id: no-op behind the _batch mark
      val before = Streaming.readBenchmarkNgrams(spark, s"$tmp/stats")
        .collect().toSeq
      Streaming.mergeBenchmarkNgramBatch(docs.limit(5), "text",
        s"$tmp/stats", batchId = 0L, n = 8)
      assert(Streaming.readBenchmarkNgrams(spark, s"$tmp/stats")
        .collect().toSeq === before)
      // the gram width is a UNIT: a later session with a different n
      // fails loudly instead of silently never matching
      val e = intercept[IllegalArgumentException] {
        Streaming.mergeBenchmarkNgramBatch(docs.limit(5), "text",
          s"$tmp/stats", batchId = 99L, n = 5)
      }
      assert(e.getMessage.contains("built with n=8"))
    } finally q.stop()
  }

  test("curationIngestSink decontamination gate: registry hits are " +
      "dropped before admission; the pinned decision keeps replays " +
      "deterministic while the registry grows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-decon").toString
    val bdir = s"$tmp/bench"
    val junk = "@@@@ #### !!!! %%%% @@@@ #### !!!! %%%%"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose4 = "terraced vineyards stepped down the valley toward " +
      "the slow bend of the river under a late sun"
    val minQ = {
      val scores = Seq(junk, prose1, prose2, prose3, prose4).toDF("t")
        .select(graft.ops.Text.qualityScore(col("t")))
        .collect().map(_.getDouble(0))
      assert(scores.tail.forall(_ > scores.head))
      (scores.head + scores.tail.min) / 2
    }
    // the registry knows prose3 (one benchmark doc, n=8 word-grams)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose3)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    // batch 0: 1 clean, 2 junk (quality gate), 3 quotes prose3 at
    // length ≥ 8 words (decon gate), 4 clean
    val b0 = Seq((1L, prose1), (2L, junk),
      (3L, "as the archivist noted " + prose3), (4L, prose2))
    val in = MemoryStream[(Long, String)]
    val q = Streaming.curationIngestSink(in.toDF().toDF("doc_id", "text"),
      "text", "doc_id", tmp, s"$tmp/ckpt", minQuality = minQ,
      benchmarkDir = Some(bdir)).start()
    try {
      in.addData(b0.toIndexedSeq: _*); q.processAllAvailable()
      assert(Streaming.readCurationCorpus(spark, tmp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
        === Set(1L, 4L))
      // the decision is pinned with a commit marker
      assert(new java.io.File(s"$tmp/decon/batch=0/_SUCCESS").exists())
      // the registry now learns prose1 — making already-admitted doc 1
      // retroactively "contaminated"...
      Streaming.mergeBenchmarkNgramBatch(
        Seq((101L, prose1)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
      // ...but a crash replay of batch 0 re-applies the PINNED
      // decision: corpus and stats byte-identical, doc 1 stays
      val before = (Streaming.readCurationCorpus(spark, tmp)
        .collect().map(_.toSeq).toSet,
        Streaming.readWordHistogram(spark, s"$tmp/stats")
          .collect().map(_.toSeq).toSet)
      Streaming.curationIngestBatch(b0.toDF("doc_id", "text"), "text",
        "doc_id", tmp, 0L, minQ, 0.0, 1000.0, 8, 4, 3, Some(bdir))
      assert((Streaming.readCurationCorpus(spark, tmp)
        .collect().map(_.toSeq).toSet,
        Streaming.readWordHistogram(spark, s"$tmp/stats")
          .collect().map(_.toSeq).toSet) === before)
      // a NEW batch is gated by the grown registry: a prose1 quote is
      // dropped, novel prose4 admitted
      in.addData((10L, "in the almanac entry " + prose1), (11L, prose4))
      q.processAllAvailable()
      assert(Streaming.readCurationCorpus(spark, tmp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
        === Set(1L, 4L, 11L))
    } finally q.stop()
    // registry-absent path: the gate admits everything and still pins
    // the (empty) decision, so a later registration cannot rewrite a
    // replay of this batch
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-decon2")
      .toString
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose4)).toDF("doc_id", "text"), "text",
      "doc_id", tmp2, 0L, minQ, 0.0, 1000.0, 8, 4, 3,
      Some(s"$tmp2/bench"))
    assert(Streaming.readCurationCorpus(spark, tmp2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
    assert(new java.io.File(s"$tmp2/decon/batch=0/_SUCCESS").exists())
  }

  test("retroDecontaminate: benchmarks registered AFTER admission " +
      "tombstone contaminated docs incrementally; crash reruns are " +
      "idempotent and history stays readable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-retro")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose4 = "terraced vineyards stepped down the valley toward " +
      "the slow bend of the river under a late sun"
    def cleanIds() = Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // two ingest batches land BEFORE any benchmark exists
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (4L, prose4)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // no registry yet: sweep is a no-op and the clean view is whole
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    assert(cleanIds() === Set(1L, 2L, 3L, 4L))
    // a benchmark quoting prose2 registers AFTER doc 2 was admitted
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(cleanIds() === Set(1L, 3L, 4L))
    // history preserved: the payload store still holds doc 2
    assert(Streaming.readCurationCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L, 4L))
    // unchanged registry: watermark short-circuits, no new sweep dir
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    val sweepDirs = new java.io.File(s"$tmp/decon/tombstones")
      .listFiles().filter(_.getName.startsWith("sweep=")).map(_.getName)
    assert(sweepDirs.toSet === Set("sweep=0"))
    // benchmark batch 1 re-registers prose2 AND adds prose4: the
    // incremental window (w, m] plus the min-merged first_batch means
    // sweep 1 records ONLY doc 4 — doc 2 is neither rescanned (its
    // grams keep first_batch=0) nor re-tombstoned (anti-joined out)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose2), (102L, prose4)).toDF("bid", "text"), "text",
      bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(cleanIds() === Set(1L, 3L))
    assert(spark.read.parquet(s"$tmp/decon/tombstones/sweep=1")
      .collect().map(_.getLong(0)).toSet === Set(4L))
    // crash window: sweep=1 committed but the _sweep marker still
    // reads 0 — the rerun must delete the leftover (NOT anti-join its
    // own ids out and overwrite it empty) and land identically
    val mkPath = new org.apache.hadoop.fs.Path(s"$tmp/decon/_sweep")
    val mkFs = mkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mk = mkFs.create(mkPath, true)
    mk.write("0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    mk.close()
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(cleanIds() === Set(1L, 3L))
    assert(spark.read.parquet(s"$tmp/decon/tombstones/sweep=1")
      .collect().map(_.getLong(0)).toSet === Set(4L))
    // pre-watermark registry upgrade: strip first_batch (a store
    // written before this round's schema), register prose1 on top —
    // the merge stamps missing priors first_batch=0, and the sweep's
    // window (1, 2] scans ONLY the new benchmark's grams
    val stripped = spark.read.parquet(s"$bdir/ngrams")
      .drop("first_batch").collect()
    val schema0 = org.apache.spark.sql.types.StructType(
      spark.read.parquet(s"$bdir/ngrams").drop("first_batch").schema)
    spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(stripped: _*)),
        schema0)
      .write.mode("overwrite").parquet(s"$bdir/ngrams")
    Streaming.mergeBenchmarkNgramBatch(
      Seq((103L, prose1)).toDF("bid", "text"), "text", bdir, 2L, n = 8)
    assert(spark.read.parquet(s"$bdir/ngrams")
      .agg(min("first_batch"), max("first_batch"))
      .collect().head.toSeq === Seq(0L, 2L))
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(cleanIds() === Set(3L))
  }

  test("retroDecontaminate corpus leg: a gate-less doc admitted AFTER " +
      "its benchmark was swept is caught by the next sweep; a " +
      "mark-only re-registration forces the closure; compaction " +
      "retains unswept batches until then") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-gateless")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    def cleanIds() = Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    // doc 2 QUOTES the already-swept benchmark and arrives through a
    // gate-less ingest: nothing stops it at admission, and an
    // unchanged registry short-circuits the sweep — it leaks, for now
    Streaming.curationIngestBatch(
      Seq((2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    assert(cleanIds() === Set(1L, 2L))
    // compaction must NOT fold the unswept batch=1: its id is the
    // only provenance the closure leg has
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.compactCurationCorpus(spark, tmp)
    def layout() = new java.io.File(s"$tmp/corpus").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    // the SWEPT batch 0 folds; the unswept batch 1 is carried
    assert(layout() === Set("batch=-1", "batch=1", "batch=2"))
    // mark-only re-registration: same benchmark, no new grams — the
    // registry mark advances, leg (a) is empty, and leg (b) scans the
    // post-sweep batches against the standing grams: doc 2 dies
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(cleanIds() === Set(1L, 3L))
    // the audit books the earlier ALL-CLEAN sweep as an explicit
    // zero row — "this benchmark cost nothing" is an audit fact
    assert(Streaming.deconAudit(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((0L, 0L, 0L), (1L, 1L, 1L)))
    // swept now: the next compaction folds batch 1 freely too
    Streaming.compactCurationCorpus(spark, tmp)
    assert(layout() === Set("batch=-1", "batch=2"))
    assert(cleanIds() === Set(1L, 3L))
  }

  test("retroDecontaminate minHits > 1: hits split across registry " +
      "batches still count (full-registry pass), where a windowed " +
      "count would leak the doc") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-minhits")
      .toString
    val bdir = s"$tmp/bench"
    val benchA = "amber lanterns swung gently above the harbour steps"
    val benchB = "copper kettles whistled beside the miller's oak bench"
    // doc D contains ONE 8-gram from each benchmark — 2 hits total,
    // but never 2 within a single registry batch's grams
    val docD = benchA + " meanwhile across the square " + benchB
    def cleanIds() = Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Streaming.curationIngestBatch(
      Seq((1L, docD)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, benchA)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir, minHits = 2L) === 0L) // one hit < 2: survives, correctly
    assert(cleanIds() === Set(1L))
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, benchB)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    // the second hit lives in a DIFFERENT registry batch: only the
    // full-registry pass can see both at once
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir, minHits = 2L) === 1L)
    assert(cleanIds() === Set.empty)
  }

  test("retroDecontaminate rerun deletes a crash leftover stranded at " +
      "an INTERMEDIATE mark, not just at the current one") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-interm")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose1)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L) // committed sweep=0, marker 0
    // a sweep at registry mark 1 crashed mid-write (dir exists, no
    // marker advance), and the registry then grew to mark 2 before
    // the rerun — the rerun's own target is sweep=2, so only the
    // delete-everything-above-the-marker rule can clean sweep=1
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/decon/tombstones/sweep=1"))
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose2)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((102L, "unrelated filler benchmark text nobody ever quotes " +
        "anywhere")).toDF("bid", "text"), "text", bdir, 2L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L) // doc 2, via sweep=2
    val dirs = new java.io.File(s"$tmp/decon/tombstones")
      .listFiles().map(_.getName).filter(_.startsWith("sweep=")).toSet
    assert(dirs === Set("sweep=0", "sweep=2")) // the stranded dir is gone
    assert(Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set.empty)
  }

  test("purge high-water: re-running a purge over an already-clean " +
      "folded store is a no-op (same files untouched); a new sweep " +
      "re-arms it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-purgehw")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    def foldedFiles() = new java.io.File(s"$tmp/corpus/batch=-1")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // closure sweep so batch 0 may fold, then purge: doc 2 leaves
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    val first = foldedFiles()
    assert(spark.read.parquet(s"$tmp/corpus/batch=-1")
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
    // the tombstone set is retained forever — without the high-water
    // marker this second purge would rewrite the whole folded payload
    // to drop zero rows; with it, the SAME part files survive
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(foldedFiles() === first)
    // a new sweep (new tombstone inside the folded payload) re-arms
    // the purge: the fold rewrites and the bytes leave
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose1)).toDF("bid", "text"), "text", bdir, 2L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(foldedFiles() !== first)
    assert(spark.read.parquet(s"$tmp/corpus/batch=-1")
      .select("doc_id").collect().isEmpty)
    // still stable after the re-arm settled
    val second = foldedFiles()
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(foldedFiles() === second)
  }

  test("move-carry crash reclaim: a leftover compaction scratch " +
      "holding MOVED dirs is reclaimed before any maintenance pass, " +
      "in both crash windows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-movecr")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    import java.nio.file.{Files, Paths}
    def ids() = Streaming.readCurationCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // window 1: crash mid-carry — batch=2 already moved into the
    // scratch (its ONLY copy), a partial fold target beside it
    Files.createDirectories(Paths.get(s"$tmp/.corpus.compact.tmp"))
    Files.move(Paths.get(s"$tmp/corpus/batch=2"),
      Paths.get(s"$tmp/.corpus.compact.tmp/batch=2"))
    Files.createDirectories(
      Paths.get(s"$tmp/.corpus.compact.tmp/batch=-1"))
    Streaming.compactCurationCorpus(spark, tmp) // heals, then folds
    assert(ids() === Set(1L, 3L, 5L))
    assert(!Files.exists(Paths.get(s"$tmp/.corpus.compact.tmp")))
    // window 2: crash between the swap's two renames — the live tree
    // is GONE (renamed to the backup), the scratch holds a moved dir
    // as its only copy. The next maintenance op reunites scratch dirs
    // with the backup, then restores the backup
    Files.createDirectories(Paths.get(s"$tmp/.corpus.compact.tmp"))
    Files.move(Paths.get(s"$tmp/corpus/batch=2"),
      Paths.get(s"$tmp/.corpus.compact.tmp/batch=2"))
    Files.move(Paths.get(s"$tmp/corpus"),
      Paths.get(s"$tmp/.corpus.compact.old"))
    Streaming.snapshotCorpus(spark, tmp, "after") // heals first
    assert(ids() === Set(1L, 3L, 5L))
    assert(!Files.exists(Paths.get(s"$tmp/.corpus.compact.tmp")))
    assert(!Files.exists(Paths.get(s"$tmp/.corpus.compact.old")))
    assert(Streaming.readSnapshot(spark, tmp, "after")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L, 5L))
    // window 3: fsck's HEAL must reclaim the scratch's moved dirs,
    // never delete them (they are the only copy); a stale backup
    // beside it heals in the same pass and BOTH findings report
    Files.createDirectories(Paths.get(s"$tmp/.corpus.compact.tmp"))
    Files.move(Paths.get(s"$tmp/corpus/batch=2"),
      Paths.get(s"$tmp/.corpus.compact.tmp/batch=2"))
    Files.createDirectories(Paths.get(s"$tmp/.corpus.compact.old"))
    val f = Streaming.fsckCurationStore(spark, tmp, heal = true)
      .collect().map(r => (r.getString(1).stripPrefix(s"$tmp/"),
        r.getBoolean(4))).toSet
    assert(f === Set((".corpus.compact.tmp", true),
      (".corpus.compact.old", true)))
    assert(ids() === Set(1L, 3L, 5L)) // dir renamed home, not deleted
    assert(!Files.exists(Paths.get(s"$tmp/.corpus.compact.tmp")))
    assert(!Files.exists(Paths.get(s"$tmp/.corpus.compact.old")))
  }

  test("torn trailing batch and the sweep watermark: leg (b) does not " +
      "advance over a _SUCCESS-less dir, so rows its replay adds are " +
      "still scanned against older grams") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tornsw")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    import java.nio.file.{Files, Paths}
    def cleanIds() = Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def sweepCorpusMark() = new String(Files.readAllBytes(
      Paths.get(s"$tmp/decon/_sweep_corpus")), "UTF-8").trim.toLong
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    assert(sweepCorpusMark() === 0L)
    // the ingest of batch 1 crashes mid payload-write: dir exists
    // with doc 3 only, no _SUCCESS
    Seq((3L, prose3)).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus/batch=1")
    Files.delete(Paths.get(s"$tmp/corpus/batch=1/_SUCCESS"))
    // a sweep runs while the stream is down: it may scan the partial
    // rows but must NOT advance the corpus watermark over them
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    assert(sweepCorpusMark() === 0L) // torn dir excluded
    // the stream restarts and replays batch 1 WHOLESALE — now with
    // doc 2, which quotes the long-registered benchmark
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(cleanIds() === Set(1L, 2L, 3L)) // leaked, for now
    // next sweep's leg (b) still covers batch 1 and catches doc 2 —
    // a watermark advanced over the torn dir would have frozen the
    // partial view in and leaked it forever
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 2L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(cleanIds() === Set(1L, 3L))
    assert(sweepCorpusMark() === 1L) // committed now, watermark moves
  }

  test("rebuildCurationStats over a torn trailing batch: its partial " +
      "rows are excluded from the rebuild and the mark, so the " +
      "replay's full fold lands exactly once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rbtorn")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    import java.nio.file.{Files, Paths}
    def storedHist() = Streaming.readWordHistogram(spark, s"$tmp/stats")
      .collect().map(_.toSeq).toSet
    def cleanHist() = graft.ops.Bpe.wordHistogram(
      Streaming.readCleanCorpus(spark, tmp), "text")
      .collect().map(_.toSeq).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // torn batch=1: doc 3 present, no _SUCCESS; the replay will also
    // carry doc 5
    Seq((3L, prose3)).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus/batch=1")
    Files.delete(Paths.get(s"$tmp/corpus/batch=1/_SUCCESS"))
    Streaming.rebuildCurationStats(spark, tmp, "text")
    // rebuilt from the COMMITTED corpus only; mark not advanced
    assert(storedHist() === graft.ops.Bpe.wordHistogram(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text")
      .collect().map(_.toSeq).toSet)
    assert(new String(Files.readAllBytes(
      Paths.get(s"$tmp/stats/_batch")), "UTF-8").trim === "0")
    // the replay rewrites batch 1 wholesale and folds it ONCE
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(storedHist() === cleanHist())
  }

  test("rebuildCurationStats advances the mark over a committed " +
      "payload batch the stats never folded, so its replay cannot " +
      "double-count") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rbmark")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    def storedHist() = Streaming.readWordHistogram(spark, s"$tmp/stats")
      .collect().map(_.toSeq).toSet
    def cleanHist() = graft.ops.Bpe.wordHistogram(
      Streaming.readCleanCorpus(spark, tmp), "text")
      .collect().map(_.toSeq).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // simulate the crash window: corpus/batch=1 committed, stats fold
    // never ran (the stats mark still reads 0)
    Seq((3L, prose3)).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus/batch=1")
    assert(storedHist() !== cleanHist()) // stats are behind the corpus
    Streaming.rebuildCurationStats(spark, tmp, "text")
    assert(storedHist() === cleanHist()) // rebuild counted batch 1
    // the resuming stream replays batch 1: with a preserved stale
    // mark this fold would land TWICE; the advanced mark makes it a
    // stats no-op while the payload rewrite stays idempotent
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(storedHist() === cleanHist())
    assert(Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L))
  }

  test("a corrupt snapshot manifest defers compaction loudly instead " +
      "of throwing, and listSnapshots skips it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cmani")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.snapshotCorpus(spark, tmp, "good")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/snapshots/mangled")) // no manifest
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    def layout() = new java.io.File(s"$tmp/corpus").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    // pins unknowable -> compaction defers (no exception, no fold)
    Streaming.compactCurationCorpus(spark, tmp)
    assert(layout() === Set("batch=0", "batch=1", "batch=2"))
    // one damaged entry does not hide the healthy one
    assert(Streaming.listSnapshots(spark, tmp).map(_._1) === Seq("good"))
    // dropping the damaged entry lets maintenance resume
    Streaming.dropSnapshot(spark, tmp, "mangled")
    Streaming.compactCurationCorpus(spark, tmp)
    assert(layout() === Set("batch=-1", "batch=0", "batch=2"))
  }

  test("compactCurationCorpus purgeTombstoned: folded payload drops " +
      "tombstoned rows physically, the carried batch waits its turn, " +
      "and the clean view never moves") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-purge")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose4 = "terraced vineyards stepped down the valley toward " +
      "the slow bend of the river under a late sun"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    def rawIds() = Streaming.readCurationCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def cleanIds() = Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (4L, prose4)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    // purge folds batch=0 minus doc 2 and carries trailing batch=1:
    // the payload physically loses doc 2, the clean view is unmoved
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(rawIds() === Set(1L, 3L, 4L))
    assert(cleanIds() === Set(1L, 3L, 4L))
    // doc 4 is tombstoned while sitting in the CARRIED batch: a purge
    // now must not touch it (a replay would rewrite the dir anyway) —
    // it stays physically present, logically excluded
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose4)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(rawIds() === Set(1L, 3L, 4L))
    assert(cleanIds() === Set(1L, 3L))
    // once batch=1 folds (a newer trailing batch exists), the purge
    // catches doc 4 too
    Streaming.curationIngestBatch(
      Seq((5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(rawIds() === Set(1L, 3L, 5L))
    assert(cleanIds() === Set(1L, 3L, 5L))
    // the purge preserves the keep-last layout contract
    val layout = new java.io.File(s"$tmp/corpus").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(layout === Set("batch=-1", "batch=2"))
  }

  test("rebuildCurationStats: stats re-derived from the clean corpus " +
      "after a sweep; the _batch mark survives so replays stay no-ops " +
      "and the stream folds on top") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rebst")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    def storedHist() = Streaming.readWordHistogram(spark, s"$tmp/stats")
      .collect().map(_.toSeq).toSet
    def cleanHist() = graft.ops.Bpe.wordHistogram(
      Streaming.readCleanCorpus(spark, tmp), "text")
      .collect().map(_.toSeq).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    // the sweep broke the stats invariant: the store still counts
    // doc 2's words
    assert(storedHist() !== cleanHist())
    Streaming.rebuildCurationStats(spark, tmp, "text")
    assert(storedHist() === cleanHist())
    // mark preserved: a crash replay of the last folded batch is
    // still a stats no-op
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(storedHist() === cleanHist())
    // and the stream folds incrementally on top of the rebuilt store
    Streaming.curationIngestBatch(
      Seq((5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(storedHist() === cleanHist())
    // idempotent: a second rebuild lands identically
    Streaming.rebuildCurationStats(spark, tmp, "text")
    assert(storedHist() === cleanHist())
  }

  test("subtractTombstonedStats: the pinned-delta repair equals the " +
      "full recompute cell-exact, is idempotent behind its marker, " +
      "holds at an unfolded batch, and fails loudly without a pin") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-subst")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose4 = "terraced vineyards stepped down the valley toward " +
      "the slow bend of the river under a late sun"
    def storedHist() = Streaming.readWordHistogram(spark, s"$tmp/stats")
      .collect().map(_.toSeq).toSet
    def cleanHist() = graft.ops.Bpe.wordHistogram(
      Streaming.readCleanCorpus(spark, tmp), "text")
      .collect().map(_.toSeq).toSet
    def storedLens() =
      Streaming.readStatsPart(spark, s"$tmp/stats", Streaming.LensPart)
        .collect().map(_.toSeq).toSet
    def cleanLens() = Streaming.readCleanCorpus(spark, tmp)
      .groupBy(graft.ops.Profiling.psiBucket(
        length(col("text")).cast("double"), 0.0, 1000.0, 10)
        .as("bucket"))
      .agg(count(lit(1)).as("n")).collect().map(_.toSeq).toSet
    for ((docs, b) <- Seq(Seq((1L, prose1), (2L, prose2)) -> 0L,
        Seq((3L, prose3)) -> 1L, Seq((4L, prose4)) -> 2L))
      Streaming.curationIngestBatch(docs.toDF("doc_id", "text"),
        "text", "doc_id", tmp, b, 0.0, 0.0, 1000.0, 8, 4, 3)
    // sweep 0 tombstones doc 2; the incremental repair applies its
    // pinned delta — no corpus rescan — and lands exactly where the
    // full recompute would, in BOTH stats parts
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(storedHist() !== cleanHist())
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 1L)
    assert(storedHist() === cleanHist())
    assert(storedLens() === cleanLens())
    // idempotent: the marker travels inside the swapped tree, so a
    // replayed repair is a no-op
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 0L)
    assert(storedHist() === cleanHist())
    // sweep 1 tombstones doc 4 (corpus batch 2); tearing batch 2's
    // _SUCCESS holds the repair — subtracting a contribution the
    // stats (after a replay re-folds the batch) would double-drop.
    // The marker must not advance past the held sweep
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose4)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    val succ = java.nio.file.Paths.get(s"$tmp/corpus/batch=2/_SUCCESS")
    val succBytes = java.nio.file.Files.readAllBytes(succ)
    java.nio.file.Files.delete(succ)
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 0L)
    java.nio.file.Files.write(succ, succBytes)
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 1L)
    assert(storedHist() === cleanHist())
    assert(storedLens() === cleanLens())
    // the universal repair lands on the same store the everyday one
    // produced
    Streaming.rebuildCurationStats(spark, tmp, "text")
    assert(storedHist() === cleanHist())
    assert(storedLens() === cleanLens())
    // a sweep with tombstones but no pinned delta (pre-unit-stamp
    // history) fails loudly naming the universal repair — and that
    // repair then fixes the store and re-arms the marker
    Streaming.mergeBenchmarkNgramBatch(
      Seq((102L, prose3)).toDF("bid", "text"), "text", bdir, 2L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    def rmTree(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmTree)); p.delete(); ()
    }
    rmTree(new java.io.File(s"$tmp/decon/statsdelta/sweep=2"))
    val e = intercept[IllegalStateException] {
      Streaming.subtractTombstonedStats(spark, tmp)
    }
    assert(e.getMessage.contains("rebuildCurationStats"))
    Streaming.rebuildCurationStats(spark, tmp, "text")
    assert(storedHist() === cleanHist())
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 0L)
  }

  test("retroDecontaminate minHits > 1: split hits across benchmarks " +
      "are caught with window-sized scans via cumulative counts; a " +
      "history gap re-baselines once; a torn-batch recount adds zero") {
    val pa = "red kites circled the high chalk downs hunting"
    val pb = "black barges slid beneath the iron bridge upstream"
    val fill = "meanwhile the village fair spread bright awnings " +
      "over wet cobbles"
    val benchA = s"$pa over quiet farmland all afternoon long today"
    val benchB = s"$pb toward open tide gates at dusk slowly"
    val benchC = "nine grey herons waited motionless along the " +
      "frozen millpond margin at first light"
    // one 8-word run from each benchmark: exactly 1 hit vs A and 1 vs
    // B — under minHits = 2 neither sweep alone may tombstone it
    val docX = s"$pa $fill $pb"
    val docY = "carpenters sawed seasoned oak planks beside the " +
      "tithe barn doors all morning"
    def mkRoot(): String = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-minhits").toString
      Streaming.curationIngestBatch(
        Seq((1L, docX), (2L, docY)).toDF("doc_id", "text"), "text",
        "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
      tmp
    }
    def hitsDirs(tmp: String) = Option(
        new java.io.File(s"$tmp/decon/hits").listFiles())
      .map(_.map(_.getName).filter(n =>
        n.startsWith("base=") || n.startsWith("sweep=")).toSet)
      .getOrElse(Set.empty[String])
    def cleanIds(tmp: String) = Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // ---- incremental split-hit: sweep per benchmark
    val r1 = mkRoot()
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, benchA)).toDF("bid", "text"), "text", s"$r1/bench",
      0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, r1, "text", "doc_id",
      s"$r1/bench", minHits = 2L) === 0L) // 1 hit < 2: kept
    assert(hitsDirs(r1) === Set("base=0")) // first sweep = full totals
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, benchB)).toDF("bid", "text"), "text", s"$r1/bench",
      1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, r1, "text", "doc_id",
      s"$r1/bench", minHits = 2L) === 1L) // 1 + 1 crosses the line
    assert(hitsDirs(r1) === Set("base=0", "sweep=1")) // incremental
    assert(cleanIds(r1) === Set(2L))
    // ---- control: both benchmarks known before ONE sweep — the
    // full-registry pass tombstones the same doc
    val r2 = mkRoot()
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, benchA)).toDF("bid", "text"), "text", s"$r2/bench",
      0L, n = 8)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, benchB)).toDF("bid", "text"), "text", s"$r2/bench",
      1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, r2, "text", "doc_id",
      s"$r2/bench", minHits = 2L) === 1L)
    assert(cleanIds(r2) === cleanIds(r1))
    // ---- gap: an interleaved minHits = 1 sweep maintains no counts,
    // so the next minHits = 2 sweep re-baselines (one full pass) and
    // still catches the split
    val r3 = mkRoot()
    for ((b, i) <- Seq(benchA, benchC, benchB).zipWithIndex) {
      Streaming.mergeBenchmarkNgramBatch(
        Seq((100L + i, b)).toDF("bid", "text"), "text", s"$r3/bench",
        i.toLong, n = 8)
      Streaming.retroDecontaminate(spark, r3, "text", "doc_id",
        s"$r3/bench", minHits = if (i == 1) 1L else 2L)
    }
    assert(cleanIds(r3) === Set(2L))
    assert(hitsDirs(r3) === Set("base=2")) // subsumed dirs dropped
    // ---- torn-batch recount: doc Z (1 hit vs A) lives in a torn
    // trailing batch, so leg B re-scans it at the NEXT sweep; the
    // history subtraction must keep its count at 1 — a double count
    // would tombstone it at minHits = 2
    val r4 = mkRoot()
    // exactly one hit vs benchA ("hunting over quiet ... today") with
    // minimal overlap vs docX, so the LSH ingest gate admits it
    val docZ = "hunting over quiet farmland all afternoon long today " +
      "beside winter sheepfolds after a sudden thaw"
    Streaming.curationIngestBatch(
      Seq((3L, docZ)).toDF("doc_id", "text"), "text",
      "doc_id", r4, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    val succ = java.nio.file.Paths.get(s"$r4/corpus/batch=1/_SUCCESS")
    val succBytes = java.nio.file.Files.readAllBytes(succ)
    java.nio.file.Files.delete(succ)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, benchA)).toDF("bid", "text"), "text", s"$r4/bench",
      0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, r4, "text", "doc_id",
      s"$r4/bench", minHits = 2L) === 0L) // Z counted once (1 hit)
    java.nio.file.Files.write(succ, succBytes) // replay committed
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, benchC)).toDF("bid", "text"), "text", s"$r4/bench",
      1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, r4, "text", "doc_id",
      s"$r4/bench", minHits = 2L) === 0L,
      "leg B's recount of the replayed batch was double-counted")
    assert(cleanIds(r4) === Set(1L, 2L, 3L))
    // ---- self-compaction: past the (lowered) increment threshold,
    // the sweep folds its history into a fresh base — bounded
    // per-sweep history reads — and the cumulative split is STILL
    // caught across the fold
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setInt("graft.decon.hitsCompactEvery", 2)
    try {
      val r5 = mkRoot()
      val benches = Seq(benchA, benchC,
        "millers hung new sailcloth on the post mill sweeps before " +
          "the autumn gales arrived",
        "drovers counted horned cattle through the toll gate bars " +
          "at dawn each market day",
        benchB)
      for ((b, i) <- benches.zipWithIndex) {
        Streaming.mergeBenchmarkNgramBatch(
          Seq((100L + i, b)).toDF("bid", "text"), "text",
          s"$r5/bench", i.toLong, n = 8)
        Streaming.retroDecontaminate(spark, r5, "text", "doc_id",
          s"$r5/bench", minHits = 2L)
      }
      // history folded: one base dir plus at most the threshold's
      // worth of increments — never 5 sweeps of dirs
      val dirs = hitsDirs(r5)
      assert(dirs.count(_.startsWith("base=")) === 1 &&
        dirs.size <= 3, s"history not folded: $dirs")
      // docX's 1 (benchA) + 1 (benchB) hits straddle the fold and
      // still cross the threshold at the last sweep
      assert(cleanIds(r5) === Set(2L))
    } finally conf.unset("graft.decon.hitsCompactEvery")
  }

  test("corpus schema policy: a batch whose columns diverge from the " +
      "standing corpus is rejected BEFORE any effect, and every " +
      "reader keeps serving the standing shape") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-schema")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.snapshotCorpus(spark, tmp, "t0")
    def allReads() = (
      Streaming.readCurationCorpus(spark, tmp)
        .collect().map(_.toSeq).toSet,
      Streaming.readCleanCorpus(spark, tmp)
        .collect().map(_.toSeq).toSet,
      Streaming.readSnapshot(spark, tmp, "t0")
        .collect().map(_.toSeq).toSet,
      Option(new java.io.File(s"$tmp/index").listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty[String]))
    val before = allReads()
    // an added column is rejected with the policy named...
    val eAdd = intercept[IllegalStateException] {
      Streaming.curationIngestBatch(
        Seq((3L, prose3, "en")).toDF("doc_id", "text", "lang"), "text",
        "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    }
    assert(eAdd.getMessage.contains("adds [lang:string]") &&
      eAdd.getMessage.contains("mergeSchema"))
    // ...a data column NAMED like the partition column especially
    // (it would collide with batch= at read time)...
    val eBatch = intercept[IllegalStateException] {
      Streaming.curationIngestBatch(
        Seq((3L, prose3, 9L)).toDF("doc_id", "text", "batch"), "text",
        "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    }
    assert(eBatch.getMessage.contains("adds [batch:bigint]"))
    // ...a dropped column likewise...
    val eDrop = intercept[IllegalStateException] {
      Streaming.curationIngestBatch(
        Seq(3L).toDF("doc_id"), "text",
        "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    }
    assert(eDrop.getMessage.contains("drops [text:string]"))
    // ...and a changed TYPE under the same name
    val eType = intercept[IllegalStateException] {
      Streaming.curationIngestBatch(
        Seq((3, prose3)).toDF("doc_id", "text")
          .withColumn("doc_id", col("doc_id").cast("int")), "text",
        "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    }
    assert(eType.getMessage.contains("doc_id:int"))
    // the rejections were effect-free: corpus, clean view, snapshot,
    // and index all read exactly what stood before
    assert(allReads() === before)
    // a conforming batch (same columns, any order) still ingests
    Streaming.curationIngestBatch(
      Seq((prose3, 3L)).toDF("text", "doc_id"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(Streaming.readCurationCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
  }

  test("corpus schema policy: a TORN standing footer (committed dir, " +
      "no readable parts) rejects the batch loudly instead of " +
      "silently waiving the check") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-schema-torn")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // tear the committed dir: parts gone, _SUCCESS standing — the
    // shape the schema guard can neither verify nor safely ignore
    // (before this pin, the unreadable footer read as "no standing
    // corpus" and the guard self-waived — an old-shape batch would
    // have been admitted unchecked into a torn store)
    val dir = new java.io.File(s"$tmp/corpus/batch=0")
    dir.listFiles().filter(f => f.getName != "_SUCCESS")
      .foreach(f => assert(f.delete(), s"could not tear $f"))
    val e = intercept[IllegalStateException] {
      Streaming.curationIngestBatch(
        Seq((3L, prose3)).toDF("doc_id", "text"), "text",
        "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    }
    assert(e.getMessage.contains("unreadable") &&
      e.getMessage.contains("fsckCurationStore"),
      s"torn footer did not reject toward fsck: ${e.getMessage}")
  }

  test("retroDecontaminate: a gate-less batch ingested AFTER the last " +
      "sweep is invisible to an unchanged-registry sweep (no-op by " +
      "design), fsck names the gap as info, and the mark-only " +
      "re-registration force closes it") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-postsweep").toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    def cleanIds() = Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def gapInfo() = Streaming.fsckCurationStore(spark, tmp)
      .where(col("status") === "info" &&
        col("path").endsWith("_sweep_corpus")).collect()
    // batch 0 (clean) ingests; the benchmark quoting prose2 registers;
    // the sweep runs — registry mark 0 swept, corpus watermark at 0
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    assert(gapInfo().isEmpty, "gap info fired with nothing unswept")
    // a CONTAMINATED doc now ingests gate-less: the sweep is a no-op
    // (registry unchanged — its trees are keyed by the registry mark)
    // and the doc sits in the clean view; fsck must name the gap
    Streaming.curationIngestBatch(
      Seq((2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    assert(cleanIds() === Set(1L, 2L),
      "unchanged-registry sweep unexpectedly scanned the new batch")
    val info = gapInfo()
    assert(info.length === 1 &&
      info(0).getAs[String]("detail").contains("batch(es) 1") &&
      info(0).getAs[String]("detail").contains("forceRetroSweep"),
      s"gap not surfaced: ${info.mkString("; ")}")
    // the first-class force: one call does the mark-only
    // re-registration (empty registry batch at the next id) and the
    // sweep, whose new mark scans the gate-less batch against ALL
    // standing grams and tombstones the contaminated doc
    assert(Streaming.forceRetroSweep(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(cleanIds() === Set(1L), "force did not close the gap")
    assert(gapInfo().isEmpty, "gap info survived the forced sweep")
    // the force's empty registry batch leaves a healthy store behind
    // (mark advanced, no torn dirs, grams untouched)
    assert(Streaming.fsckStore(spark, bdir).isEmpty,
      "forceRetroSweep left registry debris")
    // a GATED batch after the sweep carries no gap (decontaminated at
    // admission, pinned decision) — fsck stays quiet
    Streaming.curationIngestBatch(
      Seq((3L, prose1 + " and the second meadow drains")).toDF(
        "doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3, Some(bdir))
    assert(gapInfo().isEmpty,
      "gated post-sweep batch wrongly flagged as a decon gap")
  }

  test("lifecycle serializability fuzz: randomized maintenance racing " +
      "a live sequential ingest converges to the sequential outcome " +
      "(clean view, stats, fsck-clean) under ANY interleaving") {
    runLifecycleFuzz()
  }

  private def runLifecycleFuzz(): Unit = {
    // one ingest thread (batch ids must stay monotonic per the stats
    // store's fresh-checkpoint guard) + three maintenance threads
    // firing sweeps / compactions (incl. purge) / heals / snapshots /
    // registrations at jittered times — the documented "maintenance
    // against a LIVE stream" pattern. The lease serializes them; the
    // invariant under test is that EVERY interleaving converges to
    // the canonical sequential outcome once a final sweep lands.
    val fz = java.nio.file.Files
      .createTempDirectory("graft-fuzz").toString
    val ct = java.nio.file.Files
      .createTempDirectory("graft-fuzz-control").toString
    val sentA = "alpha0 alpha1 alpha2 alpha3 alpha4 alpha5 alpha6 alpha7"
    val sentB = "beta0 beta1 beta2 beta3 beta4 beta5 beta6 beta7"
    def docText(i: Int): String = {
      val own = (0 until 40).map(k => s"v${i}w$k").mkString(" ")
      if (i % 5 == 0) s"$own $sentA"
      else if (i % 7 == 0) s"$own $sentB"
      else own
    }
    def ingestAll(root: String, jitter: Option[scala.util.Random],
        onFirst: () => Unit): Unit =
      for (b <- 0 until 8) {
        val docs = (1 to 3).map(k => (b * 3 + k.toLong,
          docText(b * 3 + k)))
        Streaming.curationIngestBatch(docs.toDF("doc_id", "text"),
          "text", "doc_id", root, b.toLong, 0.0, 0.0, 1000.0, 8, 4, 3)
        if (b == 0) onFirst()
        jitter.foreach(r => Thread.sleep(r.nextInt(150).toLong))
      }
    def register(root: String, batch: Long, text: String): Unit =
      Streaming.mergeBenchmarkNgramBatch(
        Seq((900L + batch, text)).toDF("bid", "text"), "text",
        s"$root/bench", batch, n = 8)
    def sweep(root: String): Long = Streaming.retroDecontaminate(
      spark, root, "text", "doc_id", s"$root/bench")
    def cleanIds(root: String): Set[Long] =
      Streaming.readCleanCorpus(spark, root)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def hist(root: String): Set[(String, Long)] =
      Streaming.readWordHistogram(spark, s"$root/stats")
        .where(col("cnt") =!= 0L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // ---- canonical sequential control
    ingestAll(ct, None, () => ())
    register(ct, 0L, sentA); register(ct, 1L, sentB)
    sweep(ct)
    Streaming.subtractTombstonedStats(spark, ct)
    val wantClean = cleanIds(ct)
    assert(wantClean.nonEmpty && wantClean.size < 24,
      s"control scenario degenerate: $wantClean")
    // ---- fuzz root: ingest + 3 maintenance threads
    val started = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def th(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        try { started.await(); body }
        catch { case e: Throwable => errs.add(e) }
      }, name)
      t
    }
    val ingest = new Thread(() => {
      try ingestAll(fz, Some(new scala.util.Random(7L)),
        () => started.countDown())
      catch { case e: Throwable => errs.add(e) }
    }, "fuzz-ingest")
    val m1 = th("fuzz-m1") {
      val r = new scala.util.Random(11L)
      sweep(fz); Thread.sleep(r.nextInt(200).toLong)
      Streaming.compactCurationCorpus(spark, fz)
      Thread.sleep(r.nextInt(200).toLong)
      sweep(fz)
      Streaming.snapshotCorpus(spark, fz, "fz1")
    }
    val m2 = th("fuzz-m2") {
      val r = new scala.util.Random(13L)
      Thread.sleep(r.nextInt(150).toLong)
      register(fz, 0L, sentA)
      Thread.sleep(r.nextInt(250).toLong)
      register(fz, 1L, sentB)
      sweep(fz)
      Streaming.compactCurationCorpus(spark, fz, purgeTombstoned = true)
    }
    val m3 = th("fuzz-m3") {
      val r = new scala.util.Random(17L)
      Streaming.fsckCurationStore(spark, fz, heal = true).collect()
      Thread.sleep(r.nextInt(200).toLong)
      Streaming.snapshotCorpus(spark, fz, "fz2")
      Thread.sleep(r.nextInt(200).toLong)
      sweep(fz)
      Streaming.fsckCurationStore(spark, fz, heal = true).collect()
    }
    val all = Seq(ingest, m1, m2, m3)
    all.foreach(_.start()); all.foreach(_.join(600000L))
    assert(errs.isEmpty, s"racing op failed: ${errs.peek()}")
    // ---- convergence: batches ingested after the last racing sweep
    // are gate-less, and a sweep with the registry unchanged is a
    // no-op by design — the documented force is a mark-only
    // re-registration (empty registry batch at the next id), which
    // gives the final sweep a fresh mark to scan them under. The
    // fsck info finding (spec'd separately) is the trap's visibility.
    Streaming.mergeBenchmarkNgramBatch(
      Seq.empty[(Long, String)].toDF("bid", "text"), "text",
      s"$fz/bench", 2L, n = 8)
    sweep(fz)
    Streaming.subtractTombstonedStats(spark, fz)
    assert(cleanIds(fz) === wantClean,
      "racing maintenance changed the converged clean view")
    assert(hist(fz) === hist(ct),
      "racing maintenance changed the converged word-histogram stats")
    val findings = Streaming.fsckCurationStore(spark, fz)
    assert(findings.where(col("status") === "error").count() === 0L,
      s"fsck errors after the fuzz: ${findings.collect().mkString("; ")}")
    // the two snapshots taken at arbitrary points DURING the race
    // must still read exactly (compaction retains their pinned dirs
    // by rename; purge only rewrites folds), and the diff between
    // them must agree set-wise with the views themselves
    def snapIds(name: String): Set[Long] =
      Streaming.readSnapshot(spark, fz, name)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (s1, s2) = (snapIds("fz1"), snapIds("fz2"))
    val diff = Streaming.diffSnapshots(spark, fz, "fz1", "fz2",
        "doc_id").collect()
      .map(r => (r.getAs[String]("change"), r.getAs[Long]("doc_id")))
    assert(diff.filter(_._1 == "added").map(_._2).toSet === (s2 -- s1),
      "diffSnapshots 'added' disagrees with the snapshot views")
    assert(diff.filter(_._1 == "removed").map(_._2).toSet === (s1 -- s2),
      "diffSnapshots 'removed' disagrees with the snapshot views")
  }

  test("subtractTombstonedStats after corpus compaction: a delta " +
      "batch folded away does not hold the repair the way a torn " +
      "dir does") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-subcmp")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    for ((docs, b) <- Seq(Seq((1L, prose1), (2L, prose2)) -> 0L,
        Seq((3L, prose3)) -> 1L))
      Streaming.curationIngestBatch(docs.toDF("doc_id", "text"),
        "text", "doc_id", tmp, b, 0.0, 0.0, 1000.0, 8, 4, 3)
    // sweep tombstones doc 2 (batch 0) and pins its delta keyed by
    // batch 0; the compaction then FOLDS batch 0 into batch=-1 — the
    // dir is gone, but its rows (and stats contributions) live on
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    Streaming.compactCurationCorpus(spark, tmp)
    assert(!new java.io.File(s"$tmp/corpus/batch=0").exists(),
      "compaction did not fold batch 0 — the scenario is not set up")
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 1L)
    val stored = Streaming.readWordHistogram(spark, s"$tmp/stats")
      .collect().map(_.toSeq).toSet
    val clean = graft.ops.Bpe.wordHistogram(
      Streaming.readCleanCorpus(spark, tmp), "text")
      .collect().map(_.toSeq).toSet
    assert(stored === clean)
  }

  test("curation stats units guard: an ingest reconfigured with " +
      "different length-bucket bounds fails loudly instead of " +
      "silently mixing bucket scales") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-units")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    val e = intercept[IllegalArgumentException] {
      Streaming.curationIngestBatch(
        Seq((3L, prose3)).toDF("doc_id", "text"), "text",
        "doc_id", tmp, 1L, 0.0, 0.0, 500.0, 8, 4, 3)
    }
    assert(e.getMessage.contains("length-bucket"))
    // matched bounds proceed
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
  }

  test("readCleanCorpus asOfSweep: historical clean views reconstruct " +
      "per sweep; deconAudit books each sweep's cost; a purge " +
      "truncates as-of fidelity as documented") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-asof")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose4 = "terraced vineyards stepped down the valley toward " +
      "the slow bend of the river under a late sun"
    def cleanIds(asOf: Option[Long]) =
      Streaming.readCleanCorpus(spark, tmp, asOf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // before any sweep the audit is empty and every as-of view is the
    // whole corpus
    assert(Streaming.deconAudit(spark, tmp).collect().isEmpty)
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (4L, prose4)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // sweep 0 tombstones doc 2, sweep 1 tombstones doc 4
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose4)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    // the time-travel axis: today, as-of sweep 0, and pre-sweep
    assert(cleanIds(None) === Set(1L, 3L))
    assert(cleanIds(Some(1L)) === Set(1L, 3L))
    assert(cleanIds(Some(0L)) === Set(1L, 3L, 4L))
    assert(cleanIds(Some(-1L)) === Set(1L, 2L, 3L, 4L))
    // audit: one row per sweep with a running total
    assert(Streaming.deconAudit(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((0L, 1L, 1L), (1L, 1L, 2L)))
    // a physical purge folds batch 0 and drops doc 2's bytes (doc 4
    // rides the carried trailing batch, so only pre-purge history is
    // affected): the documented fidelity bound — as-of views older
    // than the purge cannot resurrect the purged payload
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(cleanIds(None) === Set(1L, 3L))
    assert(cleanIds(Some(0L)) === Set(1L, 3L, 4L))
    assert(cleanIds(Some(-1L)) === Set(1L, 3L, 4L))
  }

  test("snapshotCorpus: a named snapshot pins both the ingest and " +
      "sweep axes at zero copy; later batches and sweeps leave it " +
      "unmoved; names are immutable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose4 = "terraced vineyards stepped down the valley toward " +
      "the slow bend of the river under a late sun"
    def snapIds(name: String) =
      Streaming.readSnapshot(spark, tmp, name)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    Streaming.snapshotCorpus(spark, tmp, "run1")
    assert(snapIds("run1") === Set(1L))
    // a later ingest AND a later sweep both leave the snapshot unmoved
    // — the two axes asOfSweep alone cannot pin together
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (4L, prose4)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose4)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    assert(snapIds("run1") === Set(1L))
    assert(Streaming.readCleanCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L))
    // second snapshot sees today's state; listing shows both manifests
    Streaming.snapshotCorpus(spark, tmp, "run2")
    assert(snapIds("run2") === Set(1L, 3L))
    assert(Streaming.listSnapshots(spark, tmp)
      === Seq(("run1", Seq(0L), 0L), ("run2", Seq(0L, 1L), 1L)))
    // immutable names, validated names
    intercept[IllegalArgumentException] {
      Streaming.snapshotCorpus(spark, tmp, "run1")
    }
    intercept[IllegalArgumentException] {
      Streaming.snapshotCorpus(spark, tmp, ".hidden")
    }
  }

  test("snapshotCorpus skips a torn trailing batch: the replay's " +
      "extra rows cannot move an 'immutable' snapshot after the fact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sntorn")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    import java.nio.file.{Files, Paths}
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Seq((3L, prose3)).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus/batch=1")
    Files.delete(Paths.get(s"$tmp/corpus/batch=1/_SUCCESS"))
    Streaming.snapshotCorpus(spark, tmp, "s")
    assert(Streaming.listSnapshots(spark, tmp)
      === Seq(("s", Seq(0L), -1L))) // torn batch=1 NOT pinned
    def snapIds() = Streaming.readSnapshot(spark, tmp, "s")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(snapIds() === Set(1L))
    // the replay rewrites batch 1 with MORE rows; the snapshot is
    // unmoved because it never pinned the torn dir
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(snapIds() === Set(1L))
  }

  test("snapshot retention: compaction folds and purges around pinned " +
      "dirs, defers when batch=-1 is pinned, and resumes after " +
      "dropSnapshot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snret")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    def layout() = new java.io.File(s"$tmp/corpus").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    def snapIds(name: String) =
      Streaming.readSnapshot(spark, tmp, name)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    Streaming.snapshotCorpus(spark, tmp, "pin0")
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // closure sweep over the post-sweep ingests (re-register advances
    // the mark; no new grams) — without it compaction would RETAIN
    // the unswept batches instead of folding them
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    // purge-compaction folds batch=1 but carries pinned batch=0
    // unchanged (doc 2's bytes stay — retention defers the purge) and
    // the trailing batch=2
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(layout() === Set("batch=-1", "batch=0", "batch=2"))
    assert(snapIds("pin0") === Set(1L))
    assert(spark.read.parquet(s"$tmp/corpus/batch=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
    // a snapshot taken now pins batch=-1 (among others): once new
    // unpinned batches exist, the next compaction defers wholesale
    // (layout unmoved) because its fold target is pinned
    Streaming.snapshotCorpus(spark, tmp, "pinfold")
    Streaming.dropSnapshot(spark, tmp, "pin0")
    val prose6 = "lighthouse keepers logged every passing sail and " +
      "trimmed the wicks twice in a winter night"
    val prose7 = "the mill race was cleared of leaves each morning " +
      "before the stones were set to turn"
    Streaming.curationIngestBatch(
      Seq((6L, prose6)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 3L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((7L, prose7)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 4L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(layout() ===
      Set("batch=-1", "batch=0", "batch=2", "batch=3", "batch=4"))
    assert(snapIds("pinfold") === Set(1L, 3L, 5L))
    // pins lapsed: after a closure sweep over batches 3-4, compaction
    // folds everything below the trailing batch and the purge finally
    // drops doc 2's bytes
    Streaming.dropSnapshot(spark, tmp, "pinfold")
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 2L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    Streaming.compactCurationCorpus(spark, tmp, purgeTombstoned = true)
    assert(layout() === Set("batch=-1", "batch=4"))
    assert(spark.read.parquet(s"$tmp/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L, 5L, 6L, 7L))
    // the broken-pin failure is loud and names the missing dir
    val e = intercept[IllegalArgumentException] {
      Streaming.readSnapshot(spark, tmp, "pin0")
    }
    assert(e.getMessage.contains("no snapshot 'pin0'"))
  }

  test("diffSnapshots: the fast path reads only the delta and matches " +
      "the brute-force view diff; add-then-tombstoned docs appear in " +
      "neither leg; a reversed diff takes the fallback") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdiff")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose4 = "terraced vineyards stepped down the valley toward " +
      "the slow bend of the river under a late sun"
    def changes(a: String, b: String) =
      Streaming.diffSnapshots(spark, tmp, a, b, "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def brute(a: String, b: String) = {
      val va = Streaming.readSnapshot(spark, tmp, a).select("doc_id")
      val vb = Streaming.readSnapshot(spark, tmp, b).select("doc_id")
      vb.join(va, Seq("doc_id"), "left_anti").collect()
        .map(r => (r.getLong(0), "added")).toSet ++
        va.join(vb, Seq("doc_id"), "left_anti").collect()
          .map(r => (r.getLong(0), "removed")).toSet
    }
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L) // doc 2 tombstoned at mark 0
    Streaming.snapshotCorpus(spark, tmp, "t0") // view {1}
    Streaming.curationIngestBatch(
      Seq((3L, prose3), (4L, prose4)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, prose4)).toDF("bid", "text"), "text", bdir, 1L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L) // doc 4 added-then-tombstoned: in NEITHER view
    Streaming.mergeBenchmarkNgramBatch(
      Seq((102L, prose1)).toDF("bid", "text"), "text", bdir, 2L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L) // doc 1 removed from t0's view at mark 2
    Streaming.snapshotCorpus(spark, tmp, "t2") // view {3}
    assert(changes("t0", "t2") === Set((3L, "added"), (1L, "removed")))
    assert(changes("t0", "t2") === brute("t0", "t2"))
    // same-snapshot diff is empty both ways
    assert(changes("t0", "t0") === Set.empty)
    // reversed order (sweep marks out of order) takes the fallback —
    // and the fallback mirrors the fast path
    assert(changes("t2", "t0") === Set((1L, "added"), (3L, "removed")))
    assert(changes("t2", "t0") === brute("t2", "t0"))
  }

  test("diffSnapshots across a compaction fold: the fold target lands " +
      "in the delta dirs and its folded post-from ingests read as " +
      "added; retention keeps the fast path valid") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdfold")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    def changes(a: String, b: String) =
      Streaming.diffSnapshots(spark, tmp, a, b, "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.snapshotCorpus(spark, tmp, "t0") // pins {0}, no -1 yet
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.curationIngestBatch(
      Seq((5L, prose5)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // folds post-t0 batch 1 into batch=-1; t0's pinned batch=0 and the
    // trailing batch=2 are carried
    Streaming.compactCurationCorpus(spark, tmp)
    assert(new java.io.File(s"$tmp/corpus").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
      === Set("batch=-1", "batch=0", "batch=2"))
    Streaming.snapshotCorpus(spark, tmp, "t1") // pins {-1, 0, 2}
    // fast path holds (bTo superset of bFrom): the folded doc 3 and
    // the trailing doc 5 both read as added through the delta dirs
    assert(changes("t0", "t1") === Set((3L, "added"), (5L, "added")))
  }

  test("exportSnapshotDelta: the incremental hand-off carries exactly " +
      "the entered payloads and the departed ids, with a manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdexp")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.snapshotCorpus(spark, tmp, "t0") // view {1}
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose1)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L) // doc 1 leaves the view
    Streaming.snapshotCorpus(spark, tmp, "t1") // view {3}
    Streaming.exportSnapshotDelta(spark, tmp, "t0", "t1",
      s"$tmp/delta", "doc_id", 2)
    val addedRows = spark.read.json(s"$tmp/delta/added")
      .select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(addedRows === Set((3L, prose3)))
    val removedIds = spark.read.json(s"$tmp/delta/removed")
      .select(col("doc_id").cast("long")).collect()
      .map(_.getLong(0)).toSet
    assert(removedIds === Set(1L))
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/delta/_MANIFEST")), "UTF-8")
    assert(mf.startsWith("""{"from":"t0","to":"t1",""" +
      """"n_added":1,"n_removed":1,"n_shards":2,"schema":""""), mf)
    // the payload schema rides in the manifest so consumers never
    // infer it back from null-omitting JSONL
    assert(mf.contains("doc_id") && mf.contains("text"), mf)
    // applying the delta to t0's view reproduces t1's view exactly
    val t0v = Streaming.readSnapshot(spark, tmp, "t0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((t0v -- removedIds) ++ addedRows.map(_._1) ===
      Streaming.readSnapshot(spark, tmp, "t1")
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    // nShards = 0 (the default): the added-leg's shard count derives
    // from the to-snapshot's pinned bytes prorated by the delta share
    // — the tiny fixture lands at 1, booked in the manifest
    Streaming.exportSnapshotDelta(spark, tmp, "t0", "t1",
      s"$tmp/delta0", "doc_id")
    assert(spark.read.json(s"$tmp/delta0/added")
      .select(col("doc_id").cast("long")).collect()
      .map(_.getLong(0)).toSet === Set(3L))
    val mf0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/delta0/_MANIFEST")), "UTF-8")
    assert(mf0.contains(""""n_shards":1"""), mf0)
  }

  test("applyExportDelta: applying a delta export to the FROM full " +
      "export reproduces the TO export exactly — including a " +
      "no-change delta whose add/remove legs are EMPTY, which read " +
      "under the base schema instead of failing inference") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-applyd")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.snapshotCorpus(spark, tmp, "t0") // view {1}
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose1)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L) // doc 1 leaves the view
    Streaming.snapshotCorpus(spark, tmp, "t1") // view {3}
    Streaming.exportSnapshot(spark, tmp, "t0", s"$tmp/exp0", "doc_id", 2)
    Streaming.exportSnapshot(spark, tmp, "t1", s"$tmp/exp1", "doc_id", 2)
    Streaming.exportSnapshotDelta(spark, tmp, "t0", "t1",
      s"$tmp/d01", "doc_id", 2)
    def docset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").cast("long"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val toExport = docset(spark.read.json(s"$tmp/exp1").drop("shard"))
    assert(docset(Streaming.applyExportDelta(spark, s"$tmp/exp0",
      s"$tmp/d01", "doc_id")) === toExport)
    assert(toExport === Set((3L, prose3)))
    // a refresh with nothing changed: both delta legs land empty
    // (dirs with _SUCCESS only) — the apply must read them under the
    // base export's schema and return the base unchanged
    Streaming.exportSnapshotDelta(spark, tmp, "t1", "t1",
      s"$tmp/d11", "doc_id", 1)
    assert(docset(Streaming.applyExportDelta(spark, s"$tmp/exp1",
      s"$tmp/d11", "doc_id")) === toExport)
    // an EMPTY base export (a pre-ingest snapshot's export: _SUCCESS
    // only) takes its schema from the added leg instead of failing
    // JSON inference
    new java.io.File(s"$tmp/empty0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/empty0/_SUCCESS"),
      Array.emptyByteArray)
    assert(docset(Streaming.applyExportDelta(spark, s"$tmp/empty0",
      s"$tmp/d01", "doc_id")) === Set((3L, prose3)))
    // both sides empty: a NAMED no-op error, not an inference crash
    val eEmpty = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/empty0",
        s"$tmp/d11", "doc_id")
    }
    assert(eEmpty.getMessage.contains("are empty"), eEmpty.getMessage)
    // a delta whose added leg carries columns the base does NOT know
    // is a schema change a delta cannot express — named error, never
    // a silent column drop
    Seq((9L, "x", 1.0)).toDF("doc_id", "text", "extra").write
      .json(s"$tmp/dbad/added")
    Seq(Tuple1(1L)).toDF("doc_id").write.json(s"$tmp/dbad/removed")
    val eShape = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/exp1",
        s"$tmp/dbad", "doc_id")
    }
    assert(eShape.getMessage.contains("schema change") &&
      eShape.getMessage.contains("extra"), eShape.getMessage)
    // manifest-vs-manifest disagreement is the same named error with
    // zero inference: give the bad delta a manifest DECLARING the
    // extra column
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/dbad/_MANIFEST"),
      // 'from' matches exp1's snapshot so the SHAPE check (not the
      // provenance check) is what this pins
      ("""{"from":"t1","to":"t2","n_added":1,"n_removed":1,""" +
        """"n_shards":1,"schema":"`doc_id` BIGINT,`text` STRING,""" +
        """`extra` DOUBLE"}""").getBytes("UTF-8"))
    val eShapeM = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/exp1",
        s"$tmp/dbad", "doc_id")
    }
    assert(eShapeM.getMessage.contains("differing") &&
      eShapeM.getMessage.contains("extra"), eShapeM.getMessage)
    // both-empty stays the named no-op even when BOTH sides carry
    // schema'd manifests (an all-tombstoned snapshot's export)
    new java.io.File(s"$tmp/emptyM").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/emptyM/_MANIFEST"),
      ("""{"snapshot":"e","batches":[],"sweep":-1,"n_docs":0,""" +
        """"n_shards":1,"schema":"`doc_id` BIGINT,`text` STRING"}""")
        .getBytes("UTF-8"))
    val eEmptyM = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/emptyM",
        s"$tmp/d11", "doc_id")
    }
    assert(eEmptyM.getMessage.contains("are empty"), eEmptyM.getMessage)
    // the REVERSE subset is legitimate: the JSON writer omits null
    // fields, so an added leg whose docs are all-null in an optional
    // column infers without it — the union fills the nulls back
    Seq(Tuple1(9L)).toDF("doc_id").write.json(s"$tmp/dsub/added")
    Seq(Tuple1(999L)).toDF("doc_id").write.json(s"$tmp/dsub/removed")
    assert(docset(Streaming.applyExportDelta(spark, s"$tmp/exp1",
      s"$tmp/dsub", "doc_id")) === toExport + ((9L, null)))
    // an ABSENT base path is a caller error, never "empty base" (a
    // typo would otherwise silently drop the whole base corpus)
    val eGone = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/no_such_export",
        s"$tmp/d01", "doc_id")
    }
    assert(eGone.getMessage.contains("does not exist"), eGone.getMessage)
    // a wrong id column is named, not a bare StructType lookup error
    // (exp0 is d01's actual base, so only the id column is wrong)
    val eId = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/exp0",
        s"$tmp/d01", "docId")
    }
    assert(eId.getMessage.contains("docId"), eId.getMessage)
    // PROVENANCE: a delta applied to the wrong SAME-SCHEMA base (the
    // t1 export handed the t0->t1 delta) passes every shape check —
    // only the manifests' lineage can catch it; the error names both
    // snapshots
    val eProv = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/exp1",
        s"$tmp/d01", "doc_id")
    }
    assert(eProv.getMessage.contains("'t0'") &&
      eProv.getMessage.contains("'t1'") &&
      eProv.getMessage.contains("neither snapshot"), eProv.getMessage)
    // a LEGACY base (no manifest) read under a schema'd delta's
    // declared shape: one sampled record cross-checks conformance —
    // base-only fields mean this is NOT an export of the delta's
    // root, and reading under the delta schema would silently drop
    // them
    Seq((1L, "kept text", 7.5)).toDF("doc_id", "text", "extra")
      .write.json(s"$tmp/legacywide")
    val eWide = intercept[IllegalStateException] {
      Streaming.applyExportDelta(spark, s"$tmp/legacywide",
        s"$tmp/d01", "doc_id")
    }
    assert(eWide.getMessage.contains("base-export field") &&
      eWide.getMessage.contains("extra"), eWide.getMessage)
    // the same legacy-base path with CONFORMING records proceeds
    // (gzip-sharded base: the sample decodes through the codec
    // factory) — exp0 stripped of its manifest is exactly that shape
    Streaming.exportSnapshot(spark, tmp, "t0", s"$tmp/exp0legacy",
      "doc_id", 2, codec = Some("gzip"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$tmp/exp0legacy/_MANIFEST"))
    assert(docset(Streaming.applyExportDelta(spark, s"$tmp/exp0legacy",
      s"$tmp/d01", "doc_id")) === toExport)
  }

  test("exportSnapshot: JSONL shards round-trip the exact snapshot " +
      "view with md5-stable shard membership across re-exports") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sexp")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.snapshotCorpus(spark, tmp, "run")
    Streaming.exportSnapshot(spark, tmp, "run", s"$tmp/out1", "doc_id", 4)
    Streaming.exportSnapshot(spark, tmp, "run", s"$tmp/out2", "doc_id", 4)
    def slurp(p: String) = spark.read.json(p)
      .select(col("doc_id").cast("long"), col("text"),
        col("shard").cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val o1 = slurp(s"$tmp/out1")
    val o2 = slurp(s"$tmp/out2")
    assert(o1 === o2) // deterministic shard membership
    assert(o1.map(t => (t._1, t._2)) ===
      Set((1L, prose1), (3L, prose3)))
    assert(o1.map(_._3).forall(s => s >= 0 && s < 4))
    // the export is self-describing: a _MANIFEST beside the shards
    // carries the provenance (and Spark readers ignore _ files)
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/out1/_MANIFEST")), "UTF-8")
    assert(mf.startsWith(
      """{"snapshot":"run","batches":[0],"sweep":-1,""" +
        """"n_docs":2,"n_shards":4,"schema":""""), mf)
    // nShards omitted: the count is DERIVED from the pinned batch
    // dirs' bytes (a tiny snapshot → 1 shard) and the codec option
    // compresses the shard files; the manifest count still comes
    // from the write itself
    Streaming.exportSnapshot(spark, tmp, "run", s"$tmp/out3",
      "doc_id", codec = Some("gzip"))
    assert(slurp(s"$tmp/out3").map(t => (t._1, t._2)) ===
      Set((1L, prose1), (3L, prose3)))
    val gz = new java.io.File(s"$tmp/out3/shard=0").listFiles()
      .map(_.getName).filter(_.endsWith(".json.gz"))
    assert(gz.nonEmpty, "gzip codec was not applied to the shards")
    val mf3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/out3/_MANIFEST")), "UTF-8")
    assert(mf3.startsWith(
      """{"snapshot":"run","batches":[0],"sweep":-1,""" +
        """"n_docs":2,"n_shards":1,"schema":""""), mf3)
  }

  test("fsckCurationStore: a clean store audits empty; every planted " +
      "defect class is flagged with the right area/status and nothing " +
      "else") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fsck")
      .toString
    val bdir = s"$tmp/bench"
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 1L)
    // apply the sweep's stats deltas — an unapplied sweep is itself an
    // (info) finding, and the healthy baseline must be findings-free
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 1L)
    // the post-sweep batch ingests GATED: a gate-less batch behind a
    // standing registry is a real exposure fsck now names (info), so
    // the findings-free baseline must use the clean shape
    Streaming.curationIngestBatch(
      Seq((3L, prose3)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3, Some(bdir))
    Streaming.snapshotCorpus(spark, tmp, "s")
    // a healthy store audits EMPTY — findings-only contract
    assert(Streaming.fsckCurationStore(spark, tmp).isEmpty)
    // plant one defect per class
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(s"$tmp/.corpus.compact.tmp"))
    // the stats store swaps under the .stats.* family (mergeStoreBatch
    // / rebuildCurationStats), NOT .compact.* — plant the real name
    Files.createDirectories(Paths.get(s"$tmp/.stats.stats.old"))
    Files.createDirectories(Paths.get(s"$tmp/.index.compact.old"))
    Files.delete(Paths.get(s"$tmp/corpus/batch=0/_SUCCESS"))
    Files.createDirectories(
      Paths.get(s"$tmp/decon/tombstones/sweep=99"))
    Files.delete(Paths.get(s"$tmp/decon/tombstones/sweep=0/_SUCCESS"))
    // stats-delta pins / hit counts: ahead-of-mark leftovers, a
    // crashed pin scratch, and an unparseable dir
    Files.createDirectories(Paths.get(s"$tmp/decon/statsdelta/sweep=99"))
    Files.createDirectories(
      Paths.get(s"$tmp/decon/statsdelta/.sweep=99.tmp"))
    Files.createDirectories(Paths.get(s"$tmp/decon/hits/base=99"))
    Files.createDirectories(Paths.get(s"$tmp/decon/hits/junk"))
    Files.createDirectories(Paths.get(s"$tmp/decon/batch=7"))
    Files.createDirectories(Paths.get(s"$tmp/snapshots/.z.tmp"))
    def rmr(p: String): Unit = {
      val d = new java.io.File(p)
      Option(d.listFiles).foreach(_.foreach(f => rmr(f.getPath)))
      d.delete(); ()
    }
    rmr(s"$tmp/corpus/batch=1") // breaks snapshot s's pin
    Files.createDirectories(Paths.get(s"$tmp/snapshots/ahead"))
    Files.write(Paths.get(s"$tmp/snapshots/ahead/manifest"),
      "batches=0\nsweep=5\n".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(s"$tmp/snapshots/broken"))
    val got = Streaming.fsckCurationStore(spark, tmp)
      .collect()
      .map(r => (r.getString(0), r.getString(2),
        r.getString(1).stripPrefix(s"$tmp/")))
      .toSet
    assert(got === Set(
      ("swap", "warn", ".corpus.compact.tmp"),
      ("swap", "warn", ".stats.stats.old"),
      ("swap", "warn", ".index.compact.old"),
      ("corpus", "warn", "corpus/batch=0"),
      ("decon", "warn", "decon/tombstones/sweep=99"),
      ("decon", "error", "decon/tombstones/sweep=0"),
      ("decon", "warn", "decon/statsdelta/sweep=99"),
      ("decon", "warn", "decon/statsdelta/.sweep=99.tmp"),
      ("decon", "warn", "decon/hits/base=99"),
      ("decon", "error", "decon/hits/junk"),
      ("decon", "info", "decon/batch=7"),
      ("decon", "info", "decon/batch=1"),
      ("snapshot", "warn", "snapshots/.z.tmp"),
      ("snapshot", "error", "snapshots/s"),
      ("snapshot", "error", "snapshots/ahead"),
      ("snapshot", "error", "snapshots/broken")))
    // every detail names its heal path — the fsck is a runbook
    assert(Streaming.fsckCurationStore(spark, tmp).collect()
      .forall(_.getString(3).nonEmpty))
    // plain audits never heal
    assert(Streaming.fsckCurationStore(spark, tmp).collect()
      .forall(!_.getBoolean(4)))
    // heal pass: exactly the safe classes repair (scratch, stale
    // backup, ahead-of-mark sweep, snapshot tmp) —
    // operator-decision and replay findings stay put
    val healed = Streaming.fsckCurationStore(spark, tmp, heal = true)
      .where(col("healed")).collect()
      .map(_.getString(1).stripPrefix(s"$tmp/")).toSet
    assert(healed === Set(".corpus.compact.tmp", ".stats.stats.old",
      ".index.compact.old",
      "decon/tombstones/sweep=99", "decon/statsdelta/sweep=99",
      "decon/statsdelta/.sweep=99.tmp", "decon/hits/base=99",
      "snapshots/.z.tmp"))
    val after = Streaming.fsckCurationStore(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(2),
        r.getString(1).stripPrefix(s"$tmp/"))).toSet
    assert(after === Set(
      ("corpus", "warn", "corpus/batch=0"),
      ("decon", "error", "decon/tombstones/sweep=0"),
      ("decon", "error", "decon/hits/junk"),
      ("decon", "info", "decon/batch=7"),
      ("decon", "info", "decon/batch=1"),
      ("snapshot", "error", "snapshots/s"),
      ("snapshot", "error", "snapshots/ahead"),
      ("snapshot", "error", "snapshots/broken")))
  }

  test("fsckStore: healthy standing stores (registry, dedup index, " +
      "compacted exact index) audit EMPTY; planted swap leftovers, " +
      "an unreadable mark, and a torn batch dir are flagged and the " +
      "safe ones healed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fsckst")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    val prose5 = "cartwrights seasoned elm for a full year before " +
      "turning hubs that would outlast the iron tyres"
    val docs = Seq((1L, prose1), (3L, prose3), (5L, prose5))
      .toDF("doc_id", "text")
    // an aggregate store, a dedup index, and a compacted dedup index
    // — all healthy, all must audit EMPTY (the real false-positive
    // test: _SUCCESS placement after a root swap)
    Streaming.mergeBenchmarkNgramBatch(
      docs.toDF("bid", "text"), "text", s"$tmp/reg", 0L, n = 8)
    Streaming.mergeDedupIndexBatch(docs, "text", "doc_id",
      s"$tmp/dix", 0L)
    Streaming.mergeDedupIndexBatch(
      Seq((7L, prose5 + " entirely new tail")).toDF("doc_id", "text"),
      "text", "doc_id", s"$tmp/dix", 1L)
    Streaming.mergeDedupIndexBatch(docs, "text", "doc_id",
      s"$tmp/cdix", 0L)
    Streaming.mergeDedupIndexBatch(
      Seq((9L, prose1 + " with a divergent ending")).toDF(
        "doc_id", "text"),
      "text", "doc_id", s"$tmp/cdix", 1L)
    Streaming.compactDedupIndex(spark, s"$tmp/cdix")
    for (s <- Seq("reg", "dix", "cdix"))
      assert(Streaming.fsckStore(spark, s"$tmp/$s").isEmpty,
        s"store $s should audit clean")
    // plant one defect per class
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(s"$tmp/.reg.stats.old"))
    Files.write(Paths.get(s"$tmp/reg/_batch"),
      "not-a-number".getBytes("UTF-8"))
    val dixBatch = new java.io.File(s"$tmp/dix").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).head
    Files.delete(Paths.get(s"$tmp/dix/$dixBatch/_SUCCESS"))
    // a STALE lease (crashed holder) is surfaced; a FRESH one is a
    // live holder and is not
    Files.write(Paths.get(s"$tmp/.reg.lock"), "tok".getBytes("UTF-8"))
    Files.setLastModifiedTime(Paths.get(s"$tmp/.reg.lock"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 31 * 60 * 1000L))
    Files.write(Paths.get(s"$tmp/.dix.lock"), "tok".getBytes("UTF-8"))
    // lease debris: a parked orphan (ERROR — was a live holder's
    // lease evidence), old break/release husks (warn — crashed after
    // capture, safe to delete), and a FRESH break claim (an active
    // breaker mid-operation: NOT a finding)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 31 * 60 * 1000L)
    Files.write(Paths.get(s"$tmp/.reg.lock.orphan.aaaa"),
      "tok".getBytes("UTF-8"))
    for (husk <- Seq(".dix.lock.break.bbbb", ".dix.lock.release.cccc")) {
      Files.write(Paths.get(s"$tmp/$husk"), "tok".getBytes("UTF-8"))
      Files.setLastModifiedTime(Paths.get(s"$tmp/$husk"), old)
    }
    Files.write(Paths.get(s"$tmp/.cdix.lock.break.dddd"),
      "tok".getBytes("UTF-8"))
    def got(s: String) = Streaming.fsckStore(spark, s"$tmp/$s")
      .collect().map(r => (r.getString(0), r.getString(2),
        r.getString(1).stripPrefix(s"$tmp/"))).toSet
    assert(got("reg") === Set(
      ("swap", "warn", ".reg.stats.old"),
      ("store", "error", "reg/_batch"),
      ("lease", "warn", ".reg.lock"),
      ("lease", "error", ".reg.lock.orphan.aaaa")))
    assert(got("dix") === Set(
      ("store", "warn", s"dix/$dixBatch"), // fresh lock: no finding
      ("lease", "warn", ".dix.lock.break.bbbb"),
      ("lease", "warn", ".dix.lock.release.cccc")))
    assert(got("cdix") === Set()) // fresh break claim: no finding
    // heal clears the safe classes; the mark and torn dir stay put
    val healed = Streaming.fsckStore(spark, s"$tmp/reg", heal = true)
      .where(col("healed")).collect().map(_.getString(1)).toSet
    assert(healed === Set(s"$tmp/.reg.stats.old"))
    // the mark, the torn dir, and the lease debris need an operator /
    // a replay — never auto-healed. The stale lease is gone as a SIDE
    // EFFECT of the heal's own serialization: acquiring the store
    // lock breaks a stale lease exactly the way any waiter would
    assert(got("reg") === Set(("store", "error", "reg/_batch"),
      ("lease", "error", ".reg.lock.orphan.aaaa")))
    assert(got("dix") === Set(("store", "warn", s"dix/$dixBatch"),
      ("lease", "warn", ".dix.lock.break.bbbb"),
      ("lease", "warn", ".dix.lock.release.cccc")))
  }

  test("stats-store reads survive a mid-swap crash state WITHOUT mutating it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ts2").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(10)
    // the curation stats store of a root at `tmp` (word histogram,
    // length buckets, units) — written by the ingest's shared tail
    Streaming.ingestTail(docs, "text", tmp, batchId = 0L,
      lenLo = 0.0, lenHi = 1000.0)
    // simulate a writer dying between atomicSwap's renames: the store
    // dir is parked as the backup, the new dir never arrived
    val dir = new java.io.File(s"$tmp/stats")
    val backup = new java.io.File(s"$tmp/.stats.stats.old")
    assert(dir.renameTo(backup))
    // backup side read, for the histogram and the one-row units part
    assert(Streaming.readWordHistogram(spark, s"$tmp/stats").count() > 0 &&
      Streaming.readStatsUnits(spark, s"$tmp/stats") === Some((0.0, 1000.0)))
    // the read healed NOTHING — a live writer's pending rename must
    // not find its destination occupied
    assert(backup.exists() && !dir.exists())
    // the writer's own next merge heals and proceeds
    Streaming.ingestTail(docs, "text", tmp, batchId = 1L,
      lenLo = 0.0, lenHi = 1000.0)
    assert(dir.exists() && !backup.exists())
    assert(Streaming.readWordHistogram(spark, s"$tmp/stats").count() > 0)
  }

  test("mergeDedupIndexBatch gates each batch against the full admitted " +
      "history") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dix").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val all = docs.as[(Long, String)].collect()
    val batches = all.grouped((all.length + 2) / 3).toSeq
    batches.zipWithIndex.foreach { case (g, i) =>
      Streaming.mergeDedupIndexBatch(g.toIndexedSeq.toDF("doc_id", "text"),
        "text", "doc_id", s"$tmp/index", batchId = i.toLong)
    }
    val index = Streaming.readDedupIndex(spark, s"$tmp/index")
    val admitted = index.select("id").distinct()
      .as[Long].collect().toSet
    // expected: replay the same batches through the BATCH ops,
    // maintaining the index by hand
    var expIndex = graft.ops.Dedup.minhashIndex(
      docs.limit(0), "text", "doc_id")
    var expected = Set.empty[Long]
    batches.foreach { g =>
      val b = g.toIndexedSeq.toDF("doc_id", "text")
      val adm = graft.ops.Dedup.admitAgainstIndex(
        b, "text", "doc_id", expIndex)
      expected ++= adm.select("doc_id").as[Long].collect()
      expIndex = expIndex.unionAll(
        graft.ops.Dedup.minhashIndex(adm, "text", "doc_id"))
    }
    assert(admitted === expected)
    assert(admitted.size < all.length, "fixture held no duplicates")
    // the admitted corpus is candidate-pair-free: every later
    // near-copy was turned away at the gate
    val texts = docs.where(col("doc_id").isin(admitted.toSeq: _*))
    assert(graft.ops.Dedup.minhashCandidatePairs(
      texts, "text", "doc_id").count() === 0L)
    // a crash-replay of an already-written batch id is a no-op: the
    // standing index excludes that id, so the decision replays
    // identically and the subdir is rewritten with the same rows
    val before = index.orderBy("id", "band_idx")
      .collect().toSeq
    Streaming.mergeDedupIndexBatch(
      batches.head.toIndexedSeq.toDF("doc_id", "text"),
      "text", "doc_id", s"$tmp/index", batchId = 0L)
    val after = Streaming.readDedupIndex(spark, s"$tmp/index")
      .orderBy("id", "band_idx").collect().toSeq
    assert(after === before)
  }

  test("dedup admission never shuffles the standing index (plan) and " +
       "reads each batch as one sorted file set") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val tmp = java.nio.file.Files.createTempDirectory("graft-pix").toString
    val indexDir = s"$tmp/index"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val all = docs.as[(Long, String)].collect()
    val (seed, batch2) = all.splitAt(all.length / 2)
    Streaming.mergeDedupIndexBatch(
      seed.toIndexedSeq.toDF("doc_id", "text"), "text", "doc_id",
      indexDir, batchId = 0L)
    // batch=0 is a few files, no bh= partition dirs: `bh` is a data
    // column, and each file is sorted by (bh, band_hash)
    val batchDir = new java.io.File(s"$indexDir/batch=0")
    assert(!batchDir.listFiles().exists(_.isDirectory))
    val parts = batchDir.listFiles().filter(_.getName.endsWith(".parquet"))
    val buckets = Streaming.readDedupIndex(spark, indexDir)
      .select("bh").distinct().count()
    assert(parts.nonEmpty && parts.length < buckets,
      s"${parts.length} files for $buckets buckets")
    parts.foreach { f =>
      val keys = spark.read.parquet(f.getPath).select("bh", "band_hash")
        .as[(Int, String)].collect().toSeq
      assert(keys === keys.sorted, s"${f.getName} not sorted by bh, band_hash")
    }
    // replicate the sink's admission read path and audit the plan
    val batch = batch2.toIndexedSeq.toDF("doc_id", "text")
    val probe = graft.ops.Dedup.minhashIndex(batch, "text", "doc_id")
      .localCheckpoint()
    val standing = Streaming.dedupIndexScan(spark, indexDir,
        Some(Streaming.DedupIndexKeySchema)).get
      .select("band_idx", "band_hash")
    val adm = graft.ops.Dedup.admitProbed(batch, "doc_id", probe, standing)
    def indexScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("graft-pix")) => s
    }
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = adm.queryExecution.executedPlan
      val scans = indexScans(plan)
      assert(scans.nonEmpty, "standing index is scanned by admission")
      // the scan reads the two band-key columns and nothing else
      assert(scans.forall(_.requiredSchema.fieldNames.toSet ===
        Set("band_idx", "band_hash")), s"index scan reads more:\n$plan")
      // and the index streams straight into a BroadcastHashJoin: on
      // the path from the index scan up to the first broadcast join
      // (which collapses it to batch-key cardinality) there is NO
      // Exchange and no Sort — corpus-scale bytes never shuffle;
      // everything above the join is batch-sized by construction
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      def pathToIndexScan(p: SparkPlan): Option[List[SparkPlan]] =
        if (indexScans(p).nonEmpty && p.children.isEmpty)
          Some(List(p))
        else p.children.view.flatMap(pathToIndexScan).headOption
          .map(p :: _)
      val path = pathToIndexScan(plan)
        .getOrElse(fail("no path to index scan"))
      val belowJoin = path.reverse
        .takeWhile(!_.isInstanceOf[BroadcastHashJoinExec])
      assert(path.reverse.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"index side not consumed by a broadcast join:\n$plan")
      assert(!belowJoin.exists(n => n.isInstanceOf[ShuffleExchangeLike] ||
          n.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
        s"standing index crosses an Exchange/Sort before the join:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    // and the sink-path decision matches the batch op
    val expect = graft.ops.Dedup.admitAgainstIndex(batch, "text", "doc_id",
        spark.read.parquet(indexDir).drop("batch", "bh"))
      .select("doc_id").as[Long].collect().toSet
    assert(adm.select("doc_id").as[Long].collect().toSet === expect)
  }

  test("compactDedupIndex: identical admission/probe pre/post, fewer files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdx").toString
    val indexDir = s"$tmp/index"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val all = docs.as[(Long, String)].collect()
    val slices = all.grouped((all.length + 3) / 4).toSeq
    slices.init.zipWithIndex.foreach { case (g, i) =>
      Streaming.mergeDedupIndexBatch(g.toIndexedSeq.toDF("doc_id", "text"),
        "text", "doc_id", indexDir, i.toLong)
    }
    val probeBatch = slices.last.toIndexedSeq.toDF("doc_id", "text")
    def files(): Int = {
      val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(indexDir))
      try fs.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally fs.close()
    }
    def admitted(): Set[Long] = graft.ops.Dedup.admitAgainstIndex(
        probeBatch, "text", "doc_id",
        Streaming.readDedupIndex(spark, indexDir).drop("batch", "bh"))
      .select("doc_id").as[Long].collect().toSet
    def indexed(): Set[(Long, Int, String)] =
      Streaming.readDedupIndex(spark, indexDir)
        .select("id", "band_idx", "band_hash")
        .as[(Long, Int, String)].collect().toSet
    val (admBefore, idxBefore, filesBefore) = (admitted(), indexed(), files())
    Streaming.compactDedupIndex(spark, indexDir)
    assert(indexed() === idxBefore)
    assert(admitted() === admBefore)
    assert(files() < filesBefore,
      s"compaction did not collapse files: ${files()} vs $filesBefore")
    // batch=-1 plus the CARRIED latest batch dir (never folded: a
    // crash-interrupted trailing batch must keep its own dir so its
    // replay can delete-and-redecide), and the sink keeps appending
    assert(new java.io.File(indexDir).listFiles()
      .count(_.getName.startsWith("batch=")) === 2)
    // replay of the carried latest batch after compaction: identical
    // standing content (the fixed folding hazard)
    Streaming.mergeDedupIndexBatch(
      slices.init.last.toIndexedSeq.toDF("doc_id", "text"),
      "text", "doc_id", indexDir, (slices.init.size - 1).toLong)
    assert(indexed() === idxBefore)
    Streaming.mergeDedupIndexBatch(probeBatch, "text", "doc_id",
      indexDir, 97L)
    assert(Streaming.readDedupIndex(spark, indexDir)
      .select("id").as[Long].collect().toSet ===
      idxBefore.map(_._1) ++ admBefore)
  }

  test("an index in the older batch=<id>/bh=<k>/ layout reads, admits " +
      "and compacts like one written fresh") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lix").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val slices = all.grouped((all.length + 2) / 3).toSeq
    def merge(indexDir: String, i: Int): Set[Long] =
      Streaming.mergeDedupIndexBatch(slices(i).toIndexedSeq.toDF("doc_id",
          "text"), "text", "doc_id", indexDir, i.toLong)
        .select("doc_id").as[Long].collect().toSet
    def rows(indexDir: String, cols: String*): Set[Seq[Any]] =
      Streaming.readDedupIndex(spark, indexDir).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    def bucketDirs(indexDir: String): Seq[String] =
      new java.io.File(indexDir).listFiles().toSeq
        .flatMap(b => Option(b.listFiles()).toSeq.flatten)
        .map(_.getName).filter(_.startsWith("bh="))
    val fresh = s"$tmp/fresh"
    val old = s"$tmp/old"
    merge(fresh, 0)
    merge(fresh, 1)
    // batch 0 as the partitionBy("bh") writer laid it out
    merge(s"$tmp/built", 0)
    spark.read.parquet(s"$tmp/built/batch=0").write.partitionBy("bh")
      .parquet(s"$old/batch=0")
    assert(bucketDirs(old).nonEmpty)
    // one batch ingested on top: the mixed tree reads like the fresh one
    merge(old, 1)
    val cols = Seq("id", "text_hash", "band_idx", "band_hash", "batch", "bh")
    assert(Streaming.readDedupIndex(spark, old).columns.toSeq === cols)
    assert(rows(old, cols: _*) === rows(fresh, cols: _*))
    // compaction folds the old layout into the current one, its files
    // sorted by band_hash
    Streaming.compactDedupIndex(spark, old)
    assert(bucketDirs(old).isEmpty)
    new java.io.File(s"$old/batch=-1").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val h = spark.read.parquet(f.getPath).select("band_hash")
          .as[String].collect().toSeq
        assert(h === h.sorted, s"${f.getName} not sorted by band_hash")
      }
    val key = cols.filterNot(_ == "batch")
    assert(rows(old, key: _*) === rows(fresh, key: _*))
    // and the next batch admits exactly what it admits on the fresh tree
    assert(merge(old, 2) === merge(fresh, 2))
    assert(rows(old, key: _*) === rows(fresh, key: _*))
  }

  test("store lease: compaction interleaved with LIVE merges loses and " +
      "duplicates nothing; contended and stale leases behave") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lease").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val all = docs.as[(Long, String)].collect()
    val slices = all.grouped((all.length + 7) / 8).toSeq
    // sequential reference run (no compaction) — admission decisions
    // must be compaction-invariant, so this is the ground truth
    slices.zipWithIndex.foreach { case (g, i) =>
      Streaming.mergeDedupIndexBatch(g.toIndexedSeq.toDF("doc_id", "text"),
        "text", "doc_id", s"$tmp/ref", i.toLong)
    }
    val refIds = Streaming.readDedupIndex(spark, s"$tmp/ref")
      .select("id").as[Long].collect().toSet
    // interleaved run: a maintenance thread hammers the compactor in a
    // loop WHILE the merges run — the lease serializes each pair, so
    // every interleaving decides like some sequential order
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var stop = false
    val maint = new Thread(() => {
      while (!stop) {
        try Streaming.compactDedupIndex(spark, s"$tmp/live")
        catch { case e: Throwable => errs.add(e); () }
        Thread.sleep(5)
      }
    })
    maint.start()
    try slices.zipWithIndex.foreach { case (g, i) =>
      Streaming.mergeDedupIndexBatch(g.toIndexedSeq.toDF("doc_id", "text"),
        "text", "doc_id", s"$tmp/live", i.toLong)
    } finally { stop = true; maint.join() }
    assert(errs.isEmpty, s"maintenance thread failed: ${errs.peek()}")
    val liveIds = Streaming.readDedupIndex(spark, s"$tmp/live")
      .select("id").as[Long].collect().toSeq
    assert(liveIds.toSet === refIds, "admissions diverged under interleaving")
    // row-count parity with the sequential run: a batch folded into
    // batch=-1 AND still present in its own dir would double its rows
    val refRows = Streaming.readDedupIndex(spark, s"$tmp/ref").count()
    assert(liveIds.size.toLong === refRows,
      "an admitted id's band rows appear twice in the index")
    // every lease released
    assert(!new java.io.File(s"$tmp/.live.lock").exists())
    assert(!new java.io.File(s"$tmp/.ref.lock").exists())

    // contended lease: a FRESH foreign lock makes the next mutator wait
    // and then fail loudly past its timeout (never silently skip)
    val lock = new java.io.File(s"$tmp/.live.lock")
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      Streaming.withStoreLock(spark, Seq(s"$tmp/live"),
        timeoutMs = 300L)(fail("body must not run under a held lease"))
    }
    assert(e.getMessage.contains(".live.lock"))
    // stale lease (dead holder): broken and the mutation proceeds
    assert(lock.setLastModified(System.currentTimeMillis() - 7200000L))
    var ran = false
    Streaming.withStoreLock(spark, Seq(s"$tmp/live"),
      timeoutMs = 2000L) { ran = true }
    assert(ran && !lock.exists())
  }

  test("store lease: racing waiters break ONE stale lease without ever " +
      "overlapping in the critical section") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lease-race")
      .toString
    val root = s"$tmp/store"
    val lock = new java.io.File(s"$tmp/.store.lock")
    assert(lock.createNewFile())
    // a dead holder's lease: mtime far past staleAfterMs
    assert(lock.setLastModified(System.currentTimeMillis() - 60000L))
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val entries = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        try Streaming.withStoreLock(spark, Seq(root),
            timeoutMs = 10000L, staleAfterMs = 500L) {
          val now = inside.incrementAndGet()
          maxInside.getAndUpdate(m => math.max(m, now))
          entries.incrementAndGet()
          Thread.sleep(40) // widen any overlap window
          inside.decrementAndGet()
          ()
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"waiter failed: ${errs.peek()}")
    // every waiter eventually entered, but never two at once — the
    // claim-by-rename break admits exactly one mutator at a time
    assert(entries.get() === 4)
    assert(maxInside.get() === 1,
      s"${maxInside.get()} mutators overlapped in the critical section")
    assert(!lock.exists())
    // no orphaned break-claim files linger
    assert(new java.io.File(tmp).listFiles()
      .count(_.getName.contains(".lock.break.")) === 0)
  }

  test("store lease: a live holder running PAST staleAfterMs heartbeats " +
      "and is never broken") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lease-hb")
      .toString
    val root = s"$tmp/store"
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var holderDone = 0L
    @volatile var waiterEntered = 0L
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // holder: staleAfterMs=200ms, body runs 1s — five stale windows
    // long; heartbeats (every 50ms) must keep the lease alive
    val holder = new Thread(() => {
      try Streaming.withStoreLock(spark, Seq(root),
          timeoutMs = 10000L, staleAfterMs = 200L) {
        inside.incrementAndGet()
        Thread.sleep(1000)
        if (inside.decrementAndGet() != 0) overlapped.set(true)
        holderDone = System.nanoTime()
        ()
      } catch { case e: Throwable => errs.add(e); () }
    })
    holder.start()
    Thread.sleep(100) // let the holder acquire
    val waiter = new Thread(() => {
      try Streaming.withStoreLock(spark, Seq(root),
          timeoutMs = 10000L, staleAfterMs = 200L) {
        waiterEntered = System.nanoTime()
        if (inside.get() != 0) overlapped.set(true)
        ()
      } catch { case e: Throwable => errs.add(e); () }
    })
    waiter.start()
    holder.join(); waiter.join()
    assert(errs.isEmpty, s"lease participant failed: ${errs.peek()}")
    assert(!overlapped.get(),
      "waiter broke a HEARTBEATING holder's lease and entered concurrently")
    assert(waiterEntered > holderDone,
      "waiter entered before the live holder released")
  }

  test("store lease: release is token-fenced — a holder whose lease " +
      "was broken mid-body does NOT delete the new holder's lock") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lease-fence")
      .toString
    val root = s"$tmp/store"
    val lock = new java.io.File(s"$tmp/.store.lock")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Streaming.withStoreLock(spark, Seq(root), timeoutMs = 2000L) {
      // simulate the heartbeat-starved case: while this holder is
      // paused, a waiter broke the (apparently stale) lease and a NEW
      // holder wrote its own token (via the same FS the release path
      // reads through, so the token COMPARISON branch is what runs)
      fs.delete(new HPath(lock.getPath), false)
      val out = fs.create(new HPath(lock.getPath), false)
      try out.write("new-holder-token".getBytes("UTF-8"))
      finally out.close()
      ()
    }
    // the fenced release saw a foreign token and left the lock alone
    assert(lock.exists(), "release deleted the new holder's live lock")
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath),
      "UTF-8") === "new-holder-token")
  }

  test("store lease: a lock on a flat-namespace object store is " +
      "REJECTED at acquire; the explicit override proceeds through the " +
      "settle-and-double-read-back fallback") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lease-probe").toString
    val root = s"s3a://$tmp/store"
    val lockOps = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // a local-disk-backed FileSystem that REPORTS scheme s3a — the
    // probe must reject on the scheme alone, before any IO
    FaultyLocalFs.withScheme(conf, "s3a") {
      case (op, p) if p.getName == ".store.lock" => lockOps.add(op)
    } {
      val e = intercept[IllegalStateException] {
        Streaming.withStoreLock(spark, Seq(root), timeoutMs = 500L) {
          fail("body must not run on a rejected object-store lease")
        }
      }
      assert(e.getMessage.contains("flat-namespace") &&
        e.getMessage.contains("HDFS/posix") &&
        e.getMessage.contains("graft.lease.assumeAtomicCreate") &&
        !e.getMessage.contains("graft.lease.backend"),
        s"rejection must name both ways out: ${e.getMessage}")
      assert(lockOps.isEmpty, s"the probe touched the lock: $lockOps")

      // explicit override: proceeds through the settle-verify
      // fallback (the mock is local-disk-backed, so it really locks):
      // one create, then two spaced read-backs before the body runs
      conf.setBoolean("graft.lease.assumeAtomicCreate", true)
      try {
        var ran = false
        Streaming.withStoreLock(spark, Seq(root), timeoutMs = 5000L) {
          assert(lockOps.toArray.toSeq === Seq("create", "open", "open"))
          ran = true
        }
        assert(ran, "override did not run the body")
        assert(!new java.io.File(s"$tmp/.store.lock").exists(),
          "lock not released after override run")
      } finally conf.unset("graft.lease.assumeAtomicCreate")
    }
  }

  test("store lease: local-FS acquisition is O_EXCL-atomic — 16 " +
      "racing acquirers on one absent lock admit exactly one holder " +
      "at a time and no grant is ever duplicated") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lease-excl").toString
    val root = s"$tmp/store"
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ths = (1 to 16).map { _ =>
      new Thread(() => {
        try Streaming.withStoreLock(spark, Seq(root),
          timeoutMs = 30000L, staleAfterMs = 60000L) {
          val n = inBody.incrementAndGet()
          maxSeen.getAndUpdate(m => math.max(m, n))
          Thread.sleep(5)
          inBody.decrementAndGet()
          ()
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ths.foreach(_.start()); ths.foreach(_.join(60000L))
    assert(errs.isEmpty, s"acquirer failed: ${errs.peek()}")
    assert(maxSeen.get() === 1,
      s"${maxSeen.get()} holders were inside the lease at once")
  }

  test("store lease: a backend whose polls THROW transiently is " +
      "re-polled as contention (the body still runs); a persistent " +
      "outage fails at the deadline naming the poll error") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lease-flaky").toString
    val acquires = new java.util.concurrent.atomic.AtomicInteger(0)
    val threw = new java.util.concurrent.atomic.AtomicInteger(0)
    val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
    def reset(failures: Int): Unit = {
      acquires.set(0); threw.set(0); remaining.set(failures)
    }
    // the lock's create throws an SDK-shaped RuntimeException (an
    // IOException would read as plain contention) while `remaining`
    // lasts, then creates normally
    FaultyLocalFs.withScheme(conf, "flakypoll") {
      case ("create", p) if p.getName.endsWith(".lock") =>
        acquires.incrementAndGet()
        if (remaining.getAndDecrement() > 0) {
          threw.incrementAndGet()
          throw new RuntimeException("synthetic store outage")
        }
    } {
      // two throwing acquire polls, then normal grants: a throwing
      // acquire poll is contention, so the lease re-polls — a
      // one-blip filesystem error must not abort the maintenance body
      reset(failures = 2)
      var ran = false
      Streaming.withStoreLock(spark, Seq(s"flakypoll://$tmp/store"),
        timeoutMs = 10000L) { ran = true }
      assert(ran, "transient poll errors aborted the body")
      assert(threw.get() === 2 && acquires.get() >= 3,
        "the throwing polls were not retried through")
      // a filesystem that NEVER stops throwing must not spin forever:
      // the deadline converts it into a loud failure that names the
      // poll error instead of a nonexistent holder
      reset(failures = Int.MaxValue)
      val e = intercept[IllegalStateException] {
        Streaming.withStoreLock(spark, Seq(s"flakypoll://$tmp/store2"),
          timeoutMs = 400L) { fail("body must not run — every poll throws") }
      }
      assert(e.getMessage.contains("polls kept failing") &&
        e.getMessage.contains("store outage"),
        s"timeout did not name the poll error: ${e.getMessage}")
    }
  }

  test("store lease: a throwing breakStale is retried like a throwing " +
      "poll — a one-blip break still frees the stale lease; a " +
      "persistent one fails at the deadline naming the error") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lease-break").toString
    def plantStale(root: String): Unit = {
      val lf = new java.io.File(s"${new java.io.File(root).getParent}" +
        s"/.${new java.io.File(root).getName}.lock")
      java.nio.file.Files.write(lf.toPath,
        "dead-holder/xyz".getBytes("UTF-8"))
      assert(lf.setLastModified(System.currentTimeMillis() - 3600000L))
    }
    val breaks = new java.util.concurrent.atomic.AtomicInteger(0)
    val threw = new java.util.concurrent.atomic.AtomicInteger(0)
    val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
    def reset(failures: Int): Unit = {
      breaks.set(0); threw.set(0); remaining.set(failures)
    }
    // the break's claim-by-rename throws a RuntimeException (one that
    // escapes breakStale) while `remaining` lasts, then renames
    FaultyLocalFs.withScheme(conf, "flakybreak") {
      case ("rename", to) if to.getName.contains(".lock.break.") =>
        breaks.incrementAndGet()
        if (remaining.getAndDecrement() > 0) {
          threw.incrementAndGet()
          throw new RuntimeException("synthetic break outage")
        }
    } {
      reset(failures = 1)
      plantStale(s"$tmp/store")
      var ran = false
      Streaming.withStoreLock(spark, Seq(s"flakybreak://$tmp/store"),
        timeoutMs = 10000L, staleAfterMs = 1000L) { ran = true }
      assert(ran, "one throwing break aborted the waiter")
      assert(threw.get() === 1 && breaks.get() >= 2,
        "the throwing break was not retried")
      reset(failures = Int.MaxValue)
      plantStale(s"$tmp/store2")
      val e = intercept[IllegalStateException] {
        Streaming.withStoreLock(spark, Seq(s"flakybreak://$tmp/store2"),
          timeoutMs = 500L, staleAfterMs = 1000L) {
          fail("body must not run — the stale lease is unbreakable")
        }
      }
      assert(e.getMessage.contains("break attempts kept failing") &&
        e.getMessage.contains("break outage"),
        s"deadline did not name the break error: ${e.getMessage}")
    }
  }

  test("store lease: 8 contenders through a backend whose acquire AND " +
      "mtime polls periodically throw still exclude mutually and every " +
      "body eventually runs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lease-chaos").toString
    val acquirePolls = new java.util.concurrent.atomic.AtomicInteger(0)
    val mtimePolls = new java.util.concurrent.atomic.AtomicInteger(0)
    val threw = new java.util.concurrent.atomic.AtomicInteger(0)
    // deterministic chaos: the lock's create throws every 3rd call and
    // its getFileStatus (the mtime poll) every 5th; grants and releases
    // go through in between
    FaultyLocalFs.withScheme(conf, "chaospoll") {
      case ("create", p) if p.getName.endsWith(".lock") &&
          acquirePolls.incrementAndGet() % 3 == 0 =>
        threw.incrementAndGet()
        throw new RuntimeException("chaos: acquire poll failed")
      case ("getFileStatus", p) if p.getName.endsWith(".lock") &&
          mtimePolls.incrementAndGet() % 5 == 0 =>
        threw.incrementAndGet()
        throw new java.io.IOException("chaos: mtime poll failed")
    } {
      val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ths = (1 to 8).map { _ =>
        new Thread(() => {
          try Streaming.withStoreLock(spark,
            Seq(s"chaospoll://$tmp/store"),
            timeoutMs = 30000L, staleAfterMs = 60000L) {
            val n = inBody.incrementAndGet()
            maxSeen.getAndUpdate(m => math.max(m, n))
            Thread.sleep(3)
            inBody.decrementAndGet()
            done.incrementAndGet()
            ()
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      ths.foreach(_.start()); ths.foreach(_.join(60000L))
      assert(errs.isEmpty, s"contender failed: ${errs.peek()}")
      assert(maxSeen.get() === 1,
        s"${maxSeen.get()} holders were inside the lease at once")
      assert(done.get() === 8,
        s"only ${done.get()}/8 bodies ran — a poll error starved a waiter")
      assert(threw.get() >= 1,
        "chaos filesystem never actually threw — the test exercised " +
          "nothing")
    }
  }

  test("compactors heal a crashed previous compaction before deciding " +
      "anything: a mid-swap crash restores from backup, a stale backup " +
      "is consumed, a consolidated tree is not identity-rewritten") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    val tmp = JFiles.createTempDirectory("graft-heal").toString
    val indexDir = s"$tmp/index"
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "glass furnaces along the coast burned driftwood and kelp"))
    Streaming.mergeDedupIndexBatch(Seq(d(0)).toDF("doc_id", "text"),
      "text", "doc_id", indexDir, 0L)
    Streaming.mergeDedupIndexBatch(Seq(d(1)).toDF("doc_id", "text"),
      "text", "doc_id", indexDir, 1L)
    val rows = Streaming.readDedupIndex(spark, indexDir)
      .drop("batch", "bh").collect().map(_.toSeq).toSet
    // crash BETWEEN atomicSwap's two renames: the data lives only in
    // the backup; the next compactor call must restore it before its
    // few-batches no-op check (the old early return skipped the heal
    // and a later swap would have DESTROYED the backup)
    JFiles.move(Paths.get(indexDir), Paths.get(s"$tmp/.index.compact.old"),
      StandardCopyOption.ATOMIC_MOVE)
    Streaming.compactDedupIndex(spark, indexDir)
    assert(Streaming.readDedupIndex(spark, indexDir)
      .drop("batch", "bh").collect().map(_.toSeq).toSet === rows)
    // compacted layout: batch=-1 + carried latest
    assert(new java.io.File(indexDir).listFiles()
      .map(_.getName).count(_.startsWith("batch=")) === 2)
    // stale backup alongside a live target: consumed on the next call,
    // which otherwise no-ops ({batch=-1, latest} has nothing to fold —
    // dir mtimes prove no rewrite happened)
    JFiles.createDirectory(Paths.get(s"$tmp/.index.compact.old"))
    val mtime = new java.io.File(s"$indexDir/batch=-1").lastModified()
    Streaming.compactDedupIndex(spark, indexDir)
    assert(!new java.io.File(s"$tmp/.index.compact.old").exists())
    assert(new java.io.File(s"$indexDir/batch=-1").lastModified()
      === mtime)
    assert(Streaming.readDedupIndex(spark, indexDir)
      .drop("batch", "bh").collect().map(_.toSeq).toSet === rows)
  }

  test("fsck: a hits-history gap (interleaved minHits=1 sweep) is an " +
      "INFO finding naming the re-baseline cost") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fsckgap")
      .toString
    val pa = "red kites circled the high chalk downs hunting"
    val benchA = s"$pa over quiet farmland all afternoon long today"
    val benchC = "nine grey herons waited motionless along the " +
      "frozen millpond margin at first light"
    Streaming.curationIngestBatch(
      Seq((1L, s"$pa through a cold clear morning sky"),
        (2L, "carpenters sawed seasoned oak planks beside the " +
          "tithe barn doors all morning")).toDF("doc_id", "text"),
      "text", "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, benchA)).toDF("bid", "text"), "text", s"$tmp/bench",
      0L, n = 8)
    // sweep 0 at minHits=2 establishes the hit-count base
    Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      s"$tmp/bench", minHits = 2L)
    assert(new java.io.File(s"$tmp/decon/hits/base=0").exists())
    assert(Streaming.fsckCurationStore(spark, tmp)
      .where(col("path").endsWith("decon/hits")).isEmpty,
      "a contiguous history must not be flagged")
    // sweep 1 at minHits=1 maintains NO counts — the history now has
    // a committed sweep with no increment
    Streaming.mergeBenchmarkNgramBatch(
      Seq((101L, benchC)).toDF("bid", "text"), "text", s"$tmp/bench",
      1L, n = 8)
    Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      s"$tmp/bench", minHits = 1L)
    val f = Streaming.fsckCurationStore(spark, tmp)
      .where(col("path").endsWith("decon/hits")).collect()
    assert(f.length === 1 && f(0).getString(2) === "info",
      s"hits gap must surface as ONE info finding: ${f.toSeq}")
    assert(f(0).getString(3).contains("sweep(s) 1") &&
      f(0).getString(3).contains("full-registry"),
      s"detail must name the gap and the re-baseline cost: ${f(0)}")
  }

  test("fsck: stats lagging the sweep mark (_sweep_subtracted behind " +
      "_sweep with tombstone sweeps in the window) is an INFO finding " +
      "naming the repair; applying the repair clears it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fscklag")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose2 = "glass furnaces along the coast burned driftwood and " +
      "kelp ash to melt sand into pale green bottles"
    Streaming.curationIngestBatch(
      Seq((1L, prose1), (2L, prose2)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, prose2)).toDF("bid", "text"), "text", s"$tmp/bench",
      0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      s"$tmp/bench") === 1L)
    // the sweep tombstoned doc 2 but its stats deltas are unapplied
    val f = Streaming.fsckCurationStore(spark, tmp)
      .where(col("area") === "stats").collect()
    assert(f.length === 1 && f(0).getString(2) === "info",
      s"stats lag must surface as ONE info finding: ${f.toSeq}")
    assert(f(0).getString(3).contains("subtractTombstonedStats"),
      s"detail must name the O(tombstoned docs) repair: ${f(0)}")
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 1L)
    assert(Streaming.fsckCurationStore(spark, tmp)
      .where(col("area") === "stats").isEmpty,
      "an applied repair must clear the lag finding")
  }

  test("hits base fold drops already-tombstoned docs — they can never " +
      "cross the threshold again — and sweep results are unchanged") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setInt("graft.decon.hitsCompactEvery", 1)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hitsprune")
        .toString
      val pa = "red kites circled the high chalk downs hunting"
      val pb = "black barges slid beneath the iron bridge upstream"
      val docX = s"$pa meanwhile the village fair spread bright " +
        s"awnings over wet cobbles $pb"
      val docY = "carpenters sawed seasoned oak planks beside the " +
        "tithe barn doors all morning"
      Streaming.curationIngestBatch(
        Seq((1L, docX), (2L, docY)).toDF("doc_id", "text"), "text",
        "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
      def cleanIds() = Streaming.readCleanCorpus(spark, tmp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      def baseIds(k: Long) =
        try spark.read.parquet(s"$tmp/decon/hits/base=$k")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        catch { // part-less dir: an all-pruned (empty) base
          case _: org.apache.spark.sql.AnalysisException => Set.empty[Long]
        }
      // sweeps 0-1 split docX's hits (1 vs A + 1 vs B → tombstoned at
      // sweep 1); sweeps 3-4 split docY's the same way; sweep 2
      // matches nothing. Folds land at sweeps 2 and 4 (threshold 1)
      val benches = Seq(
        s"$pa over quiet farmland all afternoon long today",
        s"$pb toward open tide gates at dusk slowly",
        "nine grey herons waited motionless along the frozen " +
          "millpond margin at first light",
        "carpenters sawed seasoned oak planks beside the tithe " +
          "stone wall at noon",
        "planks beside the tithe barn doors all morning before the " +
          "rain arrived")
      for ((b, i) <- benches.zipWithIndex) {
        Streaming.mergeBenchmarkNgramBatch(
          Seq((100L + i, b)).toDF("bid", "text"), "text",
          s"$tmp/bench", i.toLong, n = 8)
        Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
          s"$tmp/bench", minHits = 2L)
        if (i == 1) assert(cleanIds() === Set(2L),
          "split-hit docX not tombstoned at sweep 1")
        if (i == 2) {
          // the sweep-2 fold must NOT carry tombstoned doc 1's rows —
          // dead weight a 100 TB store would otherwise accrete forever
          assert(new java.io.File(s"$tmp/decon/hits/base=2").exists())
          assert(!baseIds(2L).contains(1L),
            s"folded base still carries tombstoned doc 1: ${baseIds(2L)}")
        }
      }
      // post-fold sweeps still threshold correctly: docY's split hits
      // (sweeps 3 + 4) straddle the pruned base and cross the line
      assert(cleanIds() === Set.empty[Long],
        "split-hit docY not caught across the pruned fold")
      // the sweep-4 fold keeps docY (tombstoned only AFTER the fold's
      // write commits) and still excludes doc 1 — pruning is selective
      assert(baseIds(4L) === Set(2L))
    } finally conf.unset("graft.decon.hitsCompactEvery")
  }

  test("corpus schema cache: a root REBUILT under a new schema at the " +
      "same path is re-read, not judged by the stale cached shape") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-schemaevict")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    val prose3 = "the survey marked every boundary stone and recorded " +
      "the field names the parish had used for centuries"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // rebuild the store in place under an EVOLVED schema (the path the
    // rejection error itself recommends: re-ingest under a new shape)
    def rmr(p: String): Unit = {
      val d = new java.io.File(p)
      Option(d.listFiles).foreach(_.foreach(f => rmr(f.getPath)))
      d.delete(); ()
    }
    rmr(tmp)
    // the cached old shape must not reject the new store's first batch
    Streaming.curationIngestBatch(
      Seq((1L, prose1, "en")).toDF("doc_id", "text", "lang"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // nor admit an OLD-shape batch once the new shape stands
    Streaming.curationIngestBatch(
      Seq((2L, prose3, "en")).toDF("doc_id", "text", "lang"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    val e = intercept[IllegalStateException] {
      Streaming.curationIngestBatch(
        Seq((3L, prose3)).toDF("doc_id", "text"), "text",
        "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    }
    assert(e.getMessage.contains("drops [lang:string]"))
    assert(Streaming.readCurationCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
    // the OTHER staleness direction — the dangerous one: a FOREIGN
    // rebuild (another driver) lands a new-shape corpus at the same
    // path while this session's cache still holds the old shape; an
    // old-shape batch MATCHES the stale cache, and admitting it would
    // be exactly the silent column-shadowing the guard exists to
    // prevent. The cache revalidates the footer dir's identity per
    // call, so the fresh dir misses and the batch is judged against
    // the rebuilt shape
    rmr(tmp)
    // foreign rebuild DROPS lang; the session cache still holds the
    // lang shape, and the incoming batch matches the CACHE
    Seq((1L, prose1)).toDF("doc_id", "text")
      .write.parquet(s"$tmp/corpus/batch=0")
    val e2 = intercept[IllegalStateException] {
      Streaming.curationIngestBatch(
        Seq((3L, prose3, "de")).toDF("doc_id", "text", "lang"), "text",
        "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    }
    assert(e2.getMessage.contains("adds [lang:string]"),
      s"stale-cache-matching batch admitted into a rebuilt store: " +
        e2.getMessage)
  }

  test("subtractTombstonedStats: a pre-unit-stamp store whose pending " +
      "sweeps were all clean advances the marker without throwing and " +
      "preserves the units part's absence") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-nounits")
      .toString
    val prose1 = "the river rises slowly through the spring and floods " +
      "the lower meadows before the first haying"
    Streaming.curationIngestBatch(
      Seq((1L, prose1)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // simulate a store written before the units stamp existed
    def rmr(p: String): Unit = {
      val d = new java.io.File(p)
      Option(d.listFiles).foreach(_.foreach(f => rmr(f.getPath)))
      d.delete(); ()
    }
    rmr(s"$tmp/stats/units")
    // a benchmark sharing no 8-gram with the corpus: the sweep commits
    // an EMPTY tombstone set and (units-less) pins no stats delta
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, "nine grey herons waited motionless along the " +
        "frozen millpond margin at first light")).toDF("bid", "text"),
      "text", s"$tmp/bench", 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      s"$tmp/bench") === 0L)
    val histBefore = Streaming.readWordHistogram(spark, s"$tmp/stats")
      .collect().map(_.toSeq).toSet
    // the all-clean sweep applies as a marker-only advance — no raw
    // AnalysisException from the absent units part
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 1L)
    assert(!new java.io.File(s"$tmp/stats/units").exists(),
      "repair must not conjure a units part the store never had")
    assert(Streaming.readWordHistogram(spark, s"$tmp/stats")
      .collect().map(_.toSeq).toSet === histBefore)
    assert(Streaming.subtractTombstonedStats(spark, tmp) === 0L)
  }

  test("store lease: the waiter's timeout exception names the holder " +
      "(pid@host token) and its last heartbeat") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-leasewho")
      .toString
    val root = s"$tmp/store"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val holder = new Thread(() => {
      try Streaming.withStoreLock(spark, Seq(root)) {
        Thread.sleep(1500); ()
      } catch { case t: Throwable => errs.add(t) }
    })
    holder.start()
    Thread.sleep(200) // let the holder acquire
    val e = intercept[IllegalStateException] {
      Streaming.withStoreLock(spark, Seq(root), timeoutMs = 300L) { () }
    }
    holder.join()
    assert(errs.isEmpty, s"holder failed: ${errs.peek()}")
    assert(e.getMessage.contains("held past") &&
      e.getMessage.matches("(?s).*\\d+@\\S+/[0-9a-f-]{36}.*") &&
      e.getMessage.contains("last heartbeat"),
      s"timeout must identify the holder: ${e.getMessage}")
  }

  test("the no-op-sweep warning excludes batches with a pinned gate " +
      "decision — a scheduled sweep on a healthy gated store does not " +
      "cry wolf about batches decontaminated at admission") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-noopwarn").toString
    val bdir = s"$tmp/bench"
    val prose = "the lighthouse keeper logged every passing ship in a " +
      "ledger bound with sailcloth and tar"
    Streaming.curationIngestBatch(
      Seq((1L, prose)).toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.mergeBenchmarkNgramBatch(
      Seq((100L, "benchmark prose that matches nothing here at all " +
        "in any shared eight gram window")).toDF("bid", "text"),
      "text", bdir, 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      bdir) === 0L)
    // batch 1 ingests GATED (pinned decision), batch 2 gate-less;
    // the unchanged-registry sweep's warning must name ONLY batch 2
    Streaming.curationIngestBatch(
      Seq((2L, prose + " beside the northern shoal")).toDF(
        "doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3, Some(bdir))
    Streaming.curationIngestBatch(
      Seq((3L, prose + " under the winter fog")).toDF(
        "doc_id", "text"), "text",
      "doc_id", tmp, 2L, 0.0, 0.0, 1000.0, 8, 4, 3)
    val bos = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(bos, true, "UTF-8"))
    try assert(Streaming.retroDecontaminate(spark, tmp, "text",
      "doc_id", bdir) === 0L)
    finally System.setErr(oldErr)
    val warned = bos.toString("UTF-8")
    assert(warned.contains("batch(es) 2 landed"),
      s"gate-less batch 2 not named by the no-op-sweep warning: $warned")
    assert(!warned.contains("1,2") && !warned.contains("batch(es) 1"),
      s"gated batch 1 wrongly flagged by the no-op-sweep warning: $warned")
  }

  test("schema gate: a corpus root renamed aside mid-compaction (its " +
      ".compact.old backup standing) REJECTS the batch after retries " +
      "instead of self-waiving the schema check; a genuinely-new root " +
      "still waives immediately") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-midswap").toString
    Streaming.curationIngestBatch(
      Seq((1L, "a perfectly ordinary standing document")).toDF(
        "doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    val fs = new HPath(tmp).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // atomicSwap's first rename: the WHOLE corpus root moves aside
    assert(fs.rename(new HPath(s"$tmp/corpus"),
      new HPath(s"$tmp/.corpus.compact.old")))
    // the production default waits 60 s for a realistic object-store
    // swap to finish; the spec shrinks the window so the give-up
    // path itself is what's pinned
    val e = withSqlConf("graft.schemaGate.swapWaitMs" -> "500") {
      intercept[IllegalStateException] {
        Streaming.curationIngestBatch(
          Seq((2L, "an old-shape batch the waiver would have admitted"))
            .toDF("doc_id", "text"), "text",
          "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
      }
    }
    assert(e.getMessage.contains(".corpus.compact.old") &&
      e.getMessage.contains("rejected"),
      s"mid-swap rejection must name the standing backup: ${e.getMessage}")
    // the diagnosis must not overclaim a crash: a LIVE swap can hold
    // this state past any bounded wait, and the message says so
    assert(e.getMessage.contains("mid-swap") &&
      e.getMessage.contains("died between its two renames"),
      s"rejection must name BOTH possible causes: ${e.getMessage}")
    assert(!fs.exists(new HPath(s"$tmp/corpus/batch=1")),
      "a rejected batch left a corpus effect behind")
    // restore (what the crashed compaction's heal does) — the same
    // batch now admits against the standing schema
    assert(fs.rename(new HPath(s"$tmp/.corpus.compact.old"),
      new HPath(s"$tmp/corpus")))
    Streaming.curationIngestBatch(
      Seq((2L, "an old-shape batch the waiver would have admitted"))
        .toDF("doc_id", "text"), "text",
      "doc_id", tmp, 1L, 0.0, 0.0, 1000.0, 8, 4, 3)
    assert(Streaming.readCurationCorpus(spark, tmp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
  }

  test("fsck degrades a THROWING lease backend to a named warn: the " +
      "rest of the pass still reports its findings instead of the " +
      "whole audit aborting on one SDK-shaped error") {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-fsckthrow").toString
    val store = s"$tmp/store"
    new java.io.File(store).mkdirs()
    // a planted non-lease finding the pass must still return: a stale
    // swap backup beside the store
    new java.io.File(s"$tmp/.store.stats.old").mkdirs()
    // every read of the lock throws IOException — the common outage
    // shape (hadoop-aws wraps AWS errors in it)
    FaultyLocalFs.withScheme(conf, "throwaudit") {
      case (_, p) if p.getName.endsWith(".lock") =>
        throw new java.io.IOException("synthetic persistent SDK outage")
    } {
      val f = Streaming.fsckStore(spark, s"throwaudit://$store").collect()
        .map(r => (r.getString(0), r.getString(2), r.getString(3)))
      val lease = f.filter(_._1 == "lease")
      assert(lease.length === 1 && lease(0)._2 === "warn" &&
        lease(0)._3.contains("synthetic persistent SDK outage") &&
        lease(0)._3.contains("UNKNOWN"),
        s"throwing backend not degraded to a named warn: ${f.toSeq}")
      assert(f.exists(x => x._1 == "swap" && x._2 == "warn"),
        s"the non-lease finding was lost to the backend error: ${f.toSeq}")
    }
  }

  test("export shard sizing self-calibrates: the derived count tracks " +
      "a MEASURED on-corpus expansion factor at the configured target, " +
      "the calibration scratch is removed, and a codec the runtime " +
      "cannot encode falls back to the probe-table guess") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-calib").toString
    // 200 mutually-distinct docs (no near-dups for the admission gate
    // to drop) with enough bytes that a tiny shard target fans out
    val docs = (1L to 200L).map(i => (i,
      (1 to 30).map(k => s"w${(i * 31 + k * 7) % 997}").mkString(" ")))
    Streaming.curationIngestBatch(docs.toDF("doc_id", "text"), "text",
      "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    Streaming.snapshotCorpus(spark, tmp, "run")
    val out = s"$tmp/out"
    withSqlConf("graft.export.shardTargetBytes" -> "4096") {
      Streaming.exportSnapshot(spark, tmp, "run", out, "doc_id")
    }
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_MANIFEST")), "UTF-8")
    val n = """"n_shards":(\d+)""".r.findFirstMatchIn(mf).get.group(1).toInt
    def bytesUnder(d: java.io.File): Long =
      Option(d.listFiles()).map(_.map(f =>
        if (f.isDirectory) bytesUnder(f)
        else if (f.getName.startsWith("_") || f.getName.startsWith("."))
          0L
        else f.length()).sum).getOrElse(0L)
    val actual = bytesUnder(new java.io.File(out))
    val ideal = math.ceil(actual / 4096.0).toInt
    assert(n >= math.max(1, ideal / 2) && n <= ideal * 2 + 1,
      s"calibrated count $n is not near the measured ideal $ideal " +
        s"($actual bytes at a 4096 target)")
    assert(ideal > 2, s"fixture too small to exercise the sizing: $ideal")
    assert(!new java.io.File(s"$out/.calibrate").exists(),
      "calibration scratch left behind in the export")
    // the factor itself: gzip must measure tighter than plain, and an
    // unencodable codec (zstd text sinks need native hadoop, absent
    // here) must fall back (None) instead of failing the export
    val fs = new HPath(tmp).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cand = Streaming.pinnedFiles(fs, tmp, Seq(0L))
    assert(cand.nonEmpty && cand.forall { case (p, len) =>
      len > 0 && !new HPath(p).getName.startsWith("_") },
      s"pinnedFiles must return only data files: $cand")
    val fPlain = Streaming.measuredExpansion(spark, cand,
      None, s"$tmp/cal1")
    val fGz = Streaming.measuredExpansion(spark, cand,
      Some("gzip"), s"$tmp/cal2")
    assert(fPlain.exists(f => f > 0.5 && f < 20.0),
      s"plain factor implausible: $fPlain")
    assert(fGz.exists(f => f > 0.0 && f < fPlain.get),
      s"gzip factor must be tighter than plain: $fGz vs $fPlain")
    // zstd text sinks need native hadoop (absent here) — but the
    // parquet-side second fallback still MEASURES it: zstd-jni ships
    // with Spark, so the plain-JSONL factor scaled by the parquet
    // none→zstd ratio replaces the 0.55 guess with a number from
    // THIS corpus
    val bos = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(bos, true, "UTF-8"))
    val fZstd =
      try Streaming.measuredExpansion(spark, cand,
        Some("zstd"), s"$tmp/calz")
      finally System.setErr(oldErr)
    assert(bos.toString("UTF-8").contains("parquet-side ratio"),
      s"zstd calibration must say it went parquet-side: $bos")
    assert(fZstd.exists(f => f > 0.0 && f < fPlain.get),
      s"parquet-side zstd factor must be tighter than plain: " +
        s"$fZstd vs $fPlain")
    assert(!new java.io.File(s"$tmp/calz").exists(),
      "calibration left its scratch behind")
    // a codec NOTHING can encode falls back to None (the probe-table
    // guess) instead of failing the export
    assert(Streaming.measuredExpansion(spark, cand,
      Some("nosuchcodec"), s"$tmp/calx").isEmpty,
      "an unencodable codec must fall back, not fail")
    assert(!new java.io.File(s"$tmp/calx").exists(),
      "failed calibration left its scratch behind")
  }

  test("export shard sizing SELF-HEALS on a compressibility-adversarial " +
      "corpus: when the one calibration file's mode misprices the " +
      "byte-majority and the mean shard lands >2x target, the export " +
      "re-encodes once at the now-exact count; explicit counts are " +
      "never touched") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-skewheal").toString
    // batch 0: hyper-compressible under gzip-vs-snappy asymmetry
    // (one row-unique 32-char unit repeated — snappy and gzip both
    // crush it, gzip ~9x beyond snappy) and the LARGEST parquet file,
    // so it IS the calibration candidate at test scale; batches 1-2:
    // distinct sha512 hex (snappy near-1x, gzip ~0.55x) carrying the
    // OUTPUT-byte majority — the exact shape of the skew fixture that
    // landed one 3.2x-target shard at full scale (PERF.md)
    import spark.implicits._
    val compressible = spark.range(9000L).toDF("doc_id")
      .selectExpr("doc_id", "repeat(md5(cast(doc_id as string)), 200) as text")
    compressible.coalesce(1)
      .write.parquet(s"$tmp/corpus/batch=0")
    for (b <- 1 to 2)
      spark.range(b * 10000L, b * 10000L + 330L).toDF("doc_id")
        .selectExpr("doc_id",
          "concat_ws('', transform(sequence(1, 40), " +
            "i -> sha2(concat(cast(doc_id as string), '-', i), 512))) as text")
        .coalesce(1)
        .write.parquet(s"$tmp/corpus/batch=$b")
    Streaming.snapshotCorpus(spark, tmp, "sk")
    val out = s"$tmp/out"
    val bos = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(bos, true, "UTF-8"))
    val target = 262144L // 256 KB
    // dynamic partition-overwrite is the NASTIER mode for the
    // re-encode (an overwrite would only replace the shard values it
    // writes, stranding the down-sized tail as duplicates) — the
    // audit deletes the first attempt explicitly, so the round-trip
    // count below stays exact even here
    try withSqlConf(
      "graft.export.shardTargetBytes" -> target.toString,
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Streaming.exportSnapshot(spark, tmp, "sk", out, "doc_id",
        codec = Some("gzip"))
    } finally System.setErr(oldErr)
    assert(bos.toString("UTF-8").contains("re-encoding once at"),
      s"the oversize audit did not fire on the skewed corpus: $bos")
    def bytesUnder(d: java.io.File): Long =
      Option(d.listFiles()).map(_.map(f =>
        if (f.isDirectory) bytesUnder(f)
        else if (f.getName.startsWith("_") || f.getName.startsWith("."))
          0L
        else f.length()).sum).getOrElse(0L)
    val actual = bytesUnder(new java.io.File(out))
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_MANIFEST")), "UTF-8")
    val n = """"n_shards":(\d+)""".r.findFirstMatchIn(mf).get.group(1).toInt
    val ideal = math.max(1, math.ceil(actual.toDouble / target).toInt)
    assert(math.abs(n - ideal) <= 1,
      s"manifest count $n is not the exact post-audit count $ideal")
    assert(actual.toDouble / n <= 2.0 * target,
      s"mean shard ${actual / n} still exceeds 2x the $target target")
    // the healed export still round-trips the exact snapshot view
    assert(spark.read.json(out).count() === 9000L + 330L + 330L)
    // the heal stages its re-encode in a sibling temp dir (so a death
    // mid-heal cannot leave the caller with nothing) and swaps it in:
    // a successful heal must leave no staging dir behind
    assert(!new java.io.File(s"$out.heal.tmp").exists(),
      "the heal's staging dir survived a successful swap")
    // an EXPLICIT count is a caller contract: no audit, no rewrite
    val bos2 = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(bos2, true, "UTF-8"))
    try withSqlConf("graft.export.shardTargetBytes" -> target.toString) {
      Streaming.exportSnapshot(spark, tmp, "sk", s"$tmp/outx", "doc_id",
        nShards = 1, codec = Some("gzip"))
    } finally System.setErr(oldErr)
    assert(!bos2.toString("UTF-8").contains("re-encoding"),
      "an explicit nShards was second-guessed by the audit")
    val mfx = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/outx/_MANIFEST")), "UTF-8")
    assert(mfx.contains(""""n_shards":1"""), mfx)
  }

  test("the export size audit prices the files that EXIST, not the " +
      "requested count: a derived shard count far above the doc count " +
      "leaves most hash buckets empty, and the oversize breach of the " +
      "actual files must still trigger the re-encode") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-auditcount").toString
    // 5 docs of ~3 MB against a 1 MB target with 30 REQUESTED shards:
    // at most 5 data files exist (hash(id) mod 30 over 5 ids), each
    // ~3x the target — mean over the request (15 MB / 30 = 0.5 MB)
    // reads as in-envelope and the breach escapes; mean over the
    // actual files (3 MB) names it
    val payload = spark.range(5).selectExpr("id as doc_id",
      "repeat(md5(cast(id as string)), 93750) as text")
    val target = 1048576L
    val bos = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(bos, true, "UTF-8"))
    val (n, shards) =
      try withSqlConf("graft.export.shardTargetBytes" -> target.toString) {
        Streaming.writeJsonlShardsSized(spark, payload, "doc_id",
          s"$tmp/out", 30, None, derived = true)
      } finally System.setErr(oldErr)
    assert(bos.toString("UTF-8").contains("re-encoding once at"),
      "a >2x-target mean over the ACTUAL files escaped the audit " +
        s"(requested-count mean would): $bos")
    assert(n === 5L)
    // the corrective count is exact from the actual bytes (~15 MB /
    // 1 MB), not the doc-starved request
    assert(shards >= 13 && shards <= 17,
      s"corrective count $shards is not ceil(actual/target) ~ 15")
    assert(spark.read.json(s"$tmp/out").count() === 5L)
    assert(!new java.io.File(s"$tmp/out.heal.tmp").exists())
  }

  test("EVERY export sweeps a dead heal's leavings: a stale " +
      ".heal.tmp (a prior heal that died between its delete and " +
      "rename) is removed even by a run whose own sizing is right " +
      "and never visits the heal branch — without this the complete " +
      "duplicate export would stand beside the real one forever") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-healstale").toString
    val out = s"$tmp/out"
    // the stale staging dir a crashed heal leaves: a real (complete)
    // prior re-encode, not just an empty marker
    val staleDir = new java.io.File(s"$out.heal.tmp")
    assert(staleDir.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out.heal.tmp/part-00000"),
      "{\"doc_id\":999}\n".getBytes("UTF-8"))
    val payload = spark.range(20).selectExpr("id as doc_id",
      "md5(cast(id as string)) as text")
    val bos = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(bos, true, "UTF-8"))
    val (n, shards) =
      try Streaming.writeJsonlShardsSized(spark, payload, "doc_id",
        out, 1, None, derived = true)
      finally System.setErr(oldErr)
    assert(n === 20L && shards === 1)
    assert(!bos.toString("UTF-8").contains("re-encoding once at"),
      "a correctly-sized export must not heal")
    assert(bos.toString("UTF-8").contains("stale heal leavings"),
      s"the sweep must name what it removed: $bos")
    assert(!staleDir.exists(),
      "the dead heal's staging dir survived a clean export run")
    // the swept export itself is intact — exactly the 20 docs
    assert(spark.read.json(out).count() === 20L)
  }

  test("exporting a FULLY-tombstoned snapshot (a legitimate state " +
      "after a whole-corpus decontamination) writes an empty but " +
      "valid export — manifest n_docs 0 with the schema still " +
      "carried — instead of crashing on the pruned write observation") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-emptyexport").toString
    val prose = "the cartographer traced every shoreline twice before " +
      "inking the final chart of the archipelago"
    val prose2 = "a winter caravan crossed the dry salt basin carrying " +
      "lanterns spices and twelve sealed letters north"
    Streaming.curationIngestBatch(
      Seq((1L, prose), (2L, prose2)).toDF("doc_id", "text"),
      "text", "doc_id", tmp, 0L, 0.0, 0.0, 1000.0, 8, 4, 3)
    // the benchmark IS the corpus prose: the sweep tombstones every doc
    Streaming.mergeBenchmarkNgramBatch(
      Seq((9L, prose), (10L, prose2)).toDF("bid", "text"), "text",
      s"$tmp/bench", 0L, n = 8)
    assert(Streaming.retroDecontaminate(spark, tmp, "text", "doc_id",
      s"$tmp/bench") === 2L)
    Streaming.snapshotCorpus(spark, tmp, "empty")
    assert(Streaming.readSnapshot(spark, tmp, "empty").count() === 0L)
    Streaming.exportSnapshot(spark, tmp, "empty", s"$tmp/out", "doc_id")
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/out/_MANIFEST")), "UTF-8")
    assert(mf.contains(""""n_docs":0"""), mf)
    assert(mf.contains("doc_id"),
      s"even an empty export must carry the view schema: $mf")
  }

  test("forceRetroSweep on a torn registry (_batch mark but no meta/) " +
      "throws a NAMED error pointing at fsckStore, not a bare " +
      "NoSuchElementException") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-tornforce").toString
    val bdir = s"$tmp/bench"
    new java.io.File(bdir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$bdir/_batch"), "0".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Streaming.forceRetroSweep(spark, tmp, "text", "doc_id", bdir)
    }
    assert(e.getMessage.contains(bdir) &&
      e.getMessage.contains("meta") &&
      e.getMessage.contains("fsckStore"),
      s"torn registry must surface as a named error: ${e.getMessage}")
  }
}
