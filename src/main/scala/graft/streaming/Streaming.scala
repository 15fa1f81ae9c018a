package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Per-EPISODE swap-wait bookkeeping for the schema gate's
  * absent-root-with-backup state: one deadline + exponential backoff
  * per episode, where an episode ends the moment the root (or the
  * backup) is observed again — `reset()` there, so a LATER episode in
  * the same read (footer-read retries can interleave one) waits its
  * own full window instead of inheriting a spent deadline and
  * rejecting immediately while the error claims "the whole swap-wait
  * window". Clock and sleep are injected parameters of `tick` so the
  * per-episode contract is spec-pinned without racing a filesystem
  * (SwapWaitSpec). */
private[graft] final class SwapWait(waitMs: Long) {
  private var deadline = -1L
  private var sleepMs = 100L

  /** The episode ended (root or backup observed): the next
    * absent-with-backup observation starts a fresh window. */
  def reset(): Unit = { deadline = -1L; sleepMs = 100L }

  /** One absent-with-backup observation at `nowMs`: true = still
    * inside this episode's window (one backoff sleep taken); false =
    * the window is spent — give up. */
  def tick(nowMs: Long,
      doSleep: Long => Unit = Thread.sleep): Boolean = {
    if (deadline < 0L) deadline = nowMs + waitMs
    if (nowMs >= deadline) false
    else {
      doSleep(sleepMs)
      sleepMs = math.min(sleepMs * 2L, 5000L)
      true
    }
  }
}

/** The streaming curation store (SURVEY §2.11): a continuously
  * ingested training corpus kept under one root directory.
  *
  * Each micro-batch is quality-gated, optionally decontaminated
  * against a standing benchmark n-gram registry
  * ([[Streaming.benchmarkIndexSink]]), near-dup admitted against a
  * standing index (MinHash LSH or exact Jaccard), written as payload
  * under `corpus/batch=<id>/`, and folded into the `stats/` store
  * ([[Streaming.curationIngestSink]] /
  * [[Streaming.curationIngestSinkExact]]). Around the ingest sit the
  * store's maintenance passes: retroactive decontamination sweeps,
  * stats rebuild and repair, compaction, named snapshots with diffs
  * and exports, and `fsck` audits.
  *
  * Every effect is exactly-once under a checkpoint replay: per-batch
  * directories are deterministic paths rewritten identically, and the
  * aggregate stores swap wholesale behind a `_batch` high-water mark.
  * Writers and maintenance passes on one root serialize through the
  * store lease ([[Streaming.withStoreLock]]).
  */
object Streaming {

  /** The Append-mode micro-batch writer every store sink shares: each
    * batch goes to `f` with its batch id. No-data batches (watermark
    * advancement) must not touch the store, so `f` tests emptiness:
    * the curation sinks read it from their quality gate's checkpoint
    * ([[curationIngestGated]]) rather than spend a job on it here. */
  private def batchSink(input: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    input.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        f(batch, batchId)
      }

  /** Runs `f` with `name` as the description of the Spark jobs it
    * starts, and restores the caller's description after: each step of
    * a micro-batch names its jobs to listeners and the UI. */
  private def inStep[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try f finally sc.setJobDescription(caller)
  }

  /** `df` local-checkpointed, with the number of its rows where
    * `counted` holds, observed by the checkpoint's own job: the
    * emptiness tests of a micro-batch cost no action of their own. */
  private def checkpointCounting(df: DataFrame,
      counted: Column = lit(true)): (DataFrame, Long) = {
    val rows = org.apache.spark.sql.Observation()
    val cp = df.observe(rows, count(when(counted, 1)).as("n"))
      .localCheckpoint()
    (cp, rows.get("n").asInstanceOf[Long])
  }

  private type HPath = org.apache.hadoop.fs.Path

  /** One sub-table of an incrementally-maintained stats store:
    * `name/` parquet under the store dir, merged per batch with
    * [[graft.ops.Warehouse.mergeAggDelta]] on `keys` over `measures`. */
  private[graft] case class StorePart(name: String, keys: Seq[String],
                                      measures: Seq[String])

  /** Fold one micro-batch's delta tables into a stats store, replacing
    * the store directory WHOLESALE via
    * [[graft.ops.Warehouse.atomicSwap]] with a `_batch` high-water
    * mark — the shared exactly-once machinery of the curation stats
    * store and the benchmark registry. A crash leaves either the old
    * store (the checkpoint replays the batch; the merge reruns) or the
    * new one (the replayed id ≤ `_batch` and is skipped); a half-merged
    * state is unrepresentable because the whole store swaps in one
    * rename. */
  private[graft] def mergeStoreBatch(statsDir: String, batchId: Long,
      deltas: Seq[(StorePart, DataFrame)],
      customMerge: Map[String, (Option[DataFrame], DataFrame) => DataFrame]
        = Map.empty): Unit = {
    require(deltas.nonEmpty)
    val spark = deltas.head._2.sparkSession
    val dir = new HPath(statsDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new HPath(dir.getParent, s".${dir.getName}.stats.old")
    val tmp = new HPath(dir.getParent, s".${dir.getName}.stats.tmp")
    graft.ops.Warehouse.restoreFromBackup(fs, dir, backup)
    fs.delete(tmp, true)
    val markFile = new HPath(dir, "_batch")
    val mark: Long = readLongMarker(fs, markFile).getOrElse(-1L)
    if (batchId <= mark) {
      // batchId == mark is the normal exactly-once skip (the last
      // merged batch replaying after a crash). Anything BELOW the
      // mark is the FRESH-CHECKPOINT signature: a new stream pointed
      // at an existing store silently no-ops every merge until its
      // ids pass the mark — data loss by misconfiguration, so say it
      // loudly on every skipped batch, not only batch 0.
      if (batchId < mark)
        System.err.println(s"[store] WARNING: batch $batchId < _batch " +
          s"mark $mark at $statsDir — this looks like a FRESH " +
          "checkpoint pointed at an existing store; its batches are " +
          s"being silently skipped until ids exceed $mark. Use the " +
          "original checkpoint, or a new store directory.")
      return // checkpoint replay of a merged batch
    }
    deltas.foreach { case (part, delta) =>
      // the prior is read with the delta's declared schema: each part
      // was written by this merge from a delta of the same shape, and
      // inferring it from the footers would cost a Spark job per part
      val prior =
        if (fs.exists(new HPath(dir, part.name)))
          Some(spark.read.schema(delta.schema)
            .parquet(s"$statsDir/${part.name}"))
        else None
      // a part's merge sums its measures per key unless the caller
      // supplies a custom fold — e.g. the unit guards of the `meta` and
      // `units` parts, which check the prior before merging
      val sums = part.measures.map(m => sum(col(m)).as(m))
      val merged = customMerge.get(part.name) match {
        case Some(f) => f(prior, delta)
        case None => prior.fold(delta)(p => p.unionByName(delta)
          .groupBy(part.keys.map(col): _*).agg(sums.head, sums.tail: _*))
      }
      merged.write.parquet(s"$tmp/${part.name}")
    }
    // carry top-level marker files OTHER maintainers own (e.g. the
    // stats repair's _sweep_subtracted) across the swap — the merge
    // rebuilds only its own parts and _batch, and dropping a foreign
    // marker would silently reset that maintainer's progress
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("_") &&
          st.getPath.getName != "_batch" &&
          st.getPath.getName != "_SUCCESS")
        .foreach { st =>
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
            new HPath(tmp, st.getPath.getName), false,
            spark.sparkContext.hadoopConfiguration)
        }
    val out = fs.create(new HPath(tmp, "_batch"), true)
    try out.write(batchId.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    graft.ops.Warehouse.atomicSwap(fs, dir, tmp, backup)
  }

  /** Standing BENCHMARK n-gram registry for decontamination: stream
    * evaluation sets in as they are registered (benchmarks arrive over
    * time — new eval suites, held-out splits, customer test sets) and
    * the store accumulates their distinct n-gram digests additively
    * behind the `_batch` mark. [[decontaminateAgainstIndex]] then
    * scores ANY corpus frame against everything registered so far
    * without re-reading a single benchmark document — the standing-
    * store form of [[graft.ops.Dedup.ngramContamination]], sharing its
    * digest and scoring code so the two paths cannot drift.
    *
    * State is the registry's distinct gram set — benchmark-sized
    * (thousands of documents, ≪ corpus), which is what makes the probe
    * side a broadcast: the 100 TB corpus is scored in ONE scan-stage
    * pass with zero corpus shuffle beyond the doc-grain aggregation.
    * The gram width `n` is a UNIT (an n=8 store probed at n=13 would
    * silently match nothing), so it is stamped into a `meta/` row at
    * the first merge; a sink configured with a different `n` fails
    * loudly, and the reader takes `n`
    * from the store rather than trusting the caller. */
  def benchmarkIndexSink(docs: DataFrame, textCol: String,
                         statsDir: String, checkpoint: String,
                         n: Int = 8) =
    batchSink(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty)
        mergeBenchmarkNgramBatch(batch, textCol, statsDir, batchId, n)
    }

  private[graft] def mergeBenchmarkNgramBatch(batch: DataFrame,
      textCol: String, statsDir: String, batchId: Long,
      n: Int): Unit =
    mergeStoreBatch(statsDir, batchId, Seq(
      StorePart("meta", Seq("n"), Seq("n_batches")) ->
        batch.sparkSession.range(1)
          .select(lit(n).as("n"), lit(1L).as("n_batches")),
      // n_batches, not n_docs: benchGramDigests distincts per delta,
      // so the per-gram count here is always 1 and the sum-merge
      // yields the number of registry BATCHES containing the gram —
      // the column is named for what it actually counts
      StorePart("ngrams", Seq("h"), Seq("n_batches")) ->
        graft.ops.Dedup.benchGramDigests(batch, textCol, n)
          .groupBy(col("__h").as("h"))
          .agg(count(lit(1)).as("n_batches"))
          // first_batch = the registry batch that INTRODUCED the gram
          // — the watermark column [[retroDecontaminate]] prunes on,
          // so each sweep broadcasts only the grams registered since
          // the previous sweep. min-merged below: a gram re-registered
          // by a later benchmark keeps its earliest batch (it was
          // already sweepable then; re-scanning it would be redundant)
          .withColumn("first_batch", lit(batchId))),
      customMerge = Map(
        "meta" -> { (prior, delta) =>
          prior.foreach { p =>
            val stored = p.select("n").collect().map(_.getInt(0)).toSeq
            require(stored == Seq(n),
              s"benchmark n-gram store at $statsDir was built with n=" +
                s"${stored.mkString(",")} but this sink is configured " +
                s"with n=$n — the digests would silently never match; " +
                "match n or rebuild the store")
          }
          prior.map(p => graft.ops.Warehouse.mergeAggDelta(
              p, delta, Seq("n"), Seq("n_batches")))
            .getOrElse(delta)
        },
        "ngrams" -> { (prior, delta) =>
          prior match {
            case Some(_) =>
              // read with its own footers, not the delta's schema: an
              // older store's layout differs. A pre-watermark store
              // carries no first_batch: stamp 0
              // ("registered since forever") so the first sweep over
              // an upgraded store still scans every gram. A pre-rename
              // store carries the count as n_docs: adopt it as
              // n_batches (it always WAS the batch count — see the
              // sink's comment)
              val p0 = batch.sparkSession.read
                .parquet(s"$statsDir/ngrams")
              val p1 = if (p0.columns.contains("n_batches")) p0
                else p0.withColumnRenamed("n_docs", "n_batches")
              val p = if (p1.columns.contains("first_batch")) p1
                else p1.withColumn("first_batch", lit(0L))
              p.unionByName(delta).groupBy("h")
                .agg(sum("n_batches").as("n_batches"),
                  min("first_batch").as("first_batch"))
            case None => delta
          }
        }))

  /** The standing (h, n_batches) benchmark gram-digest table of a
    * [[benchmarkIndexSink]] — n_batches counts the registry BATCHES
    * containing the gram (digests are distinct per delta), not
    * documents. */
  def readBenchmarkNgrams(spark: SparkSession, statsDir: String): DataFrame =
    spark.read.parquet(s"${readableStoreDir(spark, statsDir)}/ngrams")

  /** Score a corpus frame against the standing benchmark registry —
    * identical output to [[graft.ops.Dedup.ngramContamination]] over
    * the union of every benchmark batch streamed so far (StreamingSpec
    * asserts cell equality at each intermediate state). The gram width
    * comes from the store's own meta row, so a caller cannot probe an
    * n=8 registry with n=13 grams. */
  def decontaminateAgainstIndex(spark: SparkSession, corpus: DataFrame,
                                textCol: String, idCol: String,
                                statsDir: String,
                                minHits: Long = 1L): DataFrame = {
    val (n, grams) = benchmarkRegistry(spark, statsDir).getOrElse(
      throw new IllegalStateException(
        s"no benchmark n-gram store at $statsDir — register at least " +
          "one benchmark batch through benchmarkIndexSink first"))
    graft.ops.Dedup.contaminationAgainstGrams(corpus, grams,
      textCol, idCol, n, minHits)
  }

  /** The standing registry's (n, gram-digest frame with one `__h`
    * column) — None when the store does not exist yet, so a pipeline
    * can wire a decontamination gate before the first benchmark is
    * registered. Errors on a meta row that is not a single `n` (a dir
    * that exists but is not a [[benchmarkIndexSink]] store). */
  private def benchmarkRegistry(spark: SparkSession,
      statsDir: String): Option[(Int, DataFrame)] = {
    val root = readableStoreDir(spark, statsDir)
    val meta = new HPath(s"$root/meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(meta)) None
    else {
      val n = spark.read.parquet(meta.toString)
        .select("n").collect().map(_.getInt(0)).toSeq match {
          case Seq(one) => one
          case other => throw new IllegalStateException(
            s"benchmark n-gram store at $statsDir has no single n in " +
              s"meta (found ${other.mkString(",")}) — not a " +
              "benchmarkIndexSink store?")
        }
      Some((n,
        spark.read.parquet(s"$root/ngrams").select(col("h").as("__h"))))
    }
  }

  /** The readable root of a swap-maintained store WITHOUT mutating
    * anything: the store dir if present, else the backup left by a
    * crashed [[graft.ops.Warehouse.atomicSwap]]. Reads must not run
    * the rename-based heal themselves — a reader racing a LIVE
    * writer's swap (backup renamed aside, new dir not yet in) would
    * "heal" the old state back into place and make the writer's final
    * rename silently fail, losing the merged batch. The writer heals
    * on its next merge; readers just pick the surviving side. */
  private def readableStoreDir(spark: SparkSession, statsDir: String): String = {
    val dir = new HPath(statsDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new HPath(dir.getParent, s".${dir.getName}.stats.old")
    if (!fs.exists(dir) && fs.exists(backup)) backup.toString else statsDir
  }

  /** Number of hash buckets a band hash (or a Jaccard digest / id)
    * maps to, and the MinHash index's bucketing function. In the
    * MinHash dedup index `bh` is a DATA column each batch's files are
    * sorted by, so Parquet row-group min/max narrow a bucket probe; the
    * exact-Jaccard index partitions its `jb=`/`ab=` dirs by the same
    * count. A layout constant of both indexes, not a tunable per
    * call. */
  private[graft] val DedupIndexBuckets = 64
  private[graft] def dedupIndexBucket(bandHash: Column): Column =
    pmod(crc32(bandHash), lit(DedupIndexBuckets)).cast("int")

  /** Admit one batch against an UNBOUNDED standing MinHash index
    * ([[graft.ops.Dedup.admitProbed]]: anti-join on the band key plus
    * in-batch lowest-id-wins) and append the admitted documents' band
    * rows under `batch=<id>/`: a few Parquet files sorted by
    * (`bh`, `band_hash`), as many as the batch has partitions, however
    * many buckets its band hashes touch.
    *
    * Exactly-once without rewriting the store: a replay deletes any
    * partial leftover of its own batch dir, re-decides against exactly
    * the pre-crash standing state, and rewrites identical content.
    * Per-batch writes are O(batch); the standing read scans the two
    * band-key columns with their declared types (no footer inference,
    * no partition fan-out to list) and streams into a broadcast join,
    * and [[compactDedupIndex]] bounds the number of files it opens.
    *
    * Returns the admitted subset (materialized) so composite sinks
    * ([[curationIngestSink]]) can write payloads / fold stats without
    * re-running the admission joins. */
  private[graft] def mergeDedupIndexBatch(batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, batchId: Long,
      numHashes: Int = 8, bands: Int = 4, shingleSize: Int = 3): DataFrame =
    withStoreLock(batch.sparkSession, Seq(indexDir)) {
      healCompactRoot(batch.sparkSession, indexDir)
      mergeDedupIndexBody(batch, textCol, idCol, indexDir, batchId,
        numHashes, bands, shingleSize)
    }

  private def mergeDedupIndexBody(batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, batchId: Long,
      numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    val spark = batch.sparkSession
    val dir = new HPath(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed attempt may have left a partial subdir for THIS batch;
    // remove it so the standing read only sees complete prior batches
    fs.delete(new HPath(dir, s"batch=$batchId"), true)
    // band the batch ONCE; the same frame feeds the admission joins
    // and (less the suppressed ids) the index write
    val probe = inStep(spark, "probe") {
      graft.ops.Dedup.minhashIndex(batch, textCol, idCol, numHashes, bands,
        shingleSize).localCheckpoint()
    }
    try {
      val standing =
        dedupIndexScan(spark, indexDir, Some(DedupIndexKeySchema))
          .getOrElse(probe.limit(0)).select("band_idx", "band_hash")
      // the suppressed ids are decided once and drop out of both the
      // batch (the admitted payload) and the probe (the index rows)
      val suppressed = inStep(spark, "admit") {
        graft.ops.Dedup.suppressedProbed(probe, standing).localCheckpoint()
      }
      try {
        // a doc has band rows iff its text is not null, so the admitted
        // checkpoint counts the docs that bring rows to the index
        val (admitted, indexedDocs) = inStep(spark, "admit") {
          checkpointCounting(
            graft.ops.Dedup.dropSuppressed(batch, idCol, suppressed),
            col(textCol).isNotNull)
        }
        // a batch whose admitted rows carry no band rows (all-null-text,
        // or only band-less docs admitted) must write NOTHING — the skip
        // is deterministic, so a replayed batch skips identically, and no
        // batch= dir without data ever reaches a reader that infers the
        // index schema
        if (indexedDocs > 0L) inStep(spark, "index write") {
          graft.ops.Dedup.dropSuppressed(probe, "id", suppressed)
            // one file per batch partition: the probe is widened for
            // the signature work, not for the index layout
            .coalesce(batch.rdd.getNumPartitions)
            .withColumn("bh", dedupIndexBucket(col("band_hash")))
            .sortWithinPartitions("bh", "band_hash")
            .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
        }
        admitted
      } finally graft.ops.Scale.releaseLocalCheckpoint(suppressed)
    } finally graft.ops.Scale.releaseLocalCheckpoint(probe)
  }

  /** The columns the admission probe reads of a MinHash dedup index:
    * the band key, and `bh` so that the scans of both layouts
    * ([[dedupIndexScan]]) union by name. */
  private[graft] val DedupIndexKeySchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("band_idx", IntegerType),
      StructField("band_hash", StringType), StructField("bh", IntegerType)))
  }

  /** Every `batch=<id>/` dir of a MinHash dedup index in one frame
    * carrying the `batch` partition column and `bh`; None when the
    * index holds no batch dir. Dirs written before `bh` became a data
    * column hold `bh=<k>/` partition dirs instead of files; partition
    * discovery rejects a tree mixing the two depths, so each layout is
    * scanned on its own (under `basePath`, so `batch` is still
    * discovered) and the two are unioned by name. `schema` declares
    * the data columns to read, `bh` included; None infers them from
    * the footers. */
  private[graft] def dedupIndexScan(spark: SparkSession, indexDir: String,
      schema: Option[org.apache.spark.sql.types.StructType])
      : Option[DataFrame] = {
    val dir = new HPath(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch="))
    val (bucketDirs, fileDirs) = batchDirs.partition(
      fs.listStatus(_).exists(_.getPath.getName.startsWith("bh=")))
    def scan(dirs: Seq[HPath]): DataFrame = {
      val r = spark.read.option("basePath", indexDir)
      schema.fold(r)(r.schema).parquet(dirs.map(_.toString): _*)
    }
    Seq(fileDirs, bucketDirs).filter(_.nonEmpty).map(scan)
      .reduceOption(_ unionByName _)
  }

  /** Read a MinHash dedup index ([[mergeDedupIndexBatch]], the
    * `index/` of a [[curationIngestSink]] root): every admitted
    * document's band rows (`id`, `text_hash`, `band_idx`,
    * `band_hash`), the `batch` partition column and the `bh` band-hash
    * bucket, from `batch=<id>/` dirs of either layout
    * ([[dedupIndexScan]]). */
  def readDedupIndex(spark: SparkSession, indexDir: String): DataFrame =
    dedupIndexScan(spark, indexDir, None)
      .getOrElse(spark.read.parquet(indexDir))
      .select("id", "text_hash", "band_idx", "band_hash", "batch", "bh")

  private[graft] def jaccardPrefixBucket(h: Column): Column =
    pmod(crc32(h), lit(DedupIndexBuckets)).cast("int")
  private[graft] def jaccardArrayBucket(id: Column): Column =
    pmod(crc32(id.cast("string")), lit(DedupIndexBuckets)).cast("int")

  /** EXACT-Jaccard admission of one batch — the exact-threshold form
    * of [[mergeDedupIndexBatch]] (whose LSH banding is
    * probabilistic): order the batch's shingle sets under the FROZEN
    * `dfTable` ([[graft.ops.Dedup.shingleDfTable]], pinned at index
    * creation), admit documents below `minJaccard` against every
    * stored and every earlier in-batch document (recall exactly 1.0),
    * and append the admitted rows to the two-table layout:
    * `prefix/batch=<id>/jb=<k>/szb=<b>/` (candidate probe rows, bucketed
    * by digest with a ⌊log2 sz⌋ size band) and
    * `arrays/batch=<id>/ab=<k>/` (packed digest sets for verification,
    * bucketed by id). Reads prune both trees, so per-batch I/O is
    * O(batch + matched rows), never O(index). Exactly-once by the
    * [[mergeDedupIndexBatch]] discipline. Returns the admitted subset
    * (materialized). */
  private[graft] def mergeJaccardIndexBatch(batch: DataFrame,
      textCol: String, idCol: String, indexDir: String, batchId: Long,
      dfTable: DataFrame, n: Int, minJaccard: Double): DataFrame =
    withStoreLock(batch.sparkSession, Seq(indexDir)) {
      healCompactRoot(batch.sparkSession, indexDir)
      mergeJaccardIndexBody(batch, textCol, idCol, indexDir, batchId,
        dfTable, n, minJaccard)
    }

  private def mergeJaccardIndexBody(batch: DataFrame,
      textCol: String, idCol: String, indexDir: String, batchId: Long,
      dfTable: DataFrame, n: Int, minJaccard: Double): DataFrame = {
    val spark = batch.sparkSession
    val dir = new HPath(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(dir, s"prefix/batch=$batchId"), true)
    fs.delete(new HPath(dir, s"arrays/batch=$batchId"), true)
    val hasPrior = fs.exists(new HPath(dir, "prefix")) &&
      fs.listStatus(new HPath(dir, "prefix"))
        .exists(_.getPath.getName.startsWith("batch="))
    // the tree's prefix layout is FIXED at its first write: a store
    // created before the size-banded (`szb=`) layout keeps jb=-only
    // dirs — mixing partition depths under one tree would break
    // partition discovery; rebuildJaccardIndex migrates old stores
    val bandedLayout = !hasPrior ||
      spark.read.parquet(s"$indexDir/prefix").columns.contains("szb")
    val bsets = graft.ops.Dedup.orderedShingleSets(batch, textCol, idCol,
      n, Some(dfTable), pin = false) // the checkpoint is the only pin
      .localCheckpoint()
    // candidate generation / size / positional / verify logic is the
    // SHARED batch-admission machinery (Dedup.prefixRows /
    // storeCandidates / verifySuppressed) — only the standing-table
    // fetches (bucket-pruned reads) live here
    val bpref = graft.ops.Dedup.prefixRows(bsets, minJaccard)
      .localCheckpoint()
    // materialized BEFORE the tree writes below: the admission plan
    // reads the standing trees, and a caller (the exact curation
    // ingest) actions the returned frame AFTER this batch's own dirs
    // land — a lazy plan re-listing the tree then could suppress the
    // batch against itself
    val admitted: DataFrame = (
      if (!hasPrior) {
        // first batch: in-batch dedup only (over the already-ordered
        // sets — no re-shingling)
        val inBatch = graft.ops.Dedup.pairsFromOrdered(bsets, minJaccard)
          .select(col("id_b").as(idCol)).distinct()
        batch.join(inBatch, Seq(idCol), "left_anti")
      } else {
        // probe tree pruned on BOTH partition dimensions: the jb=
        // buckets the batch's digests hash into AND the szb= size
        // bands its size-compatibility envelope can reach — a large
        // batch that touches all digest buckets still reads only the
        // band dirs inside [t·mn, mx/t], so admission I/O is bounded
        // by the batch's size envelope, not index age
        val touched = bpref
          .select(jaccardPrefixBucket(col("h")).as("jb"))
          .distinct().collect().map(_.getInt(0))
        // an old (jb=-only) store prunes on jb + the row-level sz
        // ranges alone — no szb= directory dimension to push
        val standingPrefix = spark.read.parquet(s"$indexDir/prefix")
          .where(col("jb").isin(touched.toSeq: _*) &&
            graft.ops.Dedup.sizeEnvelopePredicate(bsets, minJaccard,
              bandedLayout))
          .drop((Seq("batch", "jb") ++
            (if (bandedLayout) Seq("szb") else Nil)): _*)
        // candidate store ids first (cheap fixed-width joins), then
        // fetch ONLY their ab= buckets for verification
        val cand = graft.ops.Dedup
          .storeCandidates(standingPrefix, bpref, minJaccard)
          .localCheckpoint()
        val abTouched = cand
          .select(jaccardArrayBucket(col("id_store")).as("ab"))
          .distinct().collect().map(_.getInt(0))
        val standingArrays =
          if (abTouched.isEmpty)
            // schema from the batch's own sets — never a parquet read
            // of a tree that may hold no data files yet
            bsets.select(col("__id").as("id_store"),
              col("__ord").as("__A")).limit(0)
          else spark.read.parquet(s"$indexDir/arrays")
            .where(col("ab").isin(abTouched.toSeq: _*))
            .select(col("id").as("id_store"), col("ord").as("__A"))
        val byStore = graft.ops.Dedup
          .verifySuppressed(cand, standingArrays, bsets, minJaccard)
          .select(col("id_new").as(idCol))
        val inBatch = graft.ops.Dedup.pairsFromOrdered(bsets, minJaccard)
          .select(col("id_b").as(idCol))
        batch.join(byStore.unionByName(inBatch).distinct(), Seq(idCol),
          "left_anti")
      }).localCheckpoint()
    // guard on the WRITE FRAMES themselves: a batch that contributes
    // no indexable rows (all-null-text batch, or only shingle-less
    // docs among the admitted) must write NOTHING — a batch= dir
    // holding only _SUCCESS would make the next batch's standing read
    // fail parquet schema inference and wedge the stream on every
    // replay. The two frames are empty together (every shingled doc
    // has a prefix of length >= 1), so the trees stay in step.
    val admittedIds = admitted.select(col(idCol).as("id"))
      .localCheckpoint()
    val arrRows = bsets.select(col("__id").as("id"),
        col("__ord").as("ord"), col("__sz").as("sz"))
      .join(admittedIds, Seq("id"), "left_semi")
      .withColumn("ab", jaccardArrayBucket(col("id")))
      .localCheckpoint()
    val prefRows0 = bpref.join(admittedIds, Seq("id"), "left_semi")
      .withColumn("jb", jaccardPrefixBucket(col("h")))
    val prefRows = (
      if (bandedLayout) prefRows0.withColumn("szb",
        graft.ops.Dedup.jaccardSizeBand(col("sz")))
      else prefRows0).localCheckpoint()
    if (!arrRows.isEmpty)
      arrRows.write.mode("overwrite").partitionBy("ab")
        .parquet(s"$indexDir/arrays/batch=$batchId")
    if (!prefRows.isEmpty)
      prefRows.write.mode("overwrite")
        .partitionBy((if (bandedLayout) Seq("jb", "szb")
          else Seq("jb")): _*)
        .parquet(s"$indexDir/prefix/batch=$batchId")
    admitted
  }

  /** The admitted (id, ord, sz) sets of an exact-Jaccard index
    * ([[mergeJaccardIndexBatch]]) (plus
    * `batch`/`ab` partition columns); admitted ids = `distinct(id)`. */
  def readJaccardIndexArrays(spark: SparkSession,
                             indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/arrays")

  /** Persist the frozen [[graft.ops.Dedup.shingleDfTable]] under the
    * index root (`df_table/`) — the cross-session form of the pin the
    * in-session cache() provides: an index's prefix invariants are
    * only valid under the EXACT order it was built with, so the order
    * must be stored WITH the index, written once at index creation
    * and re-read ([[readJaccardDfTable]]) by every later session's
    * sink or admission call. Written under the
    * [[graft.ops.Warehouse.atomicSwap]] discipline — a plain
    * overwrite crashing mid-write could leave the order absent or
    * TRUNCATED, silently invalidating every stored prefix. */
  def writeJaccardDfTable(dfTable: DataFrame, indexDir: String): Unit =
    // one swap discipline, one backup-naming scheme: the shared
    // heal + tmp-write + atomicSwap helper, applied to the df_table
    // subdir (backup `.df_table.compact.old`, which
    // [[readJaccardDfTable]] and [[compactJaccardIndex]] both know);
    // under the INDEX root's lease — the order pin must not race a
    // compaction that copies df_table through its root swap
    withStoreLock(dfTable.sparkSession, Seq(indexDir)) {
      swapInCompacted(dfTable.sparkSession, s"$indexDir/df_table") {
        (tmp, _) => dfTable.write.mode("overwrite").parquet(tmp)
      }
    }

  /** Re-read a [[writeJaccardDfTable]] snapshot (falling back to the
    * swap backup if a writer crashed mid-rename — reads never heal,
    * per the store-read discipline; a table missing from BOTH
    * locations errors against the primary path), cached like a fresh
    * [[graft.ops.Dedup.shingleDfTable]] so per-batch consumers share
    * one read. */
  def readJaccardDfTable(spark: SparkSession, indexDir: String): DataFrame = {
    val dir = new HPath(s"$indexDir/df_table")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = compactBackupPath(dir)
    val p = if (!fs.exists(dir) && fs.exists(backup)) backup else dir
    spark.read.parquet(p.toString).cache()
  }

  /** END-TO-END streaming corpus curation in ONE exactly-once sink:
    * per micro-batch, (1) quality-gate on
    * [[graft.ops.Text.qualityScore]] ≥ `minQuality`, (2) near-dup
    * admission against the standing banded index
    * ([[mergeDedupIndexBatch]] — never re-bands history, appends the
    * admitted band rows under `index/batch=<id>/`), (3) write
    * the admitted PAYLOADS under `corpus/batch=<id>/`, and (4) fold
    * the admitted batch into the standing stats (word histogram for
    * tokenizer refresh + length drift histogram) under `stats/`.
    * The composition — gate before dedup, dedup before stats — is the
    * order a production ingest runs: stats and tokenizers must see
    * exactly the corpus that survived, or they train on what was
    * thrown away. Passing `benchmarkDir` inserts a DECONTAMINATION
    * gate between (1) and (2) — rows hitting ≥ `deconMinHits` n-grams
    * of the standing [[benchmarkIndexSink]] registry are dropped
    * before admission, with the per-batch decision PINNED under
    * `decon/batch=<id>/` so replays stay deterministic even as the
    * registry grows ([[deconGatePinned]]).
    *
    * Exactly-once across ALL FOUR effects under one replay: the index
    * and payload writes are deterministic per-batch paths (crash
    * leftovers deleted, rewritten identically against the pre-crash
    * standing state), and the stats merge is guarded by the `_batch`
    * high-water mark — a replayed id rewrites identical files and
    * skips the already-folded stats, whatever point the crash hit.
    * Per-batch cost: the writes are O(batch); the reads are the
    * standing index's two band-key columns, streamed through a
    * broadcast join, and the stats store. The corpus is never
    * rescanned. */
  def curationIngestSink(docs: DataFrame, textCol: String, idCol: String,
                         rootDir: String, checkpoint: String,
                         minQuality: Double,
                         lenLo: Double = 0.0, lenHi: Double = 1000.0,
                         numHashes: Int = 8, bands: Int = 4,
                         shingleSize: Int = 3,
                         benchmarkDir: Option[String] = None,
                         deconMinHits: Long = 1L) =
    batchSink(docs, checkpoint) { (batch, batchId) =>
      curationIngestBatch(batch, textCol, idCol, rootDir, batchId,
        minQuality, lenLo, lenHi, numHashes, bands, shingleSize,
        benchmarkDir, deconMinHits)
    }

  /** The corpus's schema-evolution POLICY: a batch whose columns
    * diverge from the standing corpus is REJECTED before any effect.
    * Every corpus reader (corpus / clean view / snapshots / diff /
    * export) scans the `batch=` dirs as ONE parquet table without
    * `mergeSchema` — at 100 TB a per-read footer merge is a full
    * metadata pass, and a silently-divergent batch would either drop
    * its new column from every read or shadow the standing schema
    * nondeterministically (inference samples footers). Rejecting at
    * the ingest gate keeps the invariant the readers rely on; evolve
    * a schema by exporting and re-ingesting under the new shape (or
    * a new root). Checked BEFORE the index merge so a rejected batch
    * leaves no store half-touched. */
  private val corpusSchemaCache = new java.util.concurrent
    .ConcurrentHashMap[String,
      (org.apache.spark.sql.types.StructType, String, Long)]()

  private def requireCorpusSchema(batch: DataFrame,
      rootDir: String): Unit = {
    val root = new HPath(s"$rootDir/corpus")
    val fs = root.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    // the standing shape comes from ONE committed dir's footer — not
    // a per-micro-batch footer merge (O(total files) on the hot
    // ingest path) — and is cached for the session WITH the footer
    // dir's identity (path + mtime). Each call revalidates the cache
    // with a single getFileStatus: a corpus REBUILT in place under a
    // new shape (even re-using the same batch ids — its dirs carry
    // fresh mtimes) misses the cache and is re-read, in BOTH
    // directions — a stale cache may neither reject a now-conforming
    // batch nor silently admit an old-shape one
    val key = fs.makeQualified(root).toString
    // None = nothing standing to diverge from (absent root or no
    // committed dirs). A COMMITTED dir whose footer will not read is
    // never a waiver: this check runs before the ingest lock (so a
    // rejected batch leaves no store half-touched), which means a
    // live compaction's swap renames can momentarily take the dir
    // out from under the read — retry past the race, re-listing each
    // time (the fold may have merged our dir away into a new one).
    // Still unreadable with committed dirs standing = a torn store;
    // REJECT loudly rather than silently skip the schema policy for
    // this batch (the exact old-shape admission the guard prevents).
    def readStanding():
        Option[(org.apache.spark.sql.types.StructType, String, Long)] = {
      var tries = 0
      var bothAbsent = 0
      val swapWait = new SwapWait(batch.sparkSession.conf
        .getOption("graft.schemaGate.swapWaitMs")
        .map(_.toLong).getOrElse(60000L))
      while (true) {
        if (!fs.exists(root)) {
          // a live compaction's atomicSwap renames the WHOLE corpus
          // root aside (root → .corpus.compact.old) before renaming
          // the compacted tree in: a vanished root with that backup
          // standing is the mid-swap window, not a genuinely-new
          // store — retry like an unreadable dir rather than waive
          // the schema check (the old-shape admission this guard
          // exists to prevent). A root absent with NO backup is a
          // store that has never ingested — but the swap keeps the
          // invariant "root or backup exists at every instant", so a
          // both-absent observation can also mean the swap COMPLETED
          // between the two reads. Concluding never-ingested from one
          // such interleaving would be the unchecked admission again,
          // one TOCTOU window later; require TWO consecutive
          // both-absent observations — no sleep between them: every
          // pre-first-commit micro-batch takes this path, and two
          // full compaction swaps (each lock-held for seconds)
          // cannot complete inside the few RPCs separating two
          // consecutive observations, while a genuinely-new store
          // reads both-absent forever.
          if (!fs.exists(compactBackupPath(root))) {
            bothAbsent += 1
            if (bothAbsent >= 2) return None
            // leaving the absent-with-backup state ends the swap
            // EPISODE: a later episode in this same call (footer-read
            // retries can interleave one) must get its own full
            // swap-wait window, not the first episode's possibly
            // spent deadline — else the error's "whole swap-wait
            // window" claim would be false on the second episode
            swapWait.reset()
          } else {
          bothAbsent = 0
          // root-absent-with-backup is EITHER a live compaction's
          // swap window or a compaction that died between its two
          // renames — indistinguishable from here. On an object
          // store the swap's directory "renames" are O(data) copies,
          // so a LIVE swap can hold this state for well over the few
          // hundred ms a fixed 3×100 ms retry covers (a good batch
          // would be rejected with a misleading crashed-compaction
          // diagnosis). Wait with backoff for a realistic swap
          // duration (graft.schemaGate.swapWaitMs, default 60 s —
          // specs shrink it) before giving up; the give-up is still
          // a REJECTION, never a waiver, and the message names both
          // possibilities
          if (!swapWait.tick(System.currentTimeMillis()))
            throw new IllegalStateException(
              s"corpus root $root stayed absent with its compaction " +
                s"backup ${compactBackupPath(root)} standing for the " +
                "whole swap-wait window — a compaction is mid-swap " +
                "(raise graft.schemaGate.swapWaitMs if your store's " +
                "swap renames run longer) or died between its two " +
                "renames (any maintenance write, or fsckCurationStore " +
                "with heal = true, restores the tree). The batch is " +
                "rejected rather than admitted unchecked.")
          }
        } else {
          bothAbsent = 0
          // the root is visible again: this swap episode is over (see
          // the both-absent branch) — reset so any NEXT episode waits
          // its own full window
          swapWait.reset()
          val ids = committedBatchDirIds(fs, root)
          if (ids.isEmpty) return None
          val dir = s"$root/batch=${ids.max}"
          try {
            val mt = fs.getFileStatus(new HPath(dir)).getModificationTime
            return Some((batch.sparkSession.read.parquet(dir).schema, dir, mt))
          } catch {
            case e @ (_: org.apache.spark.sql.AnalysisException |
                _: java.io.FileNotFoundException) =>
              tries += 1
              if (tries >= 3)
                throw new IllegalStateException(
                  s"standing corpus at $root has committed batch dirs but " +
                    s"$dir's footer stayed unreadable across $tries reads " +
                    s"($e) — cannot verify the batch's schema against the " +
                    "standing shape, so the batch is rejected rather than " +
                    "admitted unchecked. If no compaction is live, run " +
                    "fsckCurationStore: the dir is torn.")
              Thread.sleep(100L)
          }
        }
      }
      None // unreachable
    }
    def dirUnchanged(dir: String, mt: Long): Boolean =
      try fs.getFileStatus(new HPath(dir)).getModificationTime == mt
      catch { case _: java.io.FileNotFoundException => false }
    def refresh():
        Option[(org.apache.spark.sql.types.StructType, String, Long)] = {
      val s = readStanding()
      s match {
        case Some(v) => corpusSchemaCache.put(key, v)
        case None => corpusSchemaCache.remove(key)
      }
      s
    }
    val cached = Option(corpusSchemaCache.get(key))
      .filter { case (_, dir, mt) => dirUnchanged(dir, mt) }
    val standing = cached.orElse(refresh()).getOrElse(return)._1
    // a single dir's footer carries no partition column, so the
    // comparison is over the FULL batch schema — in particular a
    // data column named `batch` diverges (it would collide with the
    // partition column at read time) and is rejected like any other
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSet
    var want = shape(standing)
    val got = shape(batch.schema)
    if (got != want && cached.nonEmpty) {
      // mismatch backstop on top of the mtime revalidation: a rebuild
      // landing inside the filesystem's mtime granularity (1 s on
      // some local/NFS setups) can pass dirUnchanged with a stale
      // shape — before REJECTING, re-read the footer once so a
      // conforming batch is never refused by a cache artifact
      want = refresh().map(v => shape(v._1)).getOrElse(return)
    }
    if (got != want) {
      def fmt(d: Set[(String, org.apache.spark.sql.types.DataType)]) =
        if (d.isEmpty) "-"
        else d.map { case (n, t) => s"$n:${t.simpleString}" }
          .toSeq.sorted.mkString(", ")
      throw new IllegalStateException(
        s"corpus batch schema diverges from the standing corpus at " +
          s"$root — batch adds [${fmt(got -- want)}], drops " +
          s"[${fmt(want -- got)}]. Schema evolution of a standing " +
          "batch-dir store is rejected by policy: readers scan the " +
          "root without mergeSchema, so a divergent batch would " +
          "silently lose or shadow columns at read time. Evolve by " +
          "re-ingesting under the new shape into a new root (or " +
          "export + rewrite this one).")
    }
  }

  private[graft] def curationIngestBatch(batch: DataFrame, textCol: String,
      idCol: String, rootDir: String, batchId: Long, minQuality: Double,
      lenLo: Double, lenHi: Double, numHashes: Int, bands: Int,
      shingleSize: Int, benchmarkDir: Option[String] = None,
      deconMinHits: Long = 1L): Unit =
    curationIngestGated(batch, textCol, idCol, rootDir, batchId,
        minQuality, lenLo, lenHi, benchmarkDir, deconMinHits) { gated =>
      mergeDedupIndexBody(gated, textCol, idCol, s"$rootDir/index",
        batchId, numHashes, bands, shingleSize)
    }

  /** The ingest both curation sinks share around their dedup gate
    * `admit`: schema check, quality gate, the optional pinned
    * decontamination gate, then — under the index and corpus leases —
    * `admit` on the surviving rows, whose admitted subset
    * [[ingestTail]] writes as payload and folds into the stats. */
  private def curationIngestGated(batch: DataFrame, textCol: String,
      idCol: String, rootDir: String, batchId: Long, minQuality: Double,
      lenLo: Double, lenHi: Double, benchmarkDir: Option[String],
      deconMinHits: Long)(admit: DataFrame => DataFrame): Unit = {
    requireCorpusSchema(batch, rootDir)
    val spark = batch.sparkSession
    // every checkpoint of the batch is released before this returns:
    // the next batch must not find this one's blocks pinned
    val (qualGated, qualRows) = inStep(spark, "gate") {
      checkpointCounting(batch.where(
        graft.ops.Text.qualityScore(col(textCol)) >= minQuality))
    }
    try {
      // a fully quality-gated-out (or empty) batch performs NO effects:
      // writing an empty index/ or corpus/ batch= dir would break schema
      // inference on the next batch's standing reads (a replay re-gates
      // to the same empty set, so the skip is deterministic; the stats
      // high-water mark advances with the next non-empty batch)
      if (qualRows == 0L) return
      // decontamination rides between the quality gate and the dedup
      // admission: the standing index must never admit (and so protect)
      // a document the registry says is benchmark-contaminated. The
      // pinned decision keeps the skip below deterministic under replay
      val (gated, gatedRows) = benchmarkDir.fold((qualGated, qualRows))(bd =>
        inStep(spark, "gate") {
          checkpointCounting(deconGatePinned(qualGated, textCol, idCol,
            rootDir, batchId, bd, deconMinHits))
        })
      try {
        if (gatedRows == 0L) return
        withStoreLock(spark, Seq(s"$rootDir/index", s"$rootDir/corpus")) {
          healCompactRoot(spark, s"$rootDir/index")
          healCurationCorpusRoot(spark, s"$rootDir/corpus")
          val admitted = admit(gated)
          try ingestTail(admitted, textCol, rootDir, batchId, lenLo, lenHi)
          finally graft.ops.Scale.releaseLocalCheckpoint(admitted)
        }
      } finally graft.ops.Scale.releaseLocalCheckpoint(gated)
    } finally graft.ops.Scale.releaseLocalCheckpoint(qualGated)
  }

  /** Pinned per-batch decontamination gate for the curation-ingest
    * sinks: drop batch rows sharing ≥ `minHits` n-grams with the
    * standing benchmark registry at `benchmarkDir`
    * ([[benchmarkIndexSink]]), and PIN the dropped-id set under
    * `rootDir/decon/batch=<id>/` so a crash replay re-applies the
    * ORIGINAL decision even if the registry grew in between. The
    * quality and dedup gates are deterministic functions of the batch
    * and the ingest's own stores; this gate reads a store OTHER
    * writers advance, so without the pin a replay could admit a
    * different set than the index/stats the crash already committed
    * describe — the one nondeterminism the exactly-once argument
    * cannot absorb. Commit protocol: the pin parquet's `_SUCCESS`
    * marker is the commit point (Spark writes it last); a pin without
    * it is a crash leftover, deleted and recomputed against the
    * then-current registry (safe — the missing marker proves no
    * downstream effect consumed the half-written decision). Registry
    * absent → nothing dropped, and the EMPTY decision is still
    * pinned, so a benchmark registered between original run and
    * replay never rewrites history. The dropped set (≤ batch,
    * typically ≪) is broadcast into a left-anti join — zero batch
    * shuffle; the registry scoring itself is
    * [[graft.ops.Dedup.contaminationAgainstGrams]]'s broadcast-join
    * scan pass. */
  private[graft] def deconGatePinned(gated: DataFrame, textCol: String,
      idCol: String, rootDir: String, batchId: Long,
      benchmarkDir: String, minHits: Long): DataFrame = {
    val spark = gated.sparkSession
    val pin = new HPath(s"$rootDir/decon/batch=$batchId")
    val fs = pin.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read with the id schema pinned explicitly: an all-clean batch's
    // pin can hold zero part files, which schema inference rejects
    val idSchema = org.apache.spark.sql.types.StructType(
      Seq(gated.schema(idCol)))
    if (!fs.exists(new HPath(pin, "_SUCCESS"))) {
      if (fs.exists(pin)) fs.delete(pin, true)
      val dropped = benchmarkRegistry(spark, benchmarkDir) match {
        case None => gated.select(col(idCol)).limit(0)
        case Some((n, grams)) =>
          graft.ops.Dedup.contaminationAgainstGrams(gated, grams,
              textCol, idCol, n, minHits)
            .where(col("contaminated")).select(col(idCol))
      }
      dropped.write.mode("overwrite").parquet(pin.toString)
    }
    gated.join(
      broadcast(spark.read.schema(idSchema).parquet(pin.toString)),
      Seq(idCol), "left_anti")
  }

  /** RETROACTIVE decontamination sweep — the third leg of the
    * decontamination lifecycle. The ingest gate ([[deconGatePinned]])
    * protects the corpus against benchmarks registered BEFORE a
    * document arrives; its pin deliberately freezes each batch's
    * decision so replays stay deterministic. That leaves exactly one
    * hole: a benchmark registered AFTER documents were admitted (the
    * production reality — eval suites are published on their own
    * schedule, long after a crawl lands). This sweep closes it with
    * TOMBSTONES: scan the admitted corpus against the registry grams
    * added since the last sweep and record contaminated ids under
    * `rootDir/decon/tombstones/sweep=<mark>/`. [[readCleanCorpus]]
    * serves the corpus minus tombstones; payload files are untouched
    * (history is preserved — the corpus store stays replay-exact, and
    * a tombstone can be audited back to the sweep that wrote it).
    *
    * Incremental along BOTH axes, because both sides grow: benchmarks
    * register over time AND documents keep arriving (possibly through
    * a gate-less ingest). `decon/_sweep` records the registry
    * `_batch` mark as of the last sweep and each gram carries the
    * `first_batch` that introduced it; `decon/_sweep_corpus` records
    * the highest corpus batch id the last sweep scanned. Each sweep
    * then covers every unscanned (document, gram) pair in two legs —
    * (a) the WHOLE clean corpus against only the grams registered
    * since the last sweep, and (b) only the corpus batches ingested
    * since the last sweep against the OLDER grams — so a document
    * admitted without the gate after benchmark X was swept is still
    * caught at the next sweep, not leaked forever. A new benchmark
    * costs one corpus scan against its own grams; new documents cost
    * one scan of themselves against the standing registry; neither
    * ever rescans the whole registry × whole corpus. Already-
    * tombstoned documents are anti-joined out before either leg. An
    * up-to-date store (registry mark m ≤ w) returns without touching
    * the corpus — sweeps are registry-triggered, so to force the
    * corpus-side closure after a gate-less backfill, re-register any
    * benchmark batch (the mark advances, leg (a) is empty, leg (b)
    * scans the backfill). Both legs are the same single
    * broadcast-join pass as [[decontaminateAgainstIndex]] — zero
    * corpus shuffle beyond the doc-grain aggregation.
    *
    * `minHits > 1` cannot THRESHOLD inside a window — a document's
    * hits may split across registry batches (or across the two legs),
    * and windowed thresholding would under-count every split — but
    * window COUNTS sum exactly to the full-registry count (distinct
    * gram digests partition by `first_batch`), so the sweep runs the
    * same two window-sized legs, accumulates per-doc counts under
    * `decon/hits/` (`base=<k>` full totals, `sweep=<k>` increments,
    * committed by the same `_sweep` marker), and thresholds the
    * cumulative total. A store whose increment history has a hole — a
    * pre-upgrade store, or interleaved `minHits = 1` sweeps, which
    * maintain no counts — pays ONE full-registry re-baseline pass,
    * then is incremental again; past `graft.decon.hitsCompactEvery`
    * increment dirs (default 16) the sweep self-compacts the history
    * into a fresh base by union-sum (no registry re-scan), so the
    * per-sweep history read stays bounded for the store's whole
    * life. Flipping minHits between >1 values across sweeps is sound
    * (counts are config-independent; the threshold applies at sweep
    * time).
    *
    * Crash-safe, not replay-pinned: the `_sweep` marker is written
    * only after the tombstone parquet commits (and `_sweep_corpus`
    * after `_sweep` — a crash between them only makes the next sweep
    * rescan rows that are already tombstoned, which the anti-join
    * absorbs), and a rerun deletes EVERY tombstone dir above the
    * committed marker — including one stranded at an intermediate
    * mark by a crash that predates further registry growth — before
    * recomputing. Unlike the gate pin, tombstones need no determinism
    * guarantee — they are anti-entropy (a rerun that catches MORE
    * contaminated docs is strictly better), so the sweep recomputes
    * against the live corpus rather than pinning. Serializes with
    * ingest/compaction/snapshotting via the corpus lease (the swap
    * discipline alone would let a compaction rename the corpus out
    * from under a mid-sweep scan). Returns the number of
    * newly-tombstoned ids.
    *
    * Tombstoned documents deliberately REMAIN in the dedup index: a
    * future near-duplicate of a contaminated document is itself
    * contaminated (it near-matches the same benchmark text), so the
    * index entry keeps doing exactly the right thing — rejecting it
    * at admission, cheaper than letting it through to be tombstoned
    * by the next sweep. */
  def retroDecontaminate(spark: SparkSession, rootDir: String,
      textCol: String, idCol: String, benchmarkDir: String,
      minHits: Long = 1L): Long =
    withStoreLock(spark, Seq(s"$rootDir/corpus")) {
      retroDecontaminateLocked(spark, rootDir, textCol, idCol,
        benchmarkDir, minHits)
    }

  /** The corpus-side closure [[retroDecontaminate]] cannot give you
    * with the registry unchanged: gate-less batches ingested AFTER
    * the last sweep are invisible to an unchanged-registry sweep (a
    * no-op by design — tombstone/state trees and snapshot pins are
    * keyed by the registry mark, so a corpus-only sweep has no mark
    * to commit under). This forces one: it advances the registry
    * mark with an EMPTY batch at its next id (no grams added — the
    * "mark-only re-registration" the docs describe), then sweeps, so
    * the new mark's leg B scans everything ingested since
    * `_sweep_corpus` against ALL standing grams. Returns the number
    * of newly tombstoned docs; a registry that does not exist yet is
    * a no-op 0.
    *
    * CAVEAT — registries fed by a LIVE [[benchmarkIndexSink]] stream:
    * the bump outruns the stream's checkpoint batch ids, and the
    * exactly-once guard then SKIPS the stream's later registrations
    * (loudly warned, but skipped) until its ids pass the bumped mark.
    * Force only registries you register in batch (tracking ids from
    * the store's own `_batch`), or stop the sink first. */
  def forceRetroSweep(spark: SparkSession, rootDir: String,
      textCol: String, idCol: String, benchmarkDir: String,
      minHits: Long = 1L): Long = {
    val root = readableStoreDir(spark, benchmarkDir)
    val markFile = new HPath(s"$root/_batch")
    val bfs = markFile.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!bfs.exists(markFile)) return 0L // nothing registered yet
    // torn-store shapes surface as NAMED errors, not bare
    // NoSuchElementExceptions: a _batch mark with no meta/ beside it
    // (a crashed first merge) is a store fsckStore can diagnose
    // only SHAPE problems get the torn-store diagnosis (unparseable
    // content, or the mark vanishing between the exists check and the
    // open — FileNotFoundException); any other IOException from a
    // cloud filesystem is a retryable blip, not corruption — it
    // propagates with its cause
    val m = (try readLongMarker(bfs, markFile)
      catch { case _: NumberFormatException |
          _: java.io.FileNotFoundException => None })
      .getOrElse(throw new IllegalStateException(
        s"benchmark registry at $benchmarkDir has a _batch mark that " +
          "would not parse (or vanished mid-read) — a torn store; " +
          "run fsckStore on it before forcing a sweep"))
    val n = benchmarkRegistry(spark, benchmarkDir).getOrElse(
      throw new IllegalStateException(
        s"benchmark registry at $benchmarkDir carries a _batch mark " +
          "but no meta/ part — a crashed first merge; run fsckStore " +
          "on it (or re-register the benchmark) before forcing a " +
          "sweep"))._1
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(textCol,
          org.apache.spark.sql.types.StringType))))
    mergeBenchmarkNgramBatch(empty, textCol, benchmarkDir, m + 1L, n)
    retroDecontaminate(spark, rootDir, textCol, idCol, benchmarkDir,
      minHits)
  }

  private def retroDecontaminateLocked(spark: SparkSession,
      rootDir: String, textCol: String, idCol: String,
      benchmarkDir: String, minHits: Long): Long = {
    // the sweep reads the whole corpus: reclaim any move-carry crash
    // leftover first or the scan (and the corpus watermark) would
    // miss the relocated dirs
    healCurationCorpusRoot(spark, s"$rootDir/corpus")
    val root = readableStoreDir(spark, benchmarkDir)
    val markFile = new HPath(s"$root/_batch")
    // the benchmark store and the curation root can live on DIFFERENT
    // Hadoop filesystems (exportSnapshot already supports the split):
    // resolve each side's paths against its OWN fs — reusing the
    // benchmark-side handle for rootDir paths throws "Wrong FS" (or,
    // same-scheme/different-authority, operates on the wrong cluster)
    val conf = spark.sparkContext.hadoopConfiguration
    val bfs = markFile.getFileSystem(conf)
    val rfs = new HPath(rootDir).getFileSystem(conf)
    if (!bfs.exists(markFile)) return 0L // nothing registered yet
    val m = readLongMarker(bfs, markFile).get
    val deconDir = new HPath(s"$rootDir/decon")
    val sweepFile = new HPath(deconDir, "_sweep")
    val corpusSweepFile = new HPath(deconDir, "_sweep_corpus")
    val w = readLongMarker(rfs, sweepFile).getOrElse(-1L)
    // highest corpus batch id already scanned against grams ≤ w; a
    // pre-watermark store reads -1 and leg (b) self-heals by scanning
    // the whole corpus (including batch=-1 folds) once
    val cw = readLongMarker(rfs, corpusSweepFile).getOrElse(-1L)
    if (m <= w) {
      // registry unchanged since last sweep: the sweep is a no-op BY
      // DESIGN (tombstone/state trees are keyed by the registry mark,
      // and snapshots pin that mark — a corpus-only sweep has no mark
      // to commit under). But corpus batches ingested since the last
      // sweep have then never been scanned against the standing
      // registry: if they were ingested WITHOUT the decon gate,
      // contaminated docs sit in the clean view until the registry
      // grows. Say so instead of returning a silent 0 — the force is
      // a mark-only re-registration (merge an EMPTY registry batch at
      // the next id), which gives the scan a fresh mark to commit
      // under. fsck surfaces the same gap as an info finding.
      // Batches with a pinned gate decision (decon/batch=<id>) were
      // decontaminated at admission and carry no gap — the same
      // exclusion fsck's info finding applies, and without it every
      // healthy gated store would warn about its normal
      // ingest-ahead-of-sweep state on every scheduled sweep.
      val unswept = committedBatchDirIds(rfs,
          new HPath(s"$rootDir/corpus")).filter(_ > math.max(cw, -1L))
        .filterNot(id => rfs.exists(new HPath(s"$rootDir/decon/batch=$id")))
      if (unswept.nonEmpty)
        System.err.println(s"[decon] sweep at $rootDir is a no-op " +
          s"(registry mark $m already swept) but committed corpus " +
          s"batch(es) ${unswept.sorted.mkString(",")} landed after " +
          "the last sweep and are NOT scanned against the standing " +
          "registry — if they bypassed the ingest gate, run " +
          "forceRetroSweep (a mark-only re-registration + sweep)")
      return 0L
    }
    val n = benchmarkRegistry(spark, benchmarkDir).get._1
    val grams0 = spark.read.parquet(s"$root/ngrams")
    val grams = (if (grams0.columns.contains("first_batch")) grams0
      else grams0.withColumn("first_batch", lit(0L)))
    // pin both windows to the marks read above: a registry batch (or
    // an ingest batch) that lands mid-sweep belongs to the NEXT sweep,
    // so the markers written below are exact
    def gramSlice(pred: Column): DataFrame =
      grams.where(pred).select(col("h").as("__h"))
    // watermark only over COMMITTED dirs: a torn trailing batch's
    // replay rewrites it with MORE rows, which leg (b) must still
    // scan — advancing past it would freeze the partial view in
    val corpusIds = committedBatchDirIds(rfs, new HPath(s"$rootDir/corpus"))
    val cm = math.max(cw,
      corpusIds.filter(_ >= 0L).foldLeft(-1L)(math.max))
    val out = new HPath(deconDir, s"tombstones/sweep=$m")
    // the _sweep marker is the COMMIT POINT: ANY sweep=<k> dir with
    // k > the committed marker is a crash leftover — including one at
    // an INTERMEDIATE mark (crashed at k, registry then grew to m, so
    // the rerun's own target dir is no longer k). Delete them all
    // BEFORE reading prior tombstones — otherwise the rerun would
    // anti-join half-committed ids out of the corpus and lose them
    // (and an intermediate leftover would linger forever, reading as
    // torn committed data to fsck)
    val tombRoot = new HPath(deconDir, "tombstones")
    val deltaRoot = new HPath(deconDir, "statsdelta")
    val hitsRoot = new HPath(deconDir, "hits")
    def dirMark(nm: String): Option[Long] =
      Seq("sweep=", "base=").find(nm.startsWith)
        .flatMap(p => scala.util.Try(nm.stripPrefix(p).toLong).toOption)
    // above-mark dirs are crash leftovers; a DOTTED dir is a pin
    // scratch that died before its commit rename — also reclaimed
    // here (the crashed sweep's mark may since have moved, so the
    // rerun's own tmp name no longer matches it)
    for (root <- Seq(tombRoot, deltaRoot, hitsRoot) if rfs.exists(root))
      rfs.listStatus(root).toSeq.map(_.getPath)
        .filter(p => dirMark(p.getName).exists(_ > w) ||
          p.getName.startsWith("."))
        .foreach(p => rfs.delete(p, true))
    val live = readCurationCorpus(spark, rootDir)
    val clean = readCurationTombstones(spark, rootDir)
      .fold(live)(t => live.join(t, Seq(idCol), "left_anti"))
    def hits(docs: DataFrame, gs: DataFrame): DataFrame =
      graft.ops.Dedup.contaminationAgainstGrams(docs, gs,
          textCol, idCol, n, minHits)
        .where(col("contaminated")).select(col(idCol))
    val dead =
      if (minHits > 1L) {
        // a doc's hits may split across registry batches or across
        // the two legs, so thresholding inside one window would miss
        // split-hit docs — instead per-doc hit COUNTS accumulate
        // under decon/hits/ (distinct gram digests partition by
        // first_batch, so window counts sum exactly to the
        // full-registry count) and the threshold applies to the
        // cumulative total. `base=<k>` dirs carry full totals —
        // written on the first sweep and whenever the increment
        // history has a gap (a store upgrading in place, or
        // interleaved minHits = 1 sweeps, which maintain no counts);
        // `sweep=<k>` dirs carry window increments. Commit point is
        // the _sweep marker, same as the tombstones
        def hitCounts(docs: DataFrame, gs: DataFrame): DataFrame =
          graft.ops.Dedup.contaminationAgainstGrams(docs, gs,
              textCol, idCol, n, minHits)
            .select(col(idCol), col("n_hit"))
            .where(col("n_hit") > 0L)
        def committedMarks(root: HPath, prefix: String): Seq[Long] =
          if (!rfs.exists(root)) Nil
          else rfs.listStatus(root).toSeq.map(_.getPath.getName)
            .filter(_.startsWith(prefix))
            .flatMap(dirMark).filter(_ <= w).sorted
        def readHits(paths: Seq[String]): Option[DataFrame] = paths
          .flatMap(readParquetIfReadable(spark, _))
          .reduceOption(_ unionByName _)
        val base = committedMarks(hitsRoot, "base=")
          .lastOption
        val incs = committedMarks(hitsRoot, "sweep=")
        // every committed sweep since the base must have maintained
        // counts, or the cumulative history has a hole
        val contiguous = base.exists(b =>
          committedMarks(tombRoot, "sweep=").filter(_ > b)
            .forall(k => incs.contains(k)))
        val histPaths =
          base.map(b => s"$hitsRoot/base=$b").toSeq ++
            incs.filter(k => base.exists(k > _))
              .map(k => s"$hitsRoot/sweep=$k")
        val (newDir, newCounts) =
          if (w < 0L || !contiguous) {
            // ONE full-registry pass (re)establishes the totals
            (s"base=$m",
              hitCounts(clean, gramSlice(col("first_batch") <= m)))
          } else {
            val legA = hitCounts(clean,
              gramSlice(col("first_batch") > w &&
                col("first_batch") <= m))
            val newDocs =
              if (cw < 0L) clean else clean.where(col("batch") > cw)
            val legB = hitCounts(newDocs,
              gramSlice(col("first_batch") <= w))
            // a torn batch's replay makes its docs "new" at TWO
            // sweeps: subtract what the history already recorded for
            // a leg-B doc (its full count vs grams ≤ w — exactly what
            // leg B just recomputed), so the recount adds zero and a
            // genuinely new doc keeps its full count
            val incB = readHits(histPaths).fold(legB)(h =>
              legB.join(h.groupBy(idCol)
                  .agg(sum("n_hit").as("__hist")),
                  Seq(idCol), "left")
                .select(col(idCol), (col("n_hit") -
                  coalesce(col("__hist"), lit(0L))).as("n_hit"))
                .where(col("n_hit") =!= 0L))
            val inc = legA.unionByName(incB).groupBy(idCol)
              .agg(sum("n_hit").as("n_hit"))
            // self-compaction: past graft.decon.hitsCompactEvery
            // increment dirs (default 16), fold history + this window
            // into a fresh base (counts are additive, so the fold is
            // a union-sum — no registry re-scan), keeping the
            // per-sweep history read bounded however many sweeps a
            // store lives through
            if (incs.size >= spark.sparkContext.hadoopConfiguration
                .getInt("graft.decon.hitsCompactEvery", 16)) {
              val folded = readHits(histPaths).fold(inc)(h =>
                h.unionByName(inc).groupBy(idCol)
                  .agg(sum("n_hit").as("n_hit"))
                  .where(col("n_hit") =!= 0L))
              // an already-tombstoned doc can never cross the
              // threshold again (the test below anti-joins tombstones
              // regardless), so its positive rows are dead weight the
              // base would otherwise carry forever — drop them at the
              // fold. Docs THIS sweep tombstones are committed after
              // the write and fall out at the next fold
              ("base=" + m,
                readCurationTombstones(spark, rootDir).fold(folded)(t =>
                  folded.join(t, Seq(idCol), "left_anti")))
            } else (s"sweep=$m", inc)
          }
        newCounts.write.mode("overwrite")
          .parquet(new HPath(hitsRoot, newDir).toString)
        // a fresh base subsumes every older dir: drop them AFTER the
        // write (the fold's plan reads them lazily). Crash-safe in
        // both orders — a crash before the marker deletes the
        // uncommitted base at the rerun's leftover cleanup, and a
        // partial old-dir deletion reads as a history gap, which
        // re-baselines
        if (newDir.startsWith("base="))
          rfs.listStatus(hitsRoot).toSeq.map(_.getPath)
            .filter(p => p.getName != newDir &&
              dirMark(p.getName).nonEmpty)
            .foreach(p => rfs.delete(p, true))
        val totalPaths =
          (if (newDir.startsWith("base=")) Nil else histPaths) :+
            new HPath(hitsRoot, newDir).toString
        val over = readHits(totalPaths).map(_.groupBy(idCol)
            .agg(sum("n_hit").as("n_hit"))
            .where(col("n_hit") >= minHits).select(col(idCol)))
          .getOrElse(clean.select(col(idCol)).limit(0))
        // already-tombstoned docs stay over threshold forever
        readCurationTombstones(spark, rootDir).fold(over)(t =>
          over.join(t, Seq(idCol), "left_anti"))
      } else {
        // leg (a): everything clean vs the grams this sweep adds
        val legA = hits(clean,
          gramSlice(col("first_batch") > w && col("first_batch") <= m))
        // leg (b): only the batches ingested since the last sweep vs
        // the OLDER grams — the gate-less-ingest closure. cw = -1
        // (first sweep, or a pre-watermark store upgrading in place)
        // scans the whole corpus, folds included, once
        val newDocs =
          if (cw < 0L) clean else clean.where(col("batch") > cw)
        val legB =
          if (w < 0L) None // no older grams yet
          else Some(hits(newDocs, gramSlice(col("first_batch") <= w)))
        legB.fold(legA)(b => legA.unionByName(b).distinct())
      }
    dead.write.mode("overwrite").parquet(out.toString)
    // pin the tombstoned docs' stats CONTRIBUTIONS, keyed by their
    // corpus batch, under statsdelta/sweep=<m>/ — the O(tombstoned
    // docs) input [[subtractTombstonedStats]] subtracts so a stats
    // repair does not have to rescan the clean corpus. Keyed by batch
    // so the subtract can hold back docs whose batch the stats have
    // not folded yet (torn trailing batch, or a crash between payload
    // and stats fold). Computed HERE, while the payload is guaranteed
    // present (a later purge physically drops tombstoned bytes);
    // commits by RENAME before the _sweep marker, so the marker
    // commits tombstones and delta together. Skipped when the stats
    // store predates its `units` stamp — the sweep cannot know the
    // length-bucket bounds, and subtract will direct such stores to
    // the full rebuild
    for ((lenLo, lenHi) <- readStatsUnits(spark, s"$rootDir/stats");
        deadIds <- readParquetIfReadable(spark, out.toString)) {
        val deadDocs = clean.join(deadIds.select(col(idCol)),
            Seq(idCol), "left_semi")
          .select(col("batch"), col(textCol))
          .localCheckpoint() // small (tombstoned docs); aggregated twice
        val tmpD = new HPath(deltaRoot, s".sweep=$m.tmp")
        rfs.delete(tmpD, true)
        graft.ops.Bpe.wordHistogram(deadDocs, textCol, Seq("batch"))
          .write.parquet(s"$tmpD/hist")
        deadDocs.groupBy(col("batch"),
            graft.ops.Profiling.psiBucket(
              length(col(textCol)).cast("double"), lenLo, lenHi, 10)
              .as("bucket"))
          .agg(count(lit(1)).as("n"))
          .write.parquet(s"$tmpD/lens")
        rfs.mkdirs(deltaRoot)
        rfs.rename(tmpD, new HPath(deltaRoot, s"sweep=$m"))
    }
    // commit order matters: _sweep first (the tombstones' commit
    // point), _sweep_corpus second — a crash between them only makes
    // the next sweep rescan already-tombstoned rows
    for ((f, v) <- Seq(sweepFile -> m, corpusSweepFile -> cm)) {
      val o = rfs.create(f, true)
      try o.write(v.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally o.close()
    }
    // count from the committed files, not a recompute of the plan
    readParquetIfReadable(spark, out.toString).map(_.count())
      .getOrElse(0L)
  }

  /** The accumulated tombstone set of [[retroDecontaminate]] — one id
    * column (under the ingest's own id name) plus the `sweep`
    * partition — or None before the first sweep. Self-describing: the
    * id column name is read from the tombstone schema, so
    * [[readCleanCorpus]] needs no idCol parameter.
    *
    * `asOfSweep` keeps only tombstones whose sweep mark is ≤ the
    * given registry mark (partition-pruned on the `sweep=` dirs) —
    * the time-travel axis [[readCleanCorpus]] exposes. */
  def readCurationTombstones(spark: SparkSession, rootDir: String,
      asOfSweep: Option[Long] = None): Option[DataFrame] =
    tombstonesWhere(spark, rootDir,
      s => asOfSweep.fold(lit(true))(m => s <= m))

  /** `spark.read.parquet(path)`, or None when the dir's schema cannot
    * be read. An all-miss write leaves a part-less dir (Spark writes
    * no files for an empty frame), and every decon-tree reader shares
    * the same contract: unreadable MEANS empty, not an error. */
  private def readParquetIfReadable(spark: SparkSession,
      path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Tombstones whose `sweep` mark satisfies `pred` (partition-pruned
    * on the `sweep=` dirs), or None before the first sweep. */
  private def tombstonesWhere(spark: SparkSession, rootDir: String,
      pred: Column => Column): Option[DataFrame] = {
    val dir = new HPath(s"$rootDir/decon/tombstones")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    // an all-clean history can leave every sweep dir without part
    // files (Spark writes none for an empty frame); unreadable schema
    // then MEANS "no tombstones", not an error
    else try {
      val t = spark.read.parquet(dir.toString)
      Some(t.where(pred(col("sweep").cast("long"))).drop("sweep"))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** [[readCurationCorpus]] minus every tombstoned id — the view a
    * training-data consumer reads. The join key is taken from the
    * tombstone schema itself; no broadcast hint (tombstones are
    * usually tiny and AQE will broadcast them, but an adversarially
    * large tombstone set must not be forced onto the driver).
    *
    * `asOfSweep` reconstructs the HISTORICAL clean view: the corpus
    * minus only the tombstones known at registry mark ≤ s — i.e. what
    * a consumer read before later benchmark registrations tombstoned
    * more documents (pass s = -1 for the pre-sweep view). Two bounds
    * on the reconstruction, both inherent: (a) corpus batches
    * admitted AFTER that sweep still appear — the sweep axis freezes
    * decontamination state, not ingest history (an exact training-run
    * snapshot is the consumer's export of this view at run time);
    * (b) a [[compactCurationCorpus]] purge physically drops ALL
    * tombstoned rows, including later-sweep ones — after a purge,
    * as-of views older than it cannot resurrect the purged payload.
    * Purge when bytes matter more than reproducibility. */
  def readCleanCorpus(spark: SparkSession, rootDir: String,
      asOfSweep: Option[Long] = None): DataFrame = {
    val live = readCurationCorpus(spark, rootDir)
    readCurationTombstones(spark, rootDir, asOfSweep).fold(live)(t =>
      live.join(t, t.columns.toSeq, "left_anti"))
  }

  /** Decontamination audit: one row per completed sweep — its registry
    * mark, how many documents it tombstoned, and the running total —
    * plus the registered-benchmark gram count as context. The ops
    * answer to "what did each benchmark registration cost the corpus".
    * Reads only the (benchmark-hit-sized) tombstone tree; the corpus
    * is never touched. */
  def deconAudit(spark: SparkSession, rootDir: String): DataFrame = {
    val empty = spark.range(0)
      .select(col("id").as("sweep"), col("id").as("n_tombstoned"),
        col("id").as("cumulative"))
    val dir = new HPath(s"$rootDir/decon/tombstones")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) empty
    else {
      // an ALL-CLEAN sweep leaves a committed dir with zero rows —
      // "this benchmark cost nothing" is itself an audit fact, so the
      // sweep axis comes from the DIR LISTING and the counts join in
      // (a row-only groupBy would silently omit the zero sweeps)
      import spark.implicits._
      // only COMMITTED sweeps audit (≤ the _sweep marker): a crash
      // leftover above the mark is garbage the next sweep deletes
      val committed: Long =
        readLongMarker(fs, new HPath(s"$rootDir/decon/_sweep"))
          .getOrElse(-1L)
      val sweeps = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("sweep="))
        .flatMap(n => scala.util.Try(
          n.stripPrefix("sweep=").toLong).toOption)
        .filter(_ <= committed)
        .toDF("sweep")
      val counts = try {
        spark.read.parquet(dir.toString)
          .groupBy(col("sweep").cast("long").as("sweep"))
          .agg(count(lit(1)).as("n_tombstoned"))
      } catch { // every sweep dir empty: unreadable schema = no rows
        case _: org.apache.spark.sql.AnalysisException =>
          empty.select("sweep", "n_tombstoned")
      }
      // the global window is over one row per SWEEP (dozens at most),
      // not per tombstone — the single-partition exchange is a no-op
      sweeps.join(counts, Seq("sweep"), "left")
        .select(col("sweep"),
          coalesce(col("n_tombstoned"), lit(0L)).as("n_tombstoned"))
        .withColumn("cumulative", sum("n_tombstoned")
          .over(org.apache.spark.sql.expressions.Window.orderBy("sweep")
            .rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .orderBy("sweep")
    }
  }

  /** Re-derive the curation stats store from the CLEAN corpus — the
    * coherence repair after [[retroDecontaminate]]. The ingest's
    * invariant is "stats see exactly the corpus that survived", and a
    * tombstone breaks it: the word histogram and length buckets still
    * carry the contributions folded in when the now-tombstoned rows
    * were admitted. This is the UNIVERSAL repair — recompute both
    * parts from [[readCleanCorpus]] in one scan and swap the store
    * wholesale (the [[rebuildJaccardIndex]] discipline applied to
    * stats); it needs nothing pinned, so it also repairs stores whose
    * sweeps predate the delta pins. The everyday repair is
    * [[subtractTombstonedStats]] — O(tombstoned docs), no corpus
    * scan, crash-safe via its swap-committed marker. Pass the SAME
    * `textCol`/`lenLo`/`lenHi` the sink was configured with, or the
    * length buckets change unit.
    *
    * The store's `_batch` mark is written as max(stored mark, highest
    * committed corpus batch id). Usually those agree, but a crash
    * BETWEEN the payload write and the stats fold leaves a committed
    * `corpus/batch=k` the stats never saw with the mark still at k-1
    * — the rebuild's corpus scan has already counted batch k's rows,
    * so preserving the stale mark would let the resuming stream's
    * replay of k fold them a SECOND time. Advancing the mark makes
    * that replay a stats no-op (its payload rewrite stays
    * byte-identical), keeping exactly-once through the repair.
    * Serializes with live ingest by taking the same locks the ingest
    * holds. */
  def rebuildCurationStats(spark: SparkSession, rootDir: String,
      textCol: String, lenLo: Double = 0.0,
      lenHi: Double = 1000.0): Unit =
    // stats is in the lock set alongside ingest's two roots: a
    // standalone fsckCurationStore(heal = true) holds corpus+index+
    // stats, and without the stats lease its restore/delete heals
    // could race this repair's own restoreFromBackup/atomicSwap
    withStoreLock(spark, Seq(s"$rootDir/index", s"$rootDir/corpus",
        s"$rootDir/stats")) {
      // the rebuild reads the whole corpus: reclaim any move-carry
      // crash scratch first, or the recompute would durably commit
      // stats missing the relocated dirs
      healCurationCorpusRoot(spark, s"$rootDir/corpus")
      val statsDir = s"$rootDir/stats"
      val dir = new HPath(statsDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val backup = new HPath(dir.getParent, s".${dir.getName}.stats.old")
      val tmp = new HPath(dir.getParent, s".${dir.getName}.stats.tmp")
      graft.ops.Warehouse.restoreFromBackup(fs, dir, backup)
      if (!fs.exists(dir)) return // nothing folded yet, nothing stale
      val markFile = new HPath(dir, "_batch")
      val storedMark = readLongMarker(fs, markFile).get
      // cover any COMMITTED payload batch the stats never folded (a
      // crash between payload write and stats fold): the corpus scan
      // below counts its rows, so its replay must become a stats
      // no-op. A TORN (no _SUCCESS) trailing dir is the opposite
      // case: its replay adds rows, so it is excluded from BOTH the
      // scan and the mark — the replay's full fold lands on top
      val okIds = committedBatchDirIds(fs, new HPath(s"$rootDir/corpus"))
      val committedIds = okIds.filter(_ >= 0L)
      val mark = math.max(storedMark,
        if (committedIds.isEmpty) -1L else committedIds.max).toString
      fs.delete(tmp, true)
      val clean = readCleanCorpus(spark, rootDir)
        .where(col("batch").isInCollection(okIds))
      graft.ops.Bpe.wordHistogram(clean, textCol)
        .write.parquet(s"$tmp/hist")
      clean.groupBy(graft.ops.Profiling.psiBucket(
          length(col(textCol)).cast("double"), lenLo, lenHi, 10)
          .as("bucket"))
        .agg(count(lit(1)).as("n"))
        .write.parquet(s"$tmp/lens")
      // re-stamp the length-bucket unit from this repair's own params
      // (also upgrades a pre-unit store in place) and mark every
      // committed sweep as subtracted — the recompute read the CLEAN
      // corpus, so all tombstones to date are already reflected and a
      // later incremental subtract must not re-apply them
      spark.range(1).select(lit(lenLo).as("len_lo"),
          lit(lenHi).as("len_hi"), lit(1L).as("n_batches"))
        .write.parquet(s"$tmp/units")
      val sweepMark = readLongMarker(fs,
        new HPath(s"$rootDir/decon/_sweep")).getOrElse(-1L)
      for ((f, v) <- Seq("_batch" -> mark,
          "_sweep_subtracted" -> sweepMark.toString)) {
        val out = fs.create(new HPath(tmp, f), true)
        try out.write(v.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      graft.ops.Warehouse.atomicSwap(fs, dir, tmp, backup)
    }

  /** The O(tombstoned-docs) sibling of [[rebuildCurationStats]]:
    * subtract the stats contributions [[retroDecontaminate]] pinned
    * for each sweep (`decon/statsdelta/sweep=<m>/`) instead of
    * rescanning the clean corpus. Idempotent behind a
    * `_sweep_subtracted` marker that travels INSIDE the stats tree —
    * the subtracted counts and the marker commit in one atomic swap,
    * so a crashed repair either happened entirely or not at all, and
    * a rerun of an applied sweep is a no-op.
    *
    * Sweeps apply in order, and a sweep only applies once every
    * corpus batch its delta touches has been FOLDED into the stats
    * (committed dir, id ≤ the stats `_batch` mark): a sweep that
    * tombstoned docs from a torn trailing batch holds the repair at
    * that sweep until the batch's replay commits — subtracting a
    * contribution the stats never added would corrupt them. Returns
    * the number of sweeps applied; 0 means nothing pending (or the
    * head sweep is holding, which the caller retries after the
    * replay). A sweep with tombstones but NO pinned delta (it ran
    * before the stats store carried its `units` stamp) fails loudly
    * naming [[rebuildCurationStats]] — the one repair that needs no
    * pin. */
  def subtractTombstonedStats(spark: SparkSession,
      rootDir: String): Long =
    // stats joins the lock set for the same reason as in
    // [[rebuildCurationStats]]: fsck-heal takes the stats lease alone
    withStoreLock(spark, Seq(s"$rootDir/index", s"$rootDir/corpus",
        s"$rootDir/stats")) {
      val statsDir = s"$rootDir/stats"
      val dir = new HPath(statsDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val backup = new HPath(dir.getParent, s".${dir.getName}.stats.old")
      val tmp = new HPath(dir.getParent, s".${dir.getName}.stats.tmp")
      graft.ops.Warehouse.restoreFromBackup(fs, dir, backup)
      if (!fs.exists(dir)) return 0L // nothing folded yet
      val sweepMark = readLongMarker(fs,
        new HPath(s"$rootDir/decon/_sweep")).getOrElse(-1L)
      val applied = readLongMarker(fs,
        new HPath(dir, "_sweep_subtracted")).getOrElse(-1L)
      if (sweepMark <= applied) return 0L // coherent already
      val statsMark = scala.util.Try(
          readLongMarker(fs, new HPath(dir, "_batch"))).toOption.flatten
        .getOrElse(throw new IllegalStateException(
          s"stats store at $statsDir has no readable _batch mark — " +
            "the store is torn (fsckStore flags this state); repair " +
            "with rebuildCurationStats, which rewrites the mark"))
      val corpusRoot = new HPath(s"$rootDir/corpus")
      val okIds = committedBatchDirIds(fs, corpusRoot)
        .filter(_ >= 0L).toSet
      // dirs PRESENT under the corpus, committed or torn — a delta
      // batch whose dir is gone entirely was folded away by
      // compaction (its rows, and its stats contributions, live on),
      // which must not hold the repair the way a torn dir does
      val presentIds =
        if (!fs.exists(corpusRoot)) Set.empty[Long]
        else fs.listStatus(corpusRoot).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("batch="))
          .flatMap(n => scala.util.Try(
            n.stripPrefix("batch=").toLong).toOption)
          .filter(_ >= 0L).toSet
      // committed sweeps in (applied, sweepMark], ascending — the
      // order their tombstones (and so their deltas) were decided in
      val pending = {
        val tombRoot = new HPath(s"$rootDir/decon/tombstones")
        if (!fs.exists(tombRoot)) Seq.empty[Long]
        else fs.listStatus(tombRoot).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("sweep="))
          .flatMap(n => scala.util.Try(
            n.stripPrefix("sweep=").toLong).toOption)
          .filter(k => k > applied && k <= sweepMark).sorted
      }
      if (pending.isEmpty) return 0L
      def readPart(path: String): Option[DataFrame] =
        readParquetIfReadable(spark, path)
      var last = applied
      val hists = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val lenss = scala.collection.mutable.ListBuffer.empty[DataFrame]
      var holding = false
      for (k <- pending if !holding) {
        val d = new HPath(s"$rootDir/decon/statsdelta/sweep=$k")
        if (!fs.exists(d)) {
          // tombstones exist but no pinned delta: pre-unit-stamp sweep
          val anyTomb = readPart(
            s"$rootDir/decon/tombstones/sweep=$k").exists(!_.isEmpty)
          if (anyTomb) throw new IllegalStateException(
            s"sweep $k at $rootDir tombstoned documents but pinned no " +
              "stats delta (it ran before the stats store carried its " +
              "units stamp) — repair with rebuildCurationStats, which " +
              "recomputes from the clean corpus and needs no pin")
          last = k // an all-clean sweep subtracts nothing
        } else {
          val hist = readPart(s"$d/hist")
          val lens = readPart(s"$d/lens")
          // batches this sweep's delta touches, from BOTH parts (a doc
          // with no ascii-word tokens contributes to lens only)
          val touched = (hist.toSeq ++ lens.toSeq)
            .flatMap(_.select(col("batch").cast("long")).distinct()
              .collect().map(_.getLong(0))).toSet
          if (touched.exists(b => b > statsMark ||
              (presentIds.contains(b) && !okIds.contains(b))))
            holding = true // stats have not folded that batch yet
          else {
            hist.foreach(hists += _.drop("batch"))
            lens.foreach(lenss += _.drop("batch"))
            last = k
          }
        }
      }
      if (last == applied) return 0L // head sweep is holding
      def minus(store: DataFrame, deltas: Seq[DataFrame], key: String,
          measure: String): DataFrame = deltas
        .reduceOption(_ unionByName _) match {
          case None => store
          case Some(d0) =>
            val d = d0.groupBy(key).agg(sum(measure).as("__d"))
            val out = store.join(d, Seq(key), "full_outer")
              .select(col(key),
                (coalesce(col(measure), lit(0L)) -
                  coalesce(col("__d"), lit(0L))).as(measure))
            // a delta row the store cannot cover means the pin and the
            // folds diverged — corrupt either way, never clamp it away
            require(out.where(col(measure) < 0).isEmpty,
              s"stats repair at $statsDir would drive '$key' counts " +
                "negative — the pinned deltas no longer match the " +
                "folded stats; repair with rebuildCurationStats")
            out.where(col(measure) > 0)
        }
      fs.delete(tmp, true)
      minus(spark.read.parquet(s"$statsDir/hist"), hists.toSeq,
        "word", "cnt").write.parquet(s"$tmp/hist")
      minus(spark.read.parquet(s"$statsDir/lens"), lenss.toSeq,
        "bucket", "n").write.parquet(s"$tmp/lens")
      // a pre-unit-stamp store has no units part — preserve the
      // absence rather than throwing a raw read error mid-repair (the
      // deltas themselves never touch units; only rebuildCurationStats
      // upgrades the stamp in place)
      readParquetIfReadable(spark, s"$statsDir/units")
        .foreach(_.write.parquet(s"$tmp/units"))
      for ((f, v) <- Seq("_batch" -> statsMark.toString,
          "_sweep_subtracted" -> last.toString)) {
        val out = fs.create(new HPath(tmp, f), true)
        try out.write(v.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      graft.ops.Warehouse.atomicSwap(fs, dir, tmp, backup)
      pending.count(k => k <= last && k > applied).toLong
    }

  /** ZERO-COPY named snapshot of the clean corpus — the reproducible
    * training-run export [[readCleanCorpus]]'s `asOfSweep` cannot be:
    * the sweep axis freezes decontamination state but not ingest
    * history, so a later batch changes what `asOfSweep` returns. A
    * snapshot pins BOTH axes by manifest alone — the set of
    * `corpus/batch=` dirs present and the committed `decon/_sweep`
    * mark at snapshot time — so [[readSnapshot]] reconstructs the
    * exact view forever, at O(metadata) cost: no corpus byte is
    * copied, whatever the corpus size. (Pinning DIRS, not part files:
    * a crashed trailing batch's replay rewrites its dir with
    * byte-identical content under fresh part-file names, so file-level
    * pins would break on the one rewrite that is legal.)
    *
    * Pinned dirs are RETAINED by [[compactCurationCorpus]]: it folds
    * and purges around them, and defers entirely when a snapshot pins
    * `batch=-1` (the fold target). The cost of a standing snapshot is
    * therefore deferred compaction/purge over its pinned dirs — drop
    * snapshots when their training runs no longer need reproducing.
    * Commit point is the rename of the manifest dir; a crash before it
    * leaves only a dotted tmp dir that the next snapshot overwrites.
    * Serializes with ingest/compaction via the corpus lease. */
  def snapshotCorpus(spark: SparkSession, rootDir: String,
      name: String): Unit = {
    // the name is a path component AND a _MANIFEST JSON value — keep
    // it to a charset that needs no escaping in either
    require(name.matches("""[A-Za-z0-9][A-Za-z0-9._-]*"""),
      s"snapshot name '$name' must be alphanumeric-led [A-Za-z0-9._-]")
    withStoreLock(spark, Seq(s"$rootDir/corpus")) {
      healCurationCorpusRoot(spark, s"$rootDir/corpus")
      val tree = new HPath(s"$rootDir/corpus")
      val fs = tree.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // pin only COMMITTED dirs: a torn trailing batch's replay
      // rewrites it with MORE rows, which would silently change what
      // the "immutable" snapshot returns after the fact
      val ids = committedBatchDirIds(fs, tree).sorted
      require(ids.nonEmpty,
        s"no committed corpus batches under $rootDir/corpus")
      val sweep: Long = readLongMarker(fs,
        new HPath(s"$rootDir/decon/_sweep")).getOrElse(-1L)
      val snapDir = new HPath(s"$rootDir/snapshots/$name")
      require(!fs.exists(snapDir),
        s"snapshot '$name' already exists (snapshots are immutable — " +
          "drop it first to re-point the name)")
      val tmp = new HPath(s"$rootDir/snapshots/.$name.tmp")
      fs.delete(tmp, true)
      val out = fs.create(new HPath(tmp, "manifest"), true)
      try out.write(
        (s"batches=${ids.mkString(",")}\nsweep=$sweep\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      require(fs.rename(tmp, snapDir),
        s"could not commit snapshot '$name' (concurrent create?)")
    }
  }

  /** Parse one snapshot manifest → (pinned batch ids, sweep mark). */
  private def readSnapshotManifest(
      fs: org.apache.hadoop.fs.FileSystem, rootDir: String,
      name: String): (Seq[Long], Long) = {
    val mf = new HPath(s"$rootDir/snapshots/$name/manifest")
    require(fs.exists(mf), s"no snapshot '$name' under $rootDir")
    val in = fs.open(mf)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val kv = text.linesIterator.filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim }
      .toMap
    (kv("batches").split(",").map(_.trim.toLong).toSeq,
      kv("sweep").toLong)
  }

  /** The exact clean view [[snapshotCorpus]] froze: the pinned batch
    * dirs minus tombstones at the pinned sweep mark. Lock-free like
    * every reader (retention keeps the pinned dirs in place; the
    * tombstone tree is append-only). Fails loudly, naming the missing
    * dirs, if the pins were broken — which only a manual delete or a
    * pre-retention compaction can do. */
  def readSnapshot(spark: SparkSession, rootDir: String,
      name: String): DataFrame = {
    val tree = new HPath(s"$rootDir/corpus")
    val fs = tree.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (batches, sweep) = readSnapshotManifest(fs, rootDir, name)
    val missing = batches.filterNot(b =>
      fs.exists(new HPath(s"$rootDir/corpus/batch=$b")))
    require(missing.isEmpty,
      s"snapshot '$name' pins corpus dirs that no longer exist " +
        s"(batch=${missing.mkString(", batch=")}) — either a " +
        "compaction swap is in flight this instant (retry; the " +
        "move-carry window is a few metadata ops), or a compaction " +
        "ran without retention / the dirs were deleted by hand and " +
        "the snapshot cannot be reconstructed")
    val live = spark.read.option("basePath", s"$rootDir/corpus")
      .parquet(batches.map(b => s"$rootDir/corpus/batch=$b"): _*)
    readCurationTombstones(spark, rootDir, asOfSweep = Some(sweep))
      .fold(live)(t => live.join(t, t.columns.toSeq, "left_anti"))
  }

  /** Every committed snapshot, sorted by name: (name, pinned batch
    * ids, pinned sweep mark). Driver-side listing of a dir with one
    * entry per snapshot — snapshots are human-scale. A snapshot whose
    * manifest does not parse is SKIPPED with a stderr note (one
    * damaged entry must not hide the rest); [[fsckCurationStore]]
    * reports it as an error. */
  def listSnapshots(spark: SparkSession,
      rootDir: String): Seq[(String, Seq[Long], Long)] = {
    val dir = new HPath(s"$rootDir/snapshots")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted
      .flatMap { n =>
        scala.util.Try(readSnapshotManifest(fs, rootDir, n)) match {
          case scala.util.Success((b, s)) => Some((n, b, s))
          case scala.util.Failure(_) =>
            System.err.println(s"[snapshot] skipping '$n' in " +
              s"listSnapshots: manifest unreadable (fsck flags it; " +
              "dropSnapshot clears it)")
            None
        }
      }
  }

  /** Delete a snapshot's manifest — its pins lapse and the next
    * [[compactCurationCorpus]] is free to fold/purge the dirs it held
    * (the data itself is untouched here; only the pin goes). */
  def dropSnapshot(spark: SparkSession, rootDir: String,
      name: String): Unit = {
    val dir = new HPath(s"$rootDir/snapshots/$name")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dir, true)
    ()
  }

  /** Union of every committed snapshot's pinned batch ids — the
    * retention set [[compactCurationCorpus]] must not fold or purge.
    * None when ANY manifest is unreadable: its pins are unknowable,
    * so the caller must treat everything as pinned (defer) rather
    * than risk purging dirs a damaged-but-droppable manifest still
    * names — and must say which snapshot to drop, not throw. */
  private def snapshotPinnedBatches(
      fs: org.apache.hadoop.fs.FileSystem,
      rootDir: String): Option[Set[Long]] = {
    val dir = new HPath(s"$rootDir/snapshots")
    if (!fs.exists(dir)) Some(Set.empty)
    else {
      val reads = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filterNot(_.startsWith("."))
        .map(n => n -> scala.util.Try(
          readSnapshotManifest(fs, rootDir, n)._1))
      reads.collect { case (n, scala.util.Failure(_)) => n } match {
        case Seq() =>
          Some(reads.flatMap(_._2.get).toSet)
        case broken =>
          System.err.println("[snapshot] unreadable manifest(s) " +
            s"under $rootDir/snapshots: ${broken.mkString(", ")} — " +
            "their pins are unknowable, so compaction defers; " +
            "fsckCurationStore flags them, dropSnapshot clears them")
          None
      }
    }
  }

  /** Document-level provenance between two training runs: the ids that
    * entered and left the clean view from snapshot `from` to snapshot
    * `to` — one row per changed id, columns (idCol, `change` ∈
    * 'added' | 'removed').
    *
    * Ingest is append-only and decontamination is tombstone-only, so
    * when `to` still pins every dir `from` pinned (no compaction
    * folded them away between the runs) the diff NEVER READS THE
    * SHARED BULK: ADDED = an id-pruned scan of only the dirs `to`
    * added, minus `to`'s tombstones; REMOVED = the tombstones swept in
    * (fromMark, toMark] — an id is swept at most once, each sweep
    * scans the already-clean corpus — semi-joined against an id-pruned
    * scan of `from`'s dirs (a sweep also kills docs admitted after
    * `from`, which were never in its view). Both joins broadcast the
    * benchmark-hit-sized tombstone side: at 100 TB the cost is the new
    * batches plus one single-column pass over `from`'s dirs, zero
    * corpus shuffle. The fast path reports at id granularity and so
    * assumes `idCol` unique across the corpus (the admission
    * pipeline's contract). If a fold DID rewrite `from`'s dirs — or
    * the snapshots were taken out of order — falls back to the direct
    * two-sided anti-join of the materialized views: a full shuffle,
    * correct unconditionally. */
  def diffSnapshots(spark: SparkSession, rootDir: String,
      from: String, to: String, idCol: String): DataFrame = {
    val fs = new HPath(s"$rootDir/corpus")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (bFrom, sFrom) = readSnapshotManifest(fs, rootDir, from)
    val (bTo, sTo) = readSnapshotManifest(fs, rootDir, to)
    def tag(df: DataFrame, change: String) =
      df.select(col(idCol)).withColumn("change", lit(change))
    if (!(bFrom.toSet.subsetOf(bTo.toSet) && sFrom <= sTo)) {
      val a = readSnapshot(spark, rootDir, from).select(idCol)
      val b = readSnapshot(spark, rootDir, to).select(idCol)
      return tag(b.join(a, Seq(idCol), "left_anti"), "added")
        .unionByName(tag(a.join(b, Seq(idCol), "left_anti"), "removed"))
        .distinct()
    }
    def idScan(batches: Seq[Long]) =
      spark.read.option("basePath", s"$rootDir/corpus")
        .parquet(batches.map(b => s"$rootDir/corpus/batch=$b"): _*)
        .select(idCol)
    val newDirs = bTo.filterNot(bFrom.toSet)
    val added =
      if (newDirs.isEmpty) None
      else {
        val fresh = idScan(newDirs)
        // no broadcast hint: this leg anti-joins the FULL tombstone
        // set at sweep sTo, which [[readCleanCorpus]] deliberately
        // leaves to AQE (an adversarially large tombstone set must
        // not be forced onto the driver); AQE still broadcasts the
        // ordinary small case on its own
        Some(readCurationTombstones(spark, rootDir, Some(sTo))
          .fold(fresh)(t =>
            fresh.join(t.select(idCol), Seq(idCol), "left_anti")))
      }
    val removed =
      if (sFrom == sTo) None
      else tombstonesWhere(spark, rootDir, s => s > sFrom && s <= sTo)
        .map(t => idScan(bFrom)
          .join(broadcast(t.select(idCol)), Seq(idCol), "left_semi"))
    (added.map(tag(_, "added")).toSeq ++
      removed.map(tag(_, "removed")).toSeq)
      .reduceOption(_ unionByName _)
      .fold(tag(idScan(bTo).limit(0), "none").limit(0))(identity)
      .distinct()
  }

  /** Materialize a snapshot as deterministically-sharded JSON-Lines —
    * the physical hand-off of a reproducible training run to the
    * training stack ([[graft.ops.Warehouse.writeJsonlShards]]:
    * md5-stable shard membership, so re-exporting the same snapshot
    * produces byte-identical shard contents). A `_MANIFEST` JSON file
    * lands beside the shards carrying the provenance a training run
    * needs to audit what it consumed — snapshot name, pinned batch
    * ids, sweep mark, document count, shard count — so the export is
    * self-describing even after it leaves the warehouse.
    *
    * `nShards = 0` (the default) derives the count from the pinned
    * batch dirs' parquet bytes — ONE recursive metadata listing of
    * the corpus root — targeting ~512 MB per SHARD FILE
    * (`graft.export.shardTargetBytes` overrides) with a
    * SELF-CALIBRATING expansion factor: [[measuredExpansion]]
    * re-encodes one bounded pinned parquet file with the target codec
    * and measures the actual ratio, so the sizing is exact for every
    * codec and corpus shape forever (falling back to the
    * ExportProbe-measured table — plain ≈ 3×, gzip ≈ 0.6×,
    * zstd ≈ 0.55× — only when calibration cannot encode). A 100 TB
    * snapshot thus fans out to enough write tasks instead of wedging
    * a fixed or mis-guessed shard count into straggler/OOM
    * territory. The document count in `_MANIFEST`
    * comes from an Observation on the write itself — the export is
    * never re-read for its own bookkeeping. `codec` compresses the
    * shard files (`"gzip"` / `"zstd"`; zstd for text sinks requires
    * native hadoop). */
  def exportSnapshot(spark: SparkSession, rootDir: String, name: String,
      outPath: String, idCol: String, nShards: Int = 0,
      codec: Option[String] = None): Unit = {
    // the warehouse and the export target can live on DIFFERENT
    // filesystems (hdfs root, local hand-off mount) — resolve each
    // path against its own
    val conf = spark.sparkContext.hadoopConfiguration
    val storeFs = new HPath(rootDir).getFileSystem(conf)
    val outFs = new HPath(outPath).getFileSystem(conf)
    val (batches, sweep) = readSnapshotManifest(storeFs, rootDir, name)
    val effShards =
      if (nShards > 0) nShards
      else {
        val files = pinnedFiles(storeFs, rootDir, batches)
        calibratedShardCount(spark, files, codec, outPath,
          files.map(_._2).sum)
      }
    val view = readSnapshot(spark, rootDir, name)
    val payload = view.drop("batch")
    val (nDocs, finalShards) = writeJsonlShardsSized(spark,
      payload, idCol, outPath, effShards, codec, derived = nShards == 0)
    // the payload schema rides in the manifest (DDL form) so a
    // consumer — applyExportDelta in particular — never has to INFER
    // it back from the JSONL: inference is a full decode pass, and
    // the JSON writer omits null fields, so an inferred schema can
    // lose all-null (even nested) optional columns the view actually
    // has. The manifest is the view's exact shape, free.
    val json = s"""{"snapshot":"$name",""" +
      s""""batches":[${batches.mkString(",")}],""" +
      s""""sweep":$sweep,"n_docs":$nDocs,"n_shards":$finalShards,""" +
      s""""schema":"${jsonEscape(payload.schema.toDDL)}"}"""
    val o = outFs.create(new HPath(outPath, "_MANIFEST"), true)
    try o.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally o.close()
  }

  /** Minimal JSON string escaping for manifest values — backslash,
    * quote, AND control characters (a column name carrying a newline
    * is legal in a DataFrame and must not produce a manifest no JSON
    * parser can read). [[jsonUnescape]] is its exact inverse. */
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonUnescape(v: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'u' if i + 5 < v.length =>
            sb.append(Integer.parseInt(
              v.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case o => sb.append(o); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** [[graft.ops.Warehouse.writeJsonlShards]] plus a post-write size
    * AUDIT for derived counts — the backstop for
    * compressibility-adversarial corpora, where one-file calibration
    * is structurally wrong however well it measures: the candidate
    * file can only witness ITS batch's compressibility, and a corpus
    * whose batches differ wildly (a replicated-boilerplate backfill
    * beside random-ish hex dumps; ExportProbe's `skew` fixture
    * measured a gzip export landing ONE 1.66 GB shard against the
    * 512 MB target this way, and plain landing 117 shards of 33 MB —
    * a 15× file-count explosion at the other extreme) can make the
    * estimate land the mean shard far from target in either
    * direction. The audit is one listing of the just-written output
    * (actual bytes now KNOWN exactly): when the mean shard landed
    * >2× target — or <¼ target across >1 shard — the export is
    * re-encoded ONCE at `ceil(actual / target)`, which is exact by
    * construction (same data + codec ⇒ same bytes), so no loop.
    * Cost: one extra encode pass, paid only in the pathological
    * case; a caller-pinned explicit count is respected untouched
    * (`derived = false`). Deterministic across re-exports — same
    * data ⇒ same actual bytes ⇒ same final count. */
  private[graft] def writeJsonlShardsSized(spark: SparkSession,
      payload: DataFrame, idCol: String, outPath: String, shards: Int,
      codec: Option[String], derived: Boolean): (Long, Int) = {
    val hp = new HPath(outPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // EVERY export call sweeps a prior heal's leavings, not just the
    // heal branch: a heal that died between its delete and rename
    // leaves a complete duplicate export at the temp path, and the
    // next run — whose calibration is now right — would otherwise
    // never visit the branch that cleans it, leaving the duplicate
    // standing silently forever
    val tp = new HPath(outPath.stripSuffix("/") + ".heal.tmp")
    if (fs.exists(tp)) {
      System.err.println(s"[export] removing stale heal leavings at " +
        s"$tp (a prior heal died mid-swap; this run rewrites the " +
        "export from scratch)")
      fs.delete(tp, true)
    }
    val nDocs = graft.ops.Warehouse.writeJsonlShards(
      payload, idCol, outPath, shards, codec)
    if (!derived) return (nDocs, shards)
    val target = shardTargetBytes(spark)
    var actual = 0L
    // mean over the files that EXIST, not the requested count: the
    // writer shards by hash(id) mod n, so n near (or above) the doc
    // count leaves some shard values empty — dividing by the request
    // would understate the real per-file size and let a genuine
    // breach of the actual files escape the trigger
    var nFiles = 0
    val it = fs.listFiles(hp, true)
    while (it.hasNext) {
      val st = it.next()
      val nm = st.getPath.getName
      if (!nm.startsWith("_") && !nm.startsWith(".")) {
        actual += st.getLen
        nFiles += 1
      }
    }
    val mean = actual.toDouble / math.max(1, nFiles)
    val ideal = math.max(1, math.ceil(actual.toDouble / target).toInt)
    if (ideal != shards &&
        (mean > 2.0 * target || (nFiles > 1 && mean < 0.25 * target))) {
      System.err.println("[export] calibrated count " + shards +
        f" landed a mean shard of ${mean / 1e6}%.0f MB over $nFiles " +
        f"files against the ${target / 1e6}%.0f MB target " +
        "(compressibility-skewed corpus vs its one calibration " +
        "file) — re-encoding once at the now-exact count " + ideal)
      // re-encode to a SIBLING temp dir first: the first attempt is
      // merely mis-sized, not wrong, and deleting it before the
      // corrective pass succeeds would leave the caller with NOTHING
      // if that pass dies (executor loss, disk full). Only after the
      // re-encode lands is the original removed and the temp renamed
      // in — the non-atomic window shrinks from a whole encode pass
      // to two metadata ops, and a death inside it leaves the full
      // re-encode recoverable at the named temp path.
      val n2 = graft.ops.Warehouse.writeJsonlShards(
        payload, idCol, tp.toString, ideal, codec)
      // the explicit delete (not an overwrite) still matters: under
      // partitionOverwriteMode=dynamic a DOWN-sized overwrite
      // (117→8) would leave shards 8..116 standing beside the new
      // ones — a silently duplicated corpus
      fs.delete(hp, true)
      if (!fs.rename(tp, hp))
        throw new java.io.IOException(
          s"export heal could not swap $tp into place at $outPath — " +
            "the re-encoded export is complete at the temp path; " +
            "rename it in manually or re-run the export")
      (n2, ideal)
    } else (nDocs, shards)
  }

  /** (path, bytes) of every pinned `batch=` dir's DATA files — ONE
    * recursive listing filtered to the pins, not a getContentSummary
    * per dir (O(batch dirs) namenode calls — the same stampede the
    * compactor's sizing avoids). The single listing serves BOTH
    * sizing needs of an export: the total bytes (sum) and the
    * calibration candidate pick — exports never walk the corpus
    * metadata twice. */
  private[graft] def pinnedFiles(
      storeFs: org.apache.hadoop.fs.FileSystem,
      rootDir: String, batches: Seq[Long]): Vector[(String, Long)] = {
    val pinned = batches.map(b => s"batch=$b").toSet
    var files = Vector.empty[(String, Long)]
    val corpusRoot = new HPath(s"$rootDir/corpus")
    if (!storeFs.exists(corpusRoot)) return files
    val it = storeFs.listFiles(corpusRoot, true)
    while (it.hasNext) {
      val st = it.next()
      val nm = st.getPath.getName
      if (pinned.contains(st.getPath.getParent.getName) &&
          !nm.startsWith("_") && !nm.startsWith(".") && st.getLen > 0L)
        files :+= ((st.getPath.toString, st.getLen))
    }
    files
  }

  /** The per-SHARD-FILE byte target export sizing aims at — ~512 MB
    * by default, overridable per session (`graft.export.
    * shardTargetBytes`) for stacks that want 1 GB shards (or for
    * specs that pin the sizing arithmetic at test scale). */
  private def shardTargetBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.export.shardTargetBytes")
      .map(_.toLong).getOrElse(512L << 20)

  /** FALLBACK shard count from source parquet bytes and a probe-table
    * expansion factor (expected shard bytes per parquet byte) — used
    * only when [[measuredExpansion]] cannot calibrate (nothing to
    * measure, or a codec the runtime cannot encode). Codec-aware:
    * sizing compressed exports by the uncompressed-JSON factor would
    * cut every shard to a fraction of the target and multiply the
    * file count at 100 TB. Factors are ExportProbe-measured on a
    * multi-GB corpus (PERF.md round 12): plain JSONL ran 2.94× the
    * snappy-parquet bytes, gzip 0.57× (cross-row text compression
    * beats parquet's per-page snappy); zstd is gzip-pegged slightly
    * tighter (text-sink zstd needs native hadoop, absent where the
    * probe runs). Rounded UP from the measurement: an overestimated
    * factor errs toward slightly smaller shards, never oversized
    * ones. */
  private def derivedShardCount(parquetBytes: Long,
      codec: Option[String], targetBytes: Long): Int = {
    val expand = codec.map(_.toLowerCase) match {
      case Some("gzip") => 0.6
      case Some("zstd") => 0.55
      case Some(_) => 0.6 // unknown codec: assume it compresses
      case None => 3.0
    }
    math.max(1, math.ceil(parquetBytes * expand / targetBytes).toInt)
  }

  /** MEASURED expansion factor (shard bytes per parquet byte) for
    * THIS corpus and codec — the self-calibrating leg of export
    * sizing. One candidate parquet data file (from [[pinnedFiles]]'s
    * listing: the smallest ≥ 8 MB, else the largest present —
    * bounded work however large the corpus) is
    * re-encoded as JSONL under `scratch` with the target codec and
    * its output bytes measured, so the factor tracks the actual data
    * shape and codec instead of a table of guesses — the r11 gzip
    * guess was 1.75× off until ExportProbe measured it, and a factor
    * measured on ONE corpus still drifts on another (compressibility
    * is data-dependent). Padded ×1.1 so estimation error lands on
    * slightly-small shards, never oversized ones. None when there is
    * nothing to measure or the calibration write fails (e.g. zstd
    * text sinks without native hadoop) — callers fall back to
    * [[derivedShardCount]]'s probe table, warned on stderr. The
    * scratch dir is always removed. Cost: one bounded file
    * read + encode, O(1) in corpus size, no second pass over the
    * data. */
  private[graft] def measuredExpansion(spark: SparkSession,
      cand: Seq[(String, Long)], codec: Option[String],
      scratch: String): Option[Double] = {
    if (cand.isEmpty) return None
    val (file, parquetBytes) = cand.filter(_._2 >= (8L << 20))
      .sortBy(_._2).headOption.getOrElse(cand.maxBy(_._2))
    val sp = new HPath(scratch)
    val sfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytesUnder(dir: String): Long = {
      var bytes = 0L
      val oit = sfs.listFiles(new HPath(dir), true)
      while (oit.hasNext) {
        val st = oit.next()
        val nm = st.getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".")) bytes += st.getLen
      }
      bytes
    }
    try {
      val w = spark.read.parquet(file).write.mode("overwrite")
      codec.fold(w)(c => w.option("compression", c)).json(s"$scratch/txt")
      val bytes = bytesUnder(s"$scratch/txt")
      if (bytes <= 0L) None
      else Some(bytes.toDouble / parquetBytes * 1.1)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the TEXT sink could not encode this codec (zstd text
        // compression rides native hadoop, absent on plain-JVM
        // containers). Second fallback before the probe-table guess:
        // measure the plain-JSONL expansion (encodes everywhere) and
        // scale it by the codec's compression ratio measured on the
        // SAME data through parquet re-encodes — parquet codecs ship
        // as bundled JNI/java libraries, so zstd COMPRESSES here even
        // where the text sink cannot. An approximation (columnar
        // pages compress a little differently than JSONL text) but
        // measured on THIS corpus, where the r11/r12 rounds showed
        // fixed guesses drift up to 1.75× across corpora
        val viaParquet = codec.flatMap { c =>
          try {
            val df = spark.read.parquet(file)
            df.write.mode("overwrite").json(s"$scratch/plain")
            val plainBytes = bytesUnder(s"$scratch/plain")
            df.write.mode("overwrite").option("compression", "none")
              .parquet(s"$scratch/pq_none")
            df.write.mode("overwrite").option("compression", c)
              .parquet(s"$scratch/pq_codec")
            val uBytes = bytesUnder(s"$scratch/pq_none")
            val cBytes = bytesUnder(s"$scratch/pq_codec")
            if (plainBytes <= 0L || uBytes <= 0L || cBytes <= 0L) None
            else {
              val f = plainBytes.toDouble / parquetBytes *
                (cBytes.toDouble / uBytes) * 1.1
              System.err.println("[export] shard-size calibration " +
                s"could not encode $file with codec $c through the " +
                s"text sink ($e) — using the parquet-side ratio " +
                f"instead (plain ×${plainBytes.toDouble / parquetBytes}%.2f, " +
                f"$c/none ×${cBytes.toDouble / uBytes}%.2f)")
              Some(f)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        if (viaParquet.isEmpty)
          System.err.println("[export] shard-size calibration could " +
            s"not encode $file with codec ${codec.getOrElse("none")} " +
            s"($e) — falling back to the probe-table expansion guess")
        viaParquet
    } finally { sfs.delete(sp, true); () }
  }

  /** Shard count for `parquetBytes` of pinned corpus (candidate
    * `files` from [[pinnedFiles]]'s one listing): the measured factor
    * when calibration succeeds, the probe-table guess otherwise. */
  private def calibratedShardCount(spark: SparkSession,
      files: Seq[(String, Long)], codec: Option[String],
      outPath: String, parquetBytes: Long): Int = {
    val target = shardTargetBytes(spark)
    measuredExpansion(spark, files, codec, s"$outPath/.calibrate")
      .map(f => math.max(1,
        math.ceil(parquetBytes * f / target).toInt))
      .getOrElse(derivedShardCount(parquetBytes, codec, target))
  }

  /** O(metadata) integrity audit of a whole curation store — the fsck
    * an operator runs before trusting a 100 TB root after a crash, a
    * migration, or a by-hand cleanup. One driver-side listing pass
    * (no corpus byte read); returns one row per FINDING, columns
    * (`area`, `path`, `status`, `detail`) — an empty frame is a clean
    * bill of health. Statuses:
    *
    *  - `error` — a reader or invariant is actually broken: a
    *    compaction died between its two renames (only the dotted
    *    backup holds the last complete tree), a snapshot pins corpus
    *    dirs that no longer exist or a sweep mark ahead of the decon
    *    state, a manifest that does not parse, or a COMMITTED
    *    tombstone sweep dir with no `_SUCCESS` marker.
    *  - `warn` — crash leftovers the next maintenance write heals by
    *    itself (compaction scratch/stale-backup dirs, a tombstone
    *    sweep dir ahead of the committed `_sweep` mark, an
    *    uncommitted snapshot tmp, a corpus batch dir with no
    *    `_SUCCESS` — the replayable-trailing-batch signature).
    *  - `info` — expected-but-notable: a pinned decon decision whose
    *    corpus batch has since folded (harmless; the pin only matters
    *    to a replay of that batch id).
    *
    * Every detail string says what heals the finding, so the fsck is
    * a runbook, not just a red light. With `heal = true` the SAFE
    * heals — exactly the ones the store's own lazy recovery paths
    * perform — are applied inline and the finding's `healed` column
    * reads true: a mid-swap backup is restored over its missing tree,
    * swap scratch / stale backups / uncommitted snapshot tmps are
    * deleted, an ahead-of-mark tombstone sweep is dropped (the rerun
    * recomputes it). Findings whose repair needs an operator decision
    * (torn committed data, broken snapshot pins) or a stream replay
    * (a `_SUCCESS`-less trailing batch) are never auto-healed. */
  def fsckCurationStore(spark: SparkSession, rootDir: String,
      heal: Boolean = false): DataFrame =
    // a read-only audit stays lock-free like every reader; the HEAL
    // mutates swap state, so it serializes with the mutators — a heal
    // racing a LIVE compaction would delete the scratch that
    // compaction is about to swap in (and atomicSwap would then
    // retire the backup holding the only complete tree)
    if (!heal) fsckCurationStoreBody(spark, rootDir, heal = false)
    else withStoreLock(spark, Seq(s"$rootDir/corpus",
        s"$rootDir/index", s"$rootDir/stats")) {
      fsckCurationStoreBody(spark, rootDir, heal = true)
    }

  private def fsckCurationStoreBody(spark: SparkSession,
      rootDir: String, heal: Boolean): DataFrame = {
    val fs = new HPath(rootDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Boolean)]
    def exists(p: String) = fs.exists(new HPath(p))
    def names(p: String): Seq[String] =
      if (!exists(p)) Seq.empty
      else fs.listStatus(new HPath(p)).toSeq.map(_.getPath.getName)
    def readLong(p: String): Option[Long] =
      scala.util.Try(readLongMarker(fs, new HPath(p))).toOption.flatten
    // the two safe heal verbs; both report false when heal is off so
    // the healed column always states what THIS pass did
    def healDelete(p: String): Boolean =
      heal && fs.delete(new HPath(p), true)
    def healRestore(backup: String, target: String): Boolean =
      heal && fs.rename(new HPath(backup), new HPath(target))
    // ---- maintained trees: an atomicSwap rename pair leaves dotted
    // siblings exactly when a maintenance write crashed. Two swap
    // families exist: compactions use `.<tree>.compact.*` and the
    // per-batch stats merge (mergeStoreBatch / rebuildCurationStats)
    // uses `.<tree>.stats.*` — audit both for every tree. The CORPUS
    // compaction scratch is special: the move-carry compaction
    // relocates retained dirs into it, so it can hold their ONLY copy
    // — its heal is the reclaim (dirs renamed home), NEVER a delete
    for (tree <- Seq("corpus", "index", "stats");
        fam <- Seq("compact", "stats")) {
      val backup = s"$rootDir/.$tree.$fam.old"
      val tmp = s"$rootDir/.$tree.$fam.tmp"
      val corpusCarry = tree == "corpus" && fam == "compact"
      // observe BEFORE healing: the corpus reclaim consumes backup
      // and scratch together, and both findings must still report.
      // healed reports the POST-state (the dotted path actually
      // gone), not merely that a heal was attempted
      val hadTmp = exists(tmp)
      def healCorpus(path: String): Boolean = {
        if (heal) healCurationCorpusRoot(spark, s"$rootDir/$tree")
        heal && !exists(path)
      }
      if (exists(backup) && !exists(s"$rootDir/$tree"))
        out += (("swap", backup, "error",
          s"a $fam swap of $tree died between its two renames; the " +
            "backup holds the last complete tree — the next " +
            "maintenance write restores it" +
            (if (corpusCarry) " (reclaiming any move-carried dirs " +
              "from the scratch first)" else ""),
          if (corpusCarry) healCorpus(backup)
          else healRestore(backup, s"$rootDir/$tree")))
      else if (exists(backup))
        out += (("swap", backup, "warn",
          "stale backup from a completed swap; deleted at the next " +
            "maintenance write, safe to remove by hand",
          if (corpusCarry) healCorpus(backup) else healDelete(backup)))
      if (hadTmp)
        out += ((
          "swap", tmp, "warn",
          if (corpusCarry)
            "crashed compaction scratch that MAY hold the only copy " +
              "of move-carried batch dirs; any maintenance pass (or " +
              "heal) renames them home before discarding it — never " +
              "delete it by hand"
          else
            "crashed swap scratch; never read, overwritten by the " +
              "next maintenance write",
          if (corpusCarry) healCorpus(tmp) else healDelete(tmp)))
    }
    // ---- the exact-Jaccard index's frozen-order df_table has its
    // own swap pair INSIDE the index tree (writeJaccardDfTable)
    locally {
      val target = s"$rootDir/index/df_table"
      val backup = s"$rootDir/index/.df_table.compact.old"
      val tmp = s"$rootDir/index/.df_table.compact.tmp"
      if (exists(backup) && !exists(target))
        out += (("swap", backup, "error",
          "a df_table swap died between its two renames; the backup " +
            "holds the frozen-order table — the next jaccard " +
            "compaction restores it", healRestore(backup, target)))
      else if (exists(backup))
        out += (("swap", backup, "warn",
          "stale df_table backup from a completed swap; deleted at " +
            "the next jaccard compaction, safe to remove by hand",
          healDelete(backup)))
      if (exists(tmp))
        out += (("swap", tmp, "warn",
          "crashed df_table swap scratch; never read, overwritten " +
            "by the next rebuild", healDelete(tmp)))
    }
    // ---- corpus batch dirs: _SUCCESS marks a complete write; a bare
    // dir is the replayable-trailing-batch signature
    for (n <- names(s"$rootDir/corpus")
        if n.startsWith("batch=")
        if !exists(s"$rootDir/corpus/$n/_SUCCESS"))
      out += (("corpus", s"$rootDir/corpus/$n", "warn",
        "batch dir without _SUCCESS — a torn write; the stream's " +
          "replay of this batch id deletes and rewrites it", false))
    // ---- decon: tombstone sweeps vs the committed _sweep mark
    val sweepMark = readLong(s"$rootDir/decon/_sweep")
    for (n <- names(s"$rootDir/decon/tombstones") if n.startsWith("sweep=")) {
      val m = scala.util.Try(n.stripPrefix("sweep=").toLong).toOption
      val p = s"$rootDir/decon/tombstones/$n"
      (m, sweepMark) match {
        case (Some(mm), mk) if mm > mk.getOrElse(-1L) =>
          out += (("decon", p, "warn",
            "tombstone sweep ahead of the committed _sweep mark — a " +
              "crashed sweep's leftover; the next retroDecontaminate " +
              "deletes and recomputes it", healDelete(p)))
        case (Some(_), _) if !exists(s"$p/_SUCCESS") =>
          out += (("decon", p, "error",
            "COMMITTED tombstone sweep without _SUCCESS — torn " +
              "tombstone data behind the mark; rerun the sweep after " +
              "rolling _sweep back to the previous mark", false))
        case (None, _) =>
          out += (("decon", p, "error",
            "unparseable sweep dir name; not written by " +
              "retroDecontaminate — remove or rename by hand", false))
        case _ => ()
      }
    }
    // ---- decon: stats-delta pins and cumulative hit counts share
    // the tombstones' commit point (_sweep), so the same
    // ahead-of-mark rule applies; a dotted dir is a pin that crashed
    // before its commit rename
    for (tree <- Seq("statsdelta", "hits");
        n <- names(s"$rootDir/decon/$tree")) {
      val p = s"$rootDir/decon/$tree/$n"
      val prefixes =
        if (tree == "hits") Seq("sweep=", "base=") else Seq("sweep=")
      val mm = prefixes.find(n.startsWith)
        .flatMap(pre => scala.util.Try(
          n.stripPrefix(pre).toLong).toOption)
      if (n.startsWith("."))
        out += (("decon", p, "warn",
          "crashed stats-delta pin scratch (died before its commit " +
            "rename); never read, overwritten by the sweep's rerun",
          healDelete(p)))
      else mm match {
        case Some(k) if k > sweepMark.getOrElse(-1L) =>
          out += (("decon", p, "warn",
            s"$tree dir ahead of the committed _sweep mark — a " +
              "crashed sweep's leftover; the next retroDecontaminate " +
              "deletes and recomputes it", healDelete(p)))
        case None =>
          out += (("decon", p, "error",
            "unparseable dir name; not written by " +
              "retroDecontaminate — remove or rename by hand", false))
        case _ => ()
      }
    }
    // ---- decon: hits-history contiguity and stats-subtract lag —
    // both INFO: the store heals itself (a re-baseline pass / a later
    // repair), but each carries a cost the operator should see coming
    // rather than discover as a surprise full-registry scan
    locally {
      val mk = sweepMark.getOrElse(-1L)
      def committedDeconMarks(tree: String, prefix: String): Seq[Long] =
        names(s"$rootDir/decon/$tree").filter(_.startsWith(prefix))
          .flatMap(n => scala.util.Try(
            n.stripPrefix(prefix).toLong).toOption)
          .filter(_ <= mk)
      committedDeconMarks("hits", "base=").sorted.lastOption
        .foreach { b =>
          val incs = committedDeconMarks("hits", "sweep=").toSet
          val missing = committedDeconMarks("tombstones", "sweep=")
            .filter(k => k > b && !incs.contains(k)).sorted
          if (missing.nonEmpty)
            out += (("decon", s"$rootDir/decon/hits", "info",
              "cumulative hit-count history has a gap — committed " +
                s"sweep(s) ${missing.mkString(", ")} since base=$b " +
                "left no increment (interleaved minHits=1 sweeps " +
                "maintain no counts). Correct but costly: the next " +
                "minHits>1 sweep re-baselines with ONE full-registry " +
                "pass instead of a window read", false))
        }
      if (exists(s"$rootDir/stats")) {
        val sub = readLong(s"$rootDir/stats/_sweep_subtracted")
          .getOrElse(-1L)
        // only when committed sweep DIRS sit in the un-subtracted
        // window — dir presence is metadata, so the audit stays
        // O(listing); an all-clean sweep's subtract is a cheap no-op
        val lagging = committedDeconMarks("tombstones", "sweep=")
          .filter(k => k > sub)
        if (sub < mk && lagging.nonEmpty)
          out += (("stats", s"$rootDir/stats/_sweep_subtracted", "info",
            "curation stats still count any documents tombstoned by " +
              s"sweep(s) ${lagging.sorted.mkString(", ")} — " +
              "word/length aggregates over-count until " +
              "subtractTombstonedStats (O(tombstoned docs)) or " +
              "rebuildCurationStats applies them (a no-op if those " +
              "sweeps were clean)", false))
      }
      // post-sweep GATE-LESS ingests never scanned against the
      // standing registry: a sweep with the registry unchanged is a
      // no-op by design (its trees are keyed by the registry mark),
      // so gate-less batches ingested after the last sweep carry any
      // contamination into the clean view until the registry grows.
      // Batches with a pinned gate decision (decon/batch=<id>) were
      // decontaminated at admission and carry no gap — without that
      // exclusion every live gated store would flag its normal
      // ingest-ahead-of-sweep state. Same O(listing) visibility rule
      // as above: say it BEFORE an operator discovers it in an
      // eval-set leak
      if (mk >= 0L) {
        val cwm = readLong(s"$rootDir/decon/_sweep_corpus")
          .getOrElse(-1L)
        val unswept = names(s"$rootDir/corpus")
          .filter(_.startsWith("batch="))
          .flatMap(n => scala.util.Try(
            n.stripPrefix("batch=").toLong).toOption)
          .filter(b => b > cwm &&
            exists(s"$rootDir/corpus/batch=$b/_SUCCESS") &&
            !exists(s"$rootDir/decon/batch=$b"))
        if (unswept.nonEmpty)
          out += (("decon", s"$rootDir/decon/_sweep_corpus", "info",
            s"committed corpus batch(es) ${unswept.sorted.mkString(", ")} " +
              "landed after the last retro sweep and are not scanned " +
              "against the standing registry — if they bypassed the " +
              "ingest decon gate, contaminated documents sit in the " +
              "clean view until the next sweep (registry growth, or " +
              "forceRetroSweep — a mark-only re-registration + " +
              "sweep)", false))
      }
    }
    // ---- decon: pinned gate decisions whose corpus batch has folded
    val corpusIds = names(s"$rootDir/corpus")
      .filter(_.startsWith("batch="))
      .flatMap(n =>
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption).toSet
    for (n <- names(s"$rootDir/decon") if n.startsWith("batch=")) {
      val id = scala.util.Try(n.stripPrefix("batch=").toLong).toOption
      if (id.exists(i => !corpusIds.contains(i)))
        out += (("decon", s"$rootDir/decon/$n", "info",
          "pinned gate decision for a corpus batch that has folded " +
            "(or never committed) — harmless; only a replay of that " +
            "batch id reads it", false))
    }
    // ---- stale leases on the curation store roots (stats included:
    // fsck-heal and the stats repairs lock it)
    for (tree <- Seq("corpus", "index", "stats");
        f <- leaseFinding(fs, s"$rootDir/$tree"))
      out += f
    // ---- snapshots: manifests must parse, their pins must hold, and
    // their sweep mark must not be ahead of the decon state
    for (n <- names(s"$rootDir/snapshots")) {
      val p = s"$rootDir/snapshots/$n"
      if (n.startsWith("."))
        out += (("snapshot", p, "warn",
          "uncommitted snapshot tmp — a crashed snapshotCorpus; the " +
            "next create of that name overwrites it", healDelete(p)))
      else scala.util.Try(readSnapshotManifest(fs, rootDir, n)) match {
        case scala.util.Failure(e) =>
          out += (("snapshot", p, "error",
            s"manifest unreadable (${e.getMessage}); the snapshot " +
              "cannot be reconstructed — drop it", false))
        case scala.util.Success((batches, sweep)) =>
          for (b <- batches if !corpusIds.contains(b))
            out += (("snapshot", p, "error",
              s"pinned corpus dir batch=$b no longer exists — a " +
                "compaction ran without retention or the dir was " +
                "deleted by hand; readSnapshot of this name fails",
              false))
          if (sweep > sweepMark.getOrElse(-1L))
            out += (("snapshot", p, "error",
              s"pinned sweep mark $sweep is ahead of the decon " +
                "state — decon/ was rolled back or deleted; the " +
                "snapshot's tombstone set is gone", false))
      }
    }
    import spark.implicits._
    out.toSeq.toDF("area", "path", "status", "detail", "healed")
  }

  /** O(metadata) integrity audit of ONE standing store directory —
    * the generic form of [[fsckCurationStore]] for stores that live
    * outside a curation root: aggregate stores fed by
    * [[mergeStoreBatch]] (the benchmark n-gram registry, a curation
    * stats store) and batch-dir index stores (dedup / exact-Jaccard).
    * Checks both swap families, the `_batch` mark's readability,
    * `batch=` dirs without `_SUCCESS` (the replayable-trailing-batch
    * signature), and the exact index's embedded `df_table` swap pair.
    * Same finding schema and heal discipline as [[fsckCurationStore]]
    * — and safe to heal here: no store outside the curation corpus is
    * compacted by move-carry, so these scratches never hold an only
    * copy. */
  def fsckStore(spark: SparkSession, storeDir: String,
      heal: Boolean = false): DataFrame =
    // same discipline as [[fsckCurationStore]]: audits are lock-free,
    // heals serialize with the store's mutators
    if (!heal) fsckStoreBody(spark, storeDir, heal = false)
    else withStoreLock(spark, Seq(storeDir)) {
      fsckStoreBody(spark, storeDir, heal = true)
    }

  private def fsckStoreBody(spark: SparkSession, storeDir: String,
      heal: Boolean): DataFrame = {
    val dir = new HPath(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = dir.getParent
    val name = dir.getName
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Boolean)]
    def exists(p: String) = fs.exists(new HPath(p))
    def healDelete(p: String): Boolean =
      heal && fs.delete(new HPath(p), true)
    def healRestore(backup: String, target: String): Boolean =
      heal && fs.rename(new HPath(backup), new HPath(target))
    def swapPair(backup: String, tmp: String, target: String,
        what: String): Unit = {
      if (exists(backup) && !exists(target))
        out += (("swap", backup, "error",
          s"a $what swap died between its two renames; the backup " +
            "holds the last complete tree — the next maintenance " +
            "write restores it", healRestore(backup, target)))
      else if (exists(backup))
        out += (("swap", backup, "warn",
          "stale backup from a completed swap; deleted at the next " +
            "maintenance write, safe to remove by hand",
          healDelete(backup)))
      if (exists(tmp))
        out += (("swap", tmp, "warn",
          "crashed swap scratch; never read, overwritten by the " +
            "next maintenance write", healDelete(tmp)))
    }
    for (fam <- Seq("stats", "compact"))
      swapPair(s"$parent/.$name.$fam.old", s"$parent/.$name.$fam.tmp",
        storeDir, fam)
    swapPair(s"$storeDir/.df_table.compact.old",
      s"$storeDir/.df_table.compact.tmp", s"$storeDir/df_table",
      "df_table")
    if (exists(s"$storeDir/_batch") &&
        scala.util.Try(readLongMarker(fs,
          new HPath(s"$storeDir/_batch"))).toOption.flatten.isEmpty)
      out += (("store", s"$storeDir/_batch", "error",
        "unreadable _batch mark — every merge will fail to parse it; " +
          "restore it from the highest committed batch id (or the " +
          "last known mark) by hand", false))
    // a stale lease (mtime past the default staleAfterMs, heartbeat
    // dead) blocks nothing forever — waiters break it — but it IS the
    // crashed-holder signature worth surfacing
    leaseFinding(fs, storeDir).foreach(out += _)
    // batch dirs live directly under the store (dedup index)
    // or under the exact index's prefix/ and arrays/ subtrees
    for (sub <- Seq("", "/prefix", "/arrays");
        root = s"$storeDir$sub"
        if fs.exists(new HPath(root));
        n <- fs.listStatus(new HPath(root)).toSeq
          .map(_.getPath.getName)
        if n.startsWith("batch=")
        if !exists(s"$root/$n/_SUCCESS"))
      out += (("store", s"$root/$n", "warn",
        "batch dir without _SUCCESS — a torn write; the stream's " +
          "replay of this batch id deletes and rewrites it", false))
    import spark.implicits._
    out.toSeq.toDF("area", "path", "status", "detail", "healed")
  }

  /** Incremental hand-off between two training runs — what
    * [[exportSnapshot]] is to a full run, this is to a refresh: the
    * documents that ENTERED the clean view between snapshots `from`
    * and `to` land as md5-stable JSONL shards under `added/`, the ids
    * that LEFT (decontaminated between the runs) as one-column JSONL
    * under `removed/`, and a `_MANIFEST` records both counts with the
    * snapshot pair. A consumer applies removals, then appends the
    * added shards. The delta itself comes from [[diffSnapshots]]'
    * fast path (new dirs + sweep-window tombstones — no bulk read);
    * fetching the added payloads is one semi-join of the to-view
    * against the added ids, which AQE broadcasts whenever the delta
    * is small — the normal case for a refresh. `nShards = 0` (the
    * default) derives the added-leg's shard count the way
    * [[exportSnapshot]] does, prorated to the delta's share of the
    * to-snapshot's pinned rows (a footer-weight zero-column count —
    * no tombstone join), with the same self-calibrating expansion
    * factor ([[measuredExpansion]]) — a 100 TB store's refresh delta
    * can itself be terabytes, and it should fan out accordingly
    * rather than wedge into a guessed fixed count. */
  def exportSnapshotDelta(spark: SparkSession, rootDir: String,
      from: String, to: String, outPath: String, idCol: String,
      nShards: Int = 0, codec: Option[String] = None): Unit = {
    val d = diffSnapshots(spark, rootDir, from, to, idCol)
      .localCheckpoint() // computed once, consumed three times below
    val added = d.where(col("change") === "added").select(idCol)
    val removed = d.where(col("change") === "removed").select(idCol)
    val conf = spark.sparkContext.hadoopConfiguration
    val nAdded = added.count()
    // `nShards = 0` derives the added-leg's shard count like
    // exportSnapshot does for a full export, scaled to the delta: the
    // to-snapshot's pinned parquet bytes prorated by the added-ids
    // fraction of its PINNED rows. The denominator is a zero-column
    // count of the pinned dirs alone (row counts come from parquet
    // footers — no tombstone anti-join: tombstoned rows appear in
    // both the bytes and the count, so the per-doc estimate stays
    // consistent), keeping the default path's extra cost at one
    // recursive listing + one metadata-weight count even at 100 TB
    val effShards =
      if (nShards > 0) nShards
      else {
        val storeFs = new HPath(rootDir).getFileSystem(conf)
        val (batches, _) = readSnapshotManifest(storeFs, rootDir, to)
        val pinnedRows =
          if (batches.isEmpty) 0L
          else spark.read.parquet(
            batches.map(b => s"$rootDir/corpus/batch=$b"): _*).count()
        val files = pinnedFiles(storeFs, rootDir, batches)
        val addedBytes =
          if (pinnedRows == 0L) 0L
          else (files.map(_._2).sum
            * (nAdded.toDouble / pinnedRows)).toLong
        calibratedShardCount(spark, files, codec, outPath, addedBytes)
      }
    val addedPayload = readSnapshot(spark, rootDir, to).drop("batch")
      .join(added, Seq(idCol), "left_semi")
    val (_, finalShards) = writeJsonlShardsSized(spark, addedPayload,
      idCol, s"$outPath/added", effShards, codec,
      derived = nShards == 0)
    val rw = removed.write.mode("overwrite")
    codec.fold(rw)(c => rw.option("compression", c))
      .json(s"$outPath/removed")
    val outFs = new HPath(outPath).getFileSystem(conf)
    val nRemoved = removed.count()
    // the to-view's payload schema rides along (see exportSnapshot):
    // the delta's consumer must not have to infer it from JSONL that
    // omits null fields
    val json = s"""{"from":"$from","to":"$to",""" +
      s""""n_added":$nAdded,"n_removed":$nRemoved,""" +
      s""""n_shards":$finalShards,""" +
      s""""schema":"${jsonEscape(addedPayload.schema.toDDL)}"}"""
    val o = outFs.create(new HPath(outPath, "_MANIFEST"), true)
    try o.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally o.close()
  }

  /** Consumer-side application of an [[exportSnapshotDelta]] to a
    * prior full [[exportSnapshot]] — the other half of the refresh
    * hand-off contract, in-engine so the contract is testable end to
    * end rather than prose for the training stack: apply `removed/`
    * (anti-join on `idCol`), then append `added/`. The result equals
    * reading the `to` snapshot's own full export (spec-pinned).
    * Either side can be legitimately EMPTY — a base export of a
    * pre-ingest snapshot, a refresh with nothing added — and schema
    * inference over an empty JSONL dir fails, so the non-empty side
    * supplies the payload schema for the empty one (BOTH empty is a
    * named error: no schema to shape the empty result in, and the
    * caller holds a no-op refresh anyway; an ABSENT path is a named
    * caller error, never read as empty). The payload schema comes
    * from the `_MANIFEST`s both exports carry (exact — the view's
    * own shape, immune to the JSON writer's null-field omission, at
    * zero read cost): a shape disagreement between the two manifests
    * is a schema change a delta cannot express — a named error
    * pointing at a full export, never a silent column drop. A LEG
    * from before the manifests carried a schema falls back to JSON
    * inference — but only that leg, and the big base side never
    * infers when either manifest declares the shape (one root, one
    * gate-pinned schema). Only the empty-dir inference failure is
    * treated as empty — any other read error propagates — and a
    * legacy added leg may legitimately infer FEWER top-level columns
    * than the base (null-field omission; the union fills the nulls
    * back) but never more. The anti-join's removed
    * side is id-only and AQE-broadcast in the normal small-refresh
    * case; nothing here shuffles the base payload beyond that
    * join. */
  def applyExportDelta(spark: SparkSession, baseExportDir: String,
      deltaDir: String, idCol: String): DataFrame = {
    // an ABSENT dir is a caller error (a typo'd path would otherwise
    // read as "empty base" and silently drop the whole base corpus);
    // only a dir that exists but holds no data files is "empty"
    val conf = spark.sparkContext.hadoopConfiguration
    for (p <- Seq(baseExportDir, s"$deltaDir/added",
        s"$deltaDir/removed")) {
      val hp = new HPath(p)
      if (!hp.getFileSystem(conf).exists(hp))
        throw new IllegalStateException(
          s"$p does not exist — not an export/delta pair (a " +
            "legitimately empty leg is a dir holding only _SUCCESS, " +
            "never an absent path); check the paths")
    }
    def manifestText(dir: String): Option[String] = {
      val mp = new HPath(dir, "_MANIFEST")
      val mfs = mp.getFileSystem(conf)
      if (!mfs.exists(mp)) return None
      val in = mfs.open(mp)
      Some(try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close())
    }
    def manifestField(txt: String, field: String): Option[String] =
      (""""""" + java.util.regex.Pattern.quote(field) +
        """":"((?:[^"\\]|\\.)*)"""").r.findFirstMatchIn(txt)
        .map(m => jsonUnescape(m.group(1)))
    def manifestSchema(txt: Option[String]):
        Option[org.apache.spark.sql.types.StructType] =
      txt.flatMap(manifestField(_, "schema"))
        .map(org.apache.spark.sql.types.StructType.fromDDL)
    val baseTxt = manifestText(baseExportDir)
    val deltaTxt = manifestText(deltaDir)
    // "empty" = a dir holding only commit markers, the shape
    // writeJsonlShards leaves for a zero-doc view (one listing each).
    // BOTH sides empty is a named no-op in EVERY branch — the caller
    // holds a refresh with nothing to refresh, and an empty frame
    // would just defer the confusion downstream
    def hasData(path: String): Boolean = {
      val hp = new HPath(path)
      val it = hp.getFileSystem(conf).listFiles(hp, true)
      while (it.hasNext) {
        val st = it.next()
        val nm = st.getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".") && st.getLen > 0L)
          return true
      }
      false
    }
    val baseHasData = hasData(baseExportDir)
    if (!baseHasData && !hasData(s"$deltaDir/added"))
      throw new IllegalStateException(
        s"both the base export at $baseExportDir and the delta's " +
          s"added leg at $deltaDir/added are empty — applying this " +
          "delta is a no-op; read the target snapshot's own export " +
          "instead")
    // PROVENANCE: schema shapes alone cannot tell two exports of the
    // SAME store apart — a delta applied to the wrong same-schema
    // base (an export of t2 handed a t0→t1 delta) would pass every
    // shape check below and silently produce a corpus that is
    // neither snapshot. Both manifests carry the lineage for free
    // (the base's "snapshot", the delta's "from"): when both are
    // present and disagree, fail naming the two snapshots. (After
    // the both-empty guard — a no-op refresh is the more fundamental
    // caller error and keeps its own named message.)
    for (bs <- baseTxt.flatMap(manifestField(_, "snapshot"));
        df <- deltaTxt.flatMap(manifestField(_, "from"))
        if bs != df)
      throw new IllegalStateException(
        s"the delta at $deltaDir was taken from snapshot '$df' but " +
          s"the base export at $baseExportDir is of snapshot '$bs' — " +
          "applying it would produce a corpus that is neither " +
          "snapshot; use the delta whose 'from' matches the base " +
          "export's 'snapshot' (or take a full export of the target)")
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSet
    def requireId(
        s: org.apache.spark.sql.types.StructType): Unit =
      if (!s.fieldNames.contains(idCol))
        throw new IllegalStateException(
          s"id column '$idCol' is not in the export payload " +
            s"(${s.fieldNames.mkString(", ")}) — check the column " +
            "name against the export")
    def schemaChange(what: String): Nothing =
      throw new IllegalStateException(
        s"the delta at $deltaDir carries a different payload shape " +
          s"than the base export at $baseExportDir ($what) — a " +
          "delta cannot express a schema change (applied base rows " +
          "would silently lack the new columns); take a full export " +
          "of the target snapshot instead")
    // legacy legs (pre-schema manifests) fall back to inference; ONLY
    // the empty-dir/no-parsable-records failure reads as empty — any
    // other AnalysisException (a glob that matched nothing, a corrupt
    // read) propagates loudly rather than silently dropping a leg
    def inferred(path: String): Option[DataFrame] =
      try Some(spark.read.json(path).drop("shard"))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition)
              .exists(_.contains("UNABLE_TO_INFER_SCHEMA")) =>
          None
      }
    def assemble(payloadSchema: org.apache.spark.sql.types.StructType,
        baseDf: DataFrame, addedDf: DataFrame): DataFrame = {
      requireId(payloadSchema)
      val removed = spark.read
        .schema(org.apache.spark.sql.types.StructType(
          Seq(payloadSchema(idCol))))
        .json(s"$deltaDir/removed")
      baseDf.join(removed, Seq(idCol), "left_anti")
        .unionByName(addedDf, allowMissingColumns = true)
    }
    def readUnder(s: org.apache.spark.sql.types.StructType,
        path: String): DataFrame =
      spark.read.schema(s).json(path).drop("shard")
    (manifestSchema(baseTxt), manifestSchema(deltaTxt)) match {
      case (Some(b), Some(d)) =>
        // both manifests carry the exact payload shape: no inference,
        // no decode pass, and null-omitted columns cannot distort the
        // comparison (nested ones included)
        if (shape(b) != shape(d)) {
          val diff = ((shape(d) -- shape(b)) ++ (shape(b) -- shape(d)))
            .map { case (n, t) => s"$n:${t.simpleString}" }
            .toSeq.sorted.mkString(", ")
          schemaChange(s"differing: $diff")
        }
        assemble(b, readUnder(b, baseExportDir),
          readUnder(b, s"$deltaDir/added"))
      case (Some(b), None) =>
        // schema'd base + legacy delta: the base (the BIG side) reads
        // under its exact shape with no inference; only the
        // delta-sized added leg is inferred, and only for the
        // extra-column guard (a read under b would silently DROP a
        // column b does not know)
        val addedInf = inferred(s"$deltaDir/added")
        for (a <- addedInf) {
          val extra = shape(a.schema) -- shape(b)
          if (extra.nonEmpty)
            schemaChange("added-leg extra column(s) " +
              extra.map { case (n, t) => s"$n:${t.simpleString}" }
                .toSeq.sorted.mkString(", "))
        }
        assemble(b, readUnder(b, baseExportDir),
          addedInf.getOrElse(readUnder(b, s"$deltaDir/added")))
      case (None, Some(d)) =>
        // legacy base + schema'd delta: both snapshots live in ONE
        // root whose ingest gate pins a single schema, so the delta's
        // declared shape IS the base's — read the (possibly 100 TB)
        // base under it instead of paying a full-corpus inference.
        // But spark.read.schema(...).json silently DROPS any base
        // field the declared schema does not know, which would break
        // this function's no-silent-column-drop contract on exactly
        // the mistaken input (a base export from a DIFFERENT root or
        // a pre-evolution shape): sample ONE record — the first line
        // of one shard, decoded through the hadoop codec factory, an
        // O(1) read however large the base — and fail loudly on
        // top-level keys the delta schema lacks. When the sample
        // itself cannot be decoded (e.g. a zstd shard without native
        // hadoop), the single-root trust assumption is stated in a
        // warning rather than silently assumed
        if (baseHasData) sampleBaseRecordKeys(conf, baseExportDir) match {
          case Some(keys) =>
            val extra = keys - "shard" -- d.fieldNames
            if (extra.nonEmpty)
              schemaChange("base-export field(s) " +
                extra.toSeq.sorted.mkString(", ") +
                " absent from the delta's declared schema — reading " +
                "the base under it would silently drop them; this " +
                "base is not an export of the delta's root")
          case None =>
            System.err.println("[export-delta] could not sample a " +
              s"record from the legacy base export at $baseExportDir " +
              "to cross-check its shape — proceeding on the " +
              "single-root assumption (the delta's declared schema " +
              "is taken as the base's; base-only fields, if any, " +
              "would be dropped)")
        }
        assemble(d, readUnder(d, baseExportDir),
          readUnder(d, s"$deltaDir/added"))
      case (None, None) =>
        val baseInf = inferred(baseExportDir)
        val addedInf = inferred(s"$deltaDir/added")
        // the added leg may carry FEWER top-level columns (the JSON
        // writer omits null fields; the union fills them back) but
        // never columns the base does not know
        for (b <- baseInf; a <- addedInf) {
          val extra = shape(a.schema) -- shape(b.schema)
          if (extra.nonEmpty)
            schemaChange("added-leg extra column(s) " +
              extra.map { case (n, t) => s"$n:${t.simpleString}" }
                .toSeq.sorted.mkString(", "))
        }
        val payloadSchema = baseInf.orElse(addedInf).map(_.schema)
          .getOrElse(throw new IllegalStateException(
            s"neither the base export at $baseExportDir nor the " +
              s"delta's added leg at $deltaDir/added yields a single " +
              "parsable record to infer the payload schema from, and " +
              "these legacy exports carry no schema in their " +
              "manifests — re-export with a current binary or fix " +
              "the corrupt legs"))
        def leg(inf: Option[DataFrame], path: String): DataFrame =
          inf.getOrElse(readUnder(payloadSchema, path))
        assemble(payloadSchema, leg(baseInf, baseExportDir),
          leg(addedInf, s"$deltaDir/added"))
    }
  }

  /** Top-level JSON keys of ONE record of an export dir — the first
    * parsable line of the first data file, decoded through the
    * hadoop codec factory (gzip shards read fine without native
    * hadoop). O(1) in export size: one listing + one line. `None`
    * when nothing could be sampled (no data file, a codec this
    * runtime cannot decode, a torn first line) — the caller decides
    * whether that is a warning or an error. */
  private def sampleBaseRecordKeys(
      conf: org.apache.hadoop.conf.Configuration,
      dir: String): Option[Set[String]] =
    try {
      val hp = new HPath(dir)
      val fs = hp.getFileSystem(conf)
      val it = fs.listFiles(hp, true)
      var first: Option[HPath] = None
      while (first.isEmpty && it.hasNext) {
        val st = it.next()
        val nm = st.getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".") && st.getLen > 0L)
          first = Some(st.getPath)
      }
      first.flatMap { p =>
        val codec = new org.apache.hadoop.io.compress
          .CompressionCodecFactory(conf).getCodec(p)
        val raw = fs.open(p)
        val in = if (codec == null) raw else codec.createInputStream(raw)
        val line =
          try {
            val br = new java.io.BufferedReader(
              new java.io.InputStreamReader(in,
                java.nio.charset.StandardCharsets.UTF_8))
            Iterator.continually(br.readLine()).takeWhile(_ != null)
              .find(_.trim.nonEmpty)
          } finally in.close()
        line.map { l =>
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(l)
          val ks = scala.collection.mutable.Set.empty[String]
          val fit = node.fieldNames()
          while (fit.hasNext) ks += fit.next()
          ks.toSet
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The payload + stats tail every curation-ingest variant shares
    * (the LSH gate above, the exact-Jaccard gate below): write the
    * admitted rows under `corpus/batch=<id>/` and fold them into the
    * standing word-histogram and length-drift stats — stats see
    * exactly the corpus that survived, whatever gate decided it. */
  private[graft] def ingestTail(admitted: DataFrame, textCol: String,
      rootDir: String, batchId: Long, lenLo: Double,
      lenHi: Double): Unit = {
    val spark = admitted.sparkSession
    inStep(spark, "payload") {
      admitted.write.mode("overwrite")
        .parquet(s"$rootDir/corpus/batch=$batchId")
    }
    // the one `units` row, built on the driver
    def units(nBatches: Long): DataFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(java.util.List.of(
          Row(lenLo, lenHi, nBatches)),
        StructType(Seq(StructField("len_lo", DoubleType),
          StructField("len_hi", DoubleType),
          StructField("n_batches", LongType))))
    }
    inStep(spark, "stats") {
      mergeStoreBatch(s"$rootDir/stats", batchId, Seq(
        StorePart("hist", Seq("word"), Seq("cnt")) ->
          graft.ops.Bpe.wordHistogram(admitted, textCol),
        StorePart("lens", Seq("bucket"), Seq("n")) ->
          admitted.groupBy(graft.ops.Profiling.psiBucket(
            length(col(textCol)).cast("double"), lenLo, lenHi, 10)
            .as("bucket"))
            .agg(count(lit(1)).as("n")),
        // the length-bucket bounds are a UNIT: an ingest reconfigured
        // mid-stream would silently mix bucket scales into the
        // accumulated counts, and the sweep's stats-delta pin needs the
        // bounds to bucket tombstoned docs the same way. A pre-unit
        // store stamps them at its first post-upgrade merge
        StorePart("units", Seq("len_lo", "len_hi"), Seq("n_batches")) ->
          units(1L)),
        customMerge = Map("units" -> { (prior, _) =>
          // the guard's collect also yields the prior's batch count, so
          // the merged row is built on the driver too
          val stored = prior.map(_.collect().toSeq)
          stored.foreach { rows =>
            val bounds = rows.map(r => (r.getDouble(0), r.getDouble(1)))
            require(bounds == Seq((lenLo, lenHi)),
              s"curation stats store at $rootDir/stats was built with " +
                s"length-bucket bounds ${bounds.mkString(",")} but this " +
                s"ingest is configured with ($lenLo,$lenHi) — the " +
                "bucket units would silently diverge; match the bounds " +
                "or rebuild the stats store")
          }
          units(1L + stored.fold(0L)(_.head.getLong(2)))
        }))
    }
  }

  /** The length-bucket bounds stamped into a curation stats store's
    * `units` part, or None for a store that predates the unit stamp
    * (or no store at all). */
  private[graft] def readStatsUnits(spark: SparkSession,
      statsDir: String): Option[(Double, Double)] = {
    val rootStr = readableStoreDir(spark, statsDir)
    val units = new HPath(s"$rootStr/units")
    val fs = units.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(units)) None
    else spark.read.parquet(units.toString)
      .select("len_lo", "len_hi").collect().toSeq match {
        case Seq(one) => Some((one.getDouble(0), one.getDouble(1)))
        case _ => None
      }
  }

  /** [[curationIngestSink]] with the EXACT-Jaccard admission gate in
    * place of the LSH one — the quality-over-throughput composition:
    * gate → [[mergeJaccardIndexBatch]]'s standing-index admission (recall
    * exactly 1.0 at `minJaccard`, no band-coincidence suppression) →
    * payload → stats, all four effects exactly-once under one replay
    * discipline. `dfTable` is the frozen order pinned at index
    * creation ([[writeJaccardDfTable]] / [[readJaccardDfTable]]).
    * Costs more per batch than the LSH gate (ordering pass + exact
    * verification); pick it when a missed near-dup is worse than the
    * extra compute. */
  def curationIngestSinkExact(docs: DataFrame, textCol: String,
      idCol: String, rootDir: String, checkpoint: String,
      dfTable: DataFrame, minQuality: Double = 0.5,
      lenLo: Double = 0.0, lenHi: Double = 5000.0, n: Int = 3,
      minJaccard: Double = 0.5,
      benchmarkDir: Option[String] = None,
      deconMinHits: Long = 1L) =
    batchSink(docs, checkpoint) { (batch, batchId) =>
      curationIngestBatchExact(batch, textCol, idCol, rootDir,
        batchId, minQuality, lenLo, lenHi, dfTable, n, minJaccard,
        benchmarkDir, deconMinHits)
    }

  private[graft] def curationIngestBatchExact(batch: DataFrame,
      textCol: String, idCol: String, rootDir: String, batchId: Long,
      minQuality: Double, lenLo: Double, lenHi: Double,
      dfTable: DataFrame, n: Int, minJaccard: Double,
      benchmarkDir: Option[String] = None,
      deconMinHits: Long = 1L): Unit =
    // the decon pin keys on the INGEST batch id, so the two gate
    // variants share it
    curationIngestGated(batch, textCol, idCol, rootDir, batchId,
        minQuality, lenLo, lenHi, benchmarkDir, deconMinHits) { gated =>
      mergeJaccardIndexBody(gated, textCol, idCol, s"$rootDir/index",
        batchId, dfTable, n, minJaccard)
    }

  /** The admitted corpus of a [[curationIngestSink]] (payload rows +
    * the `batch` partition column). */
  def readCurationCorpus(spark: SparkSession, rootDir: String): DataFrame =
    spark.read.parquet(s"$rootDir/corpus")

  /** Read the `hist` part of a curation stats store (`<root>/stats`)
    * as the (word, cnt) frame [[graft.ops.Bpe.trainBpeOnHistogram]]
    * consumes. Side-effect-free
    * (see [[readableStoreDir]]). */
  def readWordHistogram(spark: SparkSession, statsDir: String): DataFrame =
    spark.read.parquet(s"${readableStoreDir(spark, statsDir)}/hist")

  /** The ONE definition of a store root's lease path —
    * `.<name>.lock` SIBLING to the root (the maintenance swap renames
    * the root itself, so the lease must live outside it). */
  private[graft] def storeLockPath(dir: HPath): HPath =
    new HPath(dir.getParent, s".${dir.getName}.lock")

  /** Fsck findings for a store's lease and its break/release
    * debris. A lock whose mtime is past the default staleAfterMs
    * means its holder died without release (the heartbeat would have
    * advanced it) — waiters break it on their own, but it is the
    * crashed-holder signature an audit should surface; a FRESH lock
    * is a live holder, not a finding; the token's pid@host prefix
    * names the dead holder in the detail. A `.lock.orphan.<uuid>`
    * sibling is a parked LIVE lock from a break/restore conflict — an
    * ERROR a human must adjudicate. Stale `.lock.break.<uuid>` /
    * `.lock.release.<uuid>` siblings are claims captured by a breaker
    * or releaser that crashed before the final delete — verified
    * husks, safe to delete by hand. An audit read that throws (a
    * filesystem outage) degrades to a named lease-area `warn` — the
    * rest of the fsck pass still reports. */
  private def leaseFinding(fs: org.apache.hadoop.fs.FileSystem,
      storeDir: String): Seq[(String, String, String, String,
        Boolean)] = {
    val lock = storeLockPath(new HPath(storeDir))
    val out = scala.collection.mutable.ListBuffer
      .empty[(String, String, String, String, Boolean)]
    try {
      LockBackend.mtime(fs, lock).foreach { m =>
        val age = System.currentTimeMillis() - m
        if (age > DefaultLeaseStaleMs)
          out += (("lease", lock.toString, "warn",
            s"lease ${age / 60000} min stale, held by " +
              s"${LockBackend.readToken(fs, lock).getOrElse("<unreadable>")}" +
              " — its holder died without release (a live holder " +
              "heartbeats); the next waiter breaks it after the stale " +
              "window, or break it by hand to unblock immediately",
            false))
      }
    } catch {
      // getFileStatus can throw a transient IOException on any
      // Hadoop filesystem; it must degrade, not be silently swallowed.
      // The whole fsck pass must not abort: every OTHER finding still
      // reports, and the lease area degrades to a named warn instead
      // of a silent skip
      case scala.util.control.NonFatal(e) =>
        out += (("lease", lock.toString, "warn",
          s"reading this lock threw $e — lease state is UNKNOWN " +
            "here; the rest of this fsck pass is unaffected. If the " +
            "error persists, check the lock's filesystem directly",
            false))
    }
    try {
      fs.listStatus(lock.getParent).toSeq
        .filter(_.getPath.getName.startsWith(s"${lock.getName}."))
        .foreach { st =>
          val nm = st.getPath.getName
          // report under the caller's own path form (listStatus
          // returns fully-qualified paths; the lock finding above and
          // every other fsck finding use the unqualified input form)
          val shown = new HPath(lock.getParent, nm).toString
          val age = System.currentTimeMillis() -
            st.getModificationTime
          if (nm.contains(".orphan."))
            out += (("lease", shown, "error",
              "parked lock from a break/restore conflict — it was a " +
                "LIVE holder's lease evidence when parked; confirm " +
                "no holder is alive, then delete it by hand", false))
          else if ((nm.contains(".break.") || nm.contains(".release."))
              && age > DefaultLeaseStaleMs)
            out += (("lease", shown, "warn",
              s"claim file ${age / 60000} min old — a breaker/" +
                "releaser crashed after capturing the lock but " +
                "before the final delete; the lock path itself is " +
                "free, the husk is safe to delete by hand", false))
        }
    } catch { case _: java.io.IOException => () }
    out.toSeq
  }

  /** The default stale window shared by [[withStoreLock]] and the
    * fsck lease audit — one constant so the audit's idea of "stale"
    * cannot drift from the break window waiters actually use. */
  private[graft] val DefaultLeaseStaleMs = 1800000L

  /** Mutual exclusion between a store's per-batch merges and its
    * offline maintenance (compaction / rebuild), so maintenance can
    * run against a LIVE stream: every mutator — sink merge bodies for
    * one batch, compactors/rebuilds for the whole fold+swap — wraps
    * its root mutation in this lease. Acquisition is an ATOMIC
    * create-if-absent of the sibling `.lock` file through
    * [[LockBackend]] (kernel `O_EXCL` on local filesystems,
    * namenode-arbitrated create on HDFS; other schemes settle and
    * double-verify a read-back). Known flat-namespace object stores
    * (s3a and friends) are REJECTED at acquire — their create/rename
    * are not atomic, so the lease cannot guarantee mutual exclusion
    * there; keep the lock paths on HDFS/posix, or accept the risk
    * explicitly (`graft.lease.assumeAtomicCreate=true` hadoop conf).
    * `roots` are acquired in sorted order so multi-root holders (the
    * curation ingest) cannot deadlock each other.
    *
    * Liveness is the lease file's modification time: a HEARTBEAT
    * daemon refreshes every held lock's mtime each `staleAfterMs / 4`
    * for as long as the body runs, so a legitimate holder of ANY
    * duration — a whole-corpus [[rebuildJaccardIndex]] pass included
    * — never reads as dead; only a lock whose mtime has STOPPED
    * advancing for `staleAfterMs` is stale (its holder crashed — the
    * tree state heals separately via the swap-backup discipline).
    * Waiters break a stale lease via [[LockBackend.breakStale]]'s
    * claim-by-rename (exactly one of N racing waiters wins; a fresh
    * lock stolen in the observe→rename window is detected by its
    * mtime and restored to the rightful holder), then compete
    * normally for the create. Releases are token-fenced through
    * [[LockBackend.release]]'s rename-capture (a holder paused past
    * the stale window cannot delete the new holder's live lock).
    * Waiters give up with a pointer to the file after `timeoutMs` —
    * a stream wedged behind an unbreakable lease should fail loudly,
    * not silently skip its batch. */
  private[graft] def withStoreLock[T](spark: SparkSession,
      roots: Seq[String], timeoutMs: Long = 600000L,
      staleAfterMs: Long = DefaultLeaseStaleMs)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val locks = roots.sorted.map { r =>
      val p = storeLockPath(new HPath(r))
      (p.getFileSystem(conf), p)
    }
    // capability probe: the lease's safety rests on atomic
    // create-if-absent + rename, which flat-namespace object stores
    // do not provide — fail LOUDLY at acquire instead of handing out
    // a lease that only usually excludes
    locks.foreach { case (fs, p) =>
      val scheme = fs.getUri.getScheme
      if (LockBackend.unsafeSchemes.contains(scheme) &&
          !conf.getBoolean("graft.lease.assumeAtomicCreate", false))
        throw new IllegalStateException(
          s"store lease $p lives on '$scheme://', a flat-namespace " +
            "object store without atomic create-if-absent/rename — " +
            "the lease cannot guarantee mutual exclusion there. " +
            "Keep the store's lock paths on HDFS/posix, or accept " +
            "the risk explicitly with " +
            "graft.lease.assumeAtomicCreate=true (hadoop conf). See " +
            "README 'Operating the standing stores'.")
    }
    // returns the unique token written into the held lock — the fence
    // the release path checks before deleting
    def acquire(fs: org.apache.hadoop.fs.FileSystem,
                lock: HPath): String = {
      val deadline = System.currentTimeMillis() + timeoutMs
      // periodic "still waiting" telemetry: a waiter blocked behind a
      // long LIVE hold (a whole-corpus rebuild) should be
      // distinguishable from one wedged behind a leak without waiting
      // for the timeout exception — the token's pid@host prefix names
      // the holder, the mtime dates the last heartbeat
      var nextWaitLog = System.currentTimeMillis() + 30000L
      // a poll may throw (a filesystem's getFileStatus or create can
      // fail transiently): a throwing tryAcquire/mtime is CONTENTION,
      // not failure — a one-blip filesystem error must not abort the
      // maintenance body the lease protects. The deadline bounds a
      // persistent outage, and its exception then names the last poll
      // error instead of a holder.
      var lastPollError: Option[Throwable] = None
      var held: Option[String] = None
      while (held.isEmpty) {
        held =
          try { val h = LockBackend.tryAcquire(fs, lock)
            lastPollError = None; h }
          catch { case scala.util.control.NonFatal(e) =>
            lastPollError = Some(e); None }
        if (held.isEmpty) {
          val m =
            try LockBackend.mtime(fs, lock)
            catch { case scala.util.control.NonFatal(e) =>
              lastPollError = Some(e); None }
          m match {
            case Some(mt)
                if System.currentTimeMillis() - mt > staleAfterMs =>
              // then retry create; a THROWING break attempt is the
              // same transient-client story as the polls above — the
              // stale lock is still there, so the next cycle retries
              // the break. Bounded here too: this branch precedes the
              // deadline case, so without its own check a persistent
              // outage would spin past the deadline forever
              try LockBackend.breakStale(fs, lock, mt)
              catch { case scala.util.control.NonFatal(e) =>
                lastPollError = Some(e)
                if (System.currentTimeMillis() > deadline)
                  throw new IllegalStateException(
                    s"store lease $lock stayed stale past $timeoutMs " +
                      s"ms — the lease's break attempts kept " +
                      s"failing, last error: $e")
                Thread.sleep(50)
              }
            case Some(mt) if System.currentTimeMillis() > deadline =>
              throw new IllegalStateException(
                s"store lease $lock held past $timeoutMs ms by " +
                  s"${LockBackend.readToken(fs, lock).getOrElse("<unreadable>")}" +
                  s" (last heartbeat ${new java.sql.Timestamp(mt)}) — if " +
                  "its holder is dead, delete the file to break the lease")
            case Some(mt) =>
              if (System.currentTimeMillis() >= nextWaitLog) {
                System.err.println(s"[lease] waiting on $lock held by " +
                  s"${LockBackend.readToken(fs, lock).getOrElse("<unreadable>")}" +
                  s", last heartbeat ${new java.sql.Timestamp(mt)}")
                nextWaitLog = System.currentTimeMillis() + 30000L
              }
              Thread.sleep(50) // live lock: re-poll
            case None if System.currentTimeMillis() > deadline =>
              // no live holder to name past the deadline: either the
              // lock keeps vanishing under losing acquires (pathological
              // churn) or every poll threw — say which
              throw new IllegalStateException(
                s"store lease $lock not acquired within $timeoutMs ms" +
                  lastPollError.map(e => s" — the lease's polls kept " +
                    s"failing, last error: $e").getOrElse(
                    " despite no standing holder (acquire/break churn)"))
            case None => Thread.sleep(50) // vanished or poll error: re-poll
          }
        }
      }
      held.get
    }
    val taken = scala.collection.mutable.ListBuffer
      .empty[(org.apache.hadoop.fs.FileSystem, HPath, String)]
    // heartbeat: advance every HELD lock's mtime so a long-running
    // body never looks stale to waiters; errors are swallowed (a
    // missed beat only matters if repeated for staleAfterMs)
    val hbInterval = math.max(25L, staleAfterMs / 4)
    @volatile var hbStop = false
    val hb = new Thread(() => {
      try while (!hbStop) {
        Thread.sleep(hbInterval)
        if (!hbStop) taken.synchronized {
          taken.foreach { case (fs, p, token) =>
            // NonFatal, not just IOException: a filesystem client
            // whose errors are RuntimeExceptions must not kill the
            // daemon — a dead heartbeat thread lets a LIVE body's
            // lease go stale and be broken mid-body
            try LockBackend.heartbeat(fs, p, token)
            catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-store-lease-heartbeat")
    hb.setDaemon(true)
    hb.start()
    try {
      locks.foreach { case (fs, p) =>
        val token = acquire(fs, p)
        taken.synchronized { taken += ((fs, p, token)) }
      }
      body
    } finally {
      hbStop = true
      hb.interrupt()
      hb.join(1000L)
      taken.reverseIterator.foreach { case (fs, p, token) =>
        // release swallows only IOExceptions: any other failure must
        // not leak the remaining locks
        try LockBackend.release(fs, p, token)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[lease] release of $p threw $e — " +
            "leaving it to the stale window / fsck")
        }
      }
    }
  }

  /** Swap a freshly-written `<indexDir>.compact.tmp` tree into place
    * with [[graft.ops.Warehouse.atomicSwap]] discipline (heal first,
    * backup-rename window, crash-recoverable). */
  /** The ONE definition of the compaction-swap backup path — shared
    * by [[swapInCompacted]], [[healCompactRoot]] and
    * [[readJaccardDfTable]]'s crash-fallback so the scheme cannot
    * drift between writer, healer and reader. */
  private def compactBackupPath(dir: HPath): HPath =
    new HPath(dir.getParent, s".${dir.getName}.compact.old")

  private def swapInCompacted(spark: SparkSession, indexDir: String)(
      write: (String, org.apache.hadoop.fs.FileSystem) => Unit): Unit = {
    val dir = new HPath(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(dir.getParent, s".${dir.getName}.compact.tmp")
    graft.ops.Warehouse.restoreFromBackup(fs, dir, compactBackupPath(dir))
    fs.delete(tmp, true)
    write(tmp.toString, fs)
    graft.ops.Warehouse.atomicSwap(fs, dir, tmp, compactBackupPath(dir))
  }

  /** `batch=<id>` dir ids under `tree` (empty if the tree does not
    * exist — compactors no-op instead of failing schema inference on
    * a store that has not received data yet). */
  private def batchDirIds(fs: org.apache.hadoop.fs.FileSystem,
                          tree: HPath): Seq[Long] =
    if (!fs.exists(tree)) Seq.empty
    else fs.listStatus(tree).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)

  /** [[batchDirIds]] restricted to dirs whose write COMMITTED (the
    * `_SUCCESS` marker is present). Watermarks and marks must only
    * ever advance over committed dirs: a torn trailing batch will be
    * rewritten wholesale by its replay, and anything derived from its
    * partial content (a sweep's corpus watermark, a rebuilt stats
    * mark) would otherwise freeze that partial view in. */
  private def committedBatchDirIds(fs: org.apache.hadoop.fs.FileSystem,
                                   tree: HPath): Seq[Long] =
    batchDirIds(fs, tree).filter(id =>
      fs.exists(new HPath(tree, s"batch=$id/_SUCCESS")))

  /** The ONE reader of a little Long marker file (`_batch`, `_sweep`,
    * `_sweep_corpus`, `_purge`): UTF-8, trimmed, None when absent. */
  private def readLongMarker(fs: org.apache.hadoop.fs.FileSystem,
                             p: HPath): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }

  /** Heal a possibly-crashed previous compaction of `root` BEFORE a
    * compactor inspects the tree: a crash between [[graft.ops
    * .Warehouse.atomicSwap]]'s two renames leaves the data only in
    * `.<name>.compact.old`, and a crash after the second rename
    * leaves a stale full-size backup — both must be resolved (rename
    * back / delete) before any no-op-if-few-batches decision, or the
    * backup is never consumed and a later swap DESTROYS it. */
  private def healCompactRoot(spark: SparkSession, root: String): Unit = {
    val dir = new HPath(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.Warehouse.restoreFromBackup(fs, dir, compactBackupPath(dir))
    ()
  }

  /** Copy `tree/batch=<id>` into the compaction tmp root unchanged. */
  private def carryBatchDir(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, src: HPath,
      dst: HPath): Unit =
    if (fs.exists(src)) {
      fs.mkdirs(dst.getParent)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
        spark.sparkContext.hadoopConfiguration)
      ()
    }

  /** MOVE `tree/batch=<id>` into the compaction tmp root — the
    * O(metadata) carry [[compactCurationCorpusBody]] uses for
    * retained dirs, where [[carryBatchDir]]'s byte copy would make
    * every compaction of a snapshot-pinned corpus re-copy the pinned
    * payload wholesale (at 100 TB, most of the corpus, every run).
    * The move opens a short reader-visible window — the dir is absent
    * from the live tree between its rename and the swap, a few
    * metadata ops rather than the copy's full write — and requires
    * [[healCurationCorpusRoot]]'s reclaim on crash, because a
    * leftover scratch now holds the ONLY copy of the moved dirs. */
  private def moveBatchDir(fs: org.apache.hadoop.fs.FileSystem,
      src: HPath, dst: HPath): Unit =
    if (fs.exists(src)) {
      fs.mkdirs(dst.getParent)
      require(fs.rename(src, dst), s"could not move $src to $dst")
    }

  /** Crash recovery for the curation corpus's MOVE-carry compaction:
    * a leftover `.corpus.compact.tmp` may hold the ONLY copy of the
    * retained dirs [[moveBatchDir]] relocated, so before the scratch
    * is discarded every `batch=` dir EXCEPT the freshly-written fold
    * target `batch=-1` is renamed back into the live tree — or into
    * the backup, when the crash landed between the swap's two renames
    * — and only then does the standard backup restore run. Discarding
    * the scratch `batch=-1` is always safe: its fold sources were
    * never removed from the old tree. Idempotent (a dir already home
    * is skipped), and a pre-move-era scratch (dirs copied, originals
    * intact) degrades to exactly the old delete. */
  private def healCurationCorpusRoot(spark: SparkSession,
      root: String): Unit = {
    val dir = new HPath(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(dir.getParent, s".${dir.getName}.compact.tmp")
    val backup = compactBackupPath(dir)
    if (fs.exists(tmp)) {
      val target =
        if (!fs.exists(dir) && fs.exists(backup)) backup else dir
      fs.mkdirs(target)
      fs.listStatus(tmp).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") &&
          p.getName != "batch=-1")
        .foreach { p =>
          val dst = new HPath(target, p.getName)
          if (!fs.exists(dst)) { fs.rename(p, dst); () }
        }
      // VERIFY before discarding: a failed rename (quota, permissions)
      // must not let the delete below destroy the only copy
      val left = fs.listStatus(tmp).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("batch=") && n != "batch=-1")
      if (left.nonEmpty)
        throw new IllegalStateException(
          s"could not reclaim ${left.mkString(", ")} from $tmp into " +
            s"$target — the scratch holds their only copy, so it is " +
            "NOT deleted; resolve the rename failure and re-run")
      fs.delete(tmp, true)
      ()
    }
    graft.ops.Warehouse.restoreFromBackup(fs, dir, backup)
    ()
  }

  /** Offline compaction for a MinHash dedup index: merge the
    * accumulated `batch=<id>/` directories into a single `batch=-1/`
    * dir in the per-batch layout (`bh` a data column, no partition
    * dirs), globally sorted by `band_hash` so each file covers its own
    * `band_hash` range and Parquet row-group min/max prune point
    * probes. Dirs of the older `batch=<id>/bh=<k>/` layout fold in
    * alongside ([[dedupIndexScan]]). Without this the per-batch
    * directories accumulate forever and file listing/opening comes to
    * dominate every admission probe.
    *
    * The HIGHEST batch id is carried through UNCHANGED, never folded:
    * if the stream stopped mid-crash, that trailing batch may be
    * uncommitted in the checkpoint, and its replay must still be able
    * to delete-and-redecide its own dir — folding it into `batch=-1`
    * would make the replay's delete a no-op and the batch's own
    * standing rows would suppress its own documents. Committed
    * trailing batches just wait one compaction cycle.
    *
    * Safe against readers via the [[graft.ops.Warehouse.atomicSwap]]
    * rename discipline, and against the stream via the batch-id space:
    * `-1` is below any micro-batch id, so a replaying batch never
    * deletes the compacted tree and admission/probe results are
    * IDENTICAL before and after (StreamingSpec asserts cell-exact
    * parity). Safe against a LIVE stream via the store lease
    * ([[withStoreLock]]): the compactor holds the root's lease for
    * the whole fold+swap and each sink merge holds it for its batch,
    * so the two serialize instead of racing — a batch admitted while
    * compaction waits sees the pre-fold tree, the next batch the
    * folded one, and both decide identically (the parity above).
    * StreamingSpec's interleaving test runs compaction mid-stream and
    * asserts the admitted set equals the sequential replay. */
  def compactDedupIndex(spark: SparkSession, indexDir: String): Unit =
    withStoreLock(spark, Seq(indexDir)) {
      compactDedupIndexBody(spark, indexDir)
    }

  private def compactDedupIndexBody(spark: SparkSession,
      indexDir: String): Unit = {
    healCompactRoot(spark, indexDir)
    val fs = new HPath(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = batchDirIds(fs, new HPath(indexDir))
    val keep = if (ids.isEmpty) -1L else ids.max
    // no-op unless there is something to CONSOLIDATE: a tree that is
    // already {batch=-1, latest} would only be identity-rewritten
    if (ids.filterNot(id => id == keep || id == -1L).isEmpty) return
    swapInCompacted(spark, indexDir) { (tmp, fsi) =>
      readDedupIndex(spark, indexDir)
        .where(col("batch") =!= keep).drop("batch")
        .orderBy(col("band_hash"))
        .write.mode("overwrite").parquet(s"$tmp/batch=-1")
      carryBatchDir(spark, fsi, new HPath(s"$indexDir/batch=$keep"),
        new HPath(s"$tmp/batch=$keep"))
    }
  }

  /** Offline compaction for a [[curationIngestSink]]'s corpus tree:
    * collapse the per-batch `corpus/batch=<id>/` payload dirs into a
    * size-targeted `corpus/batch=-1/` file set — the file-count
    * maintenance the ingest root needs alongside [[compactDedupIndex]]
    * (run that on `<root>/index`); the `stats/` stores are
    * swap-maintained and never accumulate dirs. Same live-stream
    * lease (on the `corpus` subtree — the ingest merge holds the
    * index and corpus leases together) and keep-last-batch rule as
    * [[compactDedupIndex]]: the
    * highest batch dir is carried unchanged so a crash-interrupted
    * trailing batch replays against exactly the state it wrote. */
  /** `purgeTombstoned` additionally drops [[retroDecontaminate]]'s
    * tombstoned rows from the FOLDED payload — the physical-delete
    * path for benchmark-contaminated documents (the logical view,
    * [[readCleanCorpus]], already excludes them; at 100 TB the bytes
    * should eventually go too). The carried trailing batch is never
    * purged — a crashed stream's replay rewrites it wholesale, so
    * purging it would be undone anyway; its tombstoned rows fall out
    * at the NEXT compaction once it folds. Tombstones themselves are
    * retained (benchmark-hit-sized): they keep excluding replay-
    * reintroduced rows and keep the clean view stable across the
    * purge.
    *
    * [[snapshotCorpus]] retention: batch dirs pinned by a committed
    * snapshot manifest are carried unchanged — neither folded nor
    * purged — and if a snapshot pins `batch=-1` (the fold target) the
    * compaction defers wholesale until the snapshot drops. Batches
    * above the decon corpus-sweep watermark are likewise retained
    * until the next sweep scans them (their ids are the closure
    * leg's only provenance). All retained dirs and the trailing
    * batch are carried by RENAME, not byte copy — O(metadata)
    * however much payload they hold — with crash reclaim in
    * [[healCurationCorpusRoot]]; `decon/_purge` records the sweep
    * mark last physically purged from `batch=-1`, so a scheduled
    * purge of an already-clean folded store is a no-op instead of a
    * full rewrite. */
  def compactCurationCorpus(spark: SparkSession, rootDir: String,
      purgeTombstoned: Boolean = false): Unit =
    withStoreLock(spark, Seq(s"$rootDir/corpus")) {
      compactCurationCorpusBody(spark, rootDir, purgeTombstoned)
    }

  private def compactCurationCorpusBody(spark: SparkSession,
      rootDir: String, purgeTombstoned: Boolean = false): Unit = {
    healCurationCorpusRoot(spark, s"$rootDir/corpus")
    val tree = new HPath(s"$rootDir/corpus")
    val fs = tree.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = batchDirIds(fs, tree)
    val keep = if (ids.isEmpty) -1L else ids.max
    // snapshot retention: dirs pinned by a committed [[snapshotCorpus]]
    // manifest are carried unchanged — never folded, never purged
    // (their tombstoned bytes wait for the snapshot to drop). The
    // trailing batch is carried anyway, so drop it from the pin set
    val pinned = snapshotPinnedBatches(fs, rootDir) match {
      case Some(p) => p - keep
      case None => return // unreadable manifest: pins unknowable,
      // defer wholesale (already said loudly on stderr)
    }
    // decon-sweep retention: [[retroDecontaminate]]'s leg (b) selects
    // "batches ingested since the last sweep" by batch id — folding
    // an UNSWEPT batch into batch=-1 would erase that provenance and
    // its rows would never be scanned against the older grams. Carry
    // ids above the committed corpus-sweep watermark; they fold right
    // after the next sweep. (No watermark file = either decon is
    // unused or a pre-watermark store whose next sweep rescans the
    // whole corpus anyway — fold freely.)
    val unswept: Set[Long] =
      readLongMarker(fs, new HPath(s"$rootDir/decon/_sweep_corpus"))
        .fold(Set.empty[Long])(cw =>
          ids.filter(id => id >= 0L && id > cw).toSet - keep)
    val retained = pinned ++ unswept
    val foldable = ids.filterNot(id => id == keep || retained.contains(id))
    val tomb =
      if (purgeTombstoned) readCurationTombstones(spark, rootDir)
      else None
    if (ids.filterNot(_ == keep).isEmpty) return // only the trailing batch
    if (foldable.isEmpty) return // everything else pinned — no work
    // purge high-water: `decon/_purge` records the sweep mark whose
    // tombstones the folded batch=-1 last physically dropped. Without
    // it, every scheduled purge of an already-folded store re-reads
    // and rewrites the WHOLE folded payload to drop zero rows — an
    // unbounded repeated full-corpus rewrite at 100 TB
    def deconMark(name: String): Long =
      readLongMarker(fs, new HPath(s"$rootDir/decon/$name"))
        .getOrElse(-1L)
    val sweepMark = deconMark("_sweep")
    // with no purge requested (or nothing tombstoned, or the folded
    // payload already purged up to the current sweep mark), an
    // already-folded store has no work; otherwise a purge re-folds
    // batch=-1 to physically drop its tombstoned rows
    if (foldable.filterNot(_ == -1L).isEmpty &&
      (tomb.isEmpty || sweepMark <= deconMark("_purge"))) return
    if (pinned.contains(-1L)) {
      // the fold target itself is pinned: folding would rewrite it.
      // Defer wholesale — compaction resumes when the snapshot drops
      System.err.println("[snapshot] compaction of " +
        s"$rootDir/corpus deferred: a snapshot pins batch=-1 " +
        "(the fold target); drop the snapshot to let compaction run")
      return
    }
    // one file per ~128 MB of FOLDED payload (the carried and pinned
    // batches' size must not inflate the target), like
    // Warehouse.compact — sized from ONE recursive listing of the tree
    // (object stores serve that as a single flat LIST), not a per-dir
    // getContentSummary walk that is O(batch dirs) namenode calls
    val foldSeg = foldable.map(id => s"/batch=$id/").toSet
    val foldedBytes = {
      val it = fs.listFiles(tree, true)
      var sum = 0L
      while (it.hasNext) {
        val f = it.next()
        if (foldSeg.exists(f.getPath.toString.contains))
          sum += f.getLen
      }
      sum
    }
    val nFiles = math.max(1, math.ceil(foldedBytes / 128e6).toInt)
    // purge-marker discipline, crash-safe in the re-purge direction:
    // a fold WITHOUT the tombstone anti-join can merge tombstoned
    // rows into batch=-1, so the claim is dropped BEFORE that fold
    // commits; a purging fold re-establishes it AFTER the swap. A
    // crash between either marker touch and its fold only ever makes
    // a later purge do redundant work, never skip needed work
    val purgeFile = new HPath(s"$rootDir/decon/_purge")
    if (tomb.isEmpty) fs.delete(purgeFile, true)
    swapInCompacted(spark, s"$rootDir/corpus") { (tmp, fsi) =>
      val folded = spark.read.parquet(s"$rootDir/corpus")
        .where(col("batch").isInCollection(foldable)).drop("batch")
      tomb.fold(folded)(t => folded.join(t, t.columns.toSeq, "left_anti"))
        .coalesce(nFiles)
        .write.mode("overwrite").parquet(s"$tmp/batch=-1")
      // retained dirs (trailing + snapshot pins + unswept) MOVE, not
      // copy: O(metadata) however large they are — see moveBatchDir;
      // the fold above reads only `foldable`, so the sources it needs
      // stay in place until the swap
      (retained + keep).foreach(p =>
        moveBatchDir(fsi, new HPath(s"$rootDir/corpus/batch=$p"),
          new HPath(s"$tmp/batch=$p")))
    }
    if (tomb.nonEmpty && fs.exists(new HPath(s"$rootDir/decon"))) {
      val o = fs.create(purgeFile, true)
      try o.write(sweepMark.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally o.close()
    }
  }

  /** Offline (re)build of an exact-Jaccard index from its
    * ADMITTED corpus under a NEW frozen order — the drift path the
    * sink pins away: as the corpus grows past the reference snapshot
    * the original [[graft.ops.Dedup.shingleDfTable]] described,
    * prefix lengths derive from stale document frequencies, so
    * now-common shingles sit in prefixes and candidate counts creep
    * up (decisions stay EXACT — DedupSpec asserts admission is
    * order-independent — only the pruning the order exists for
    * degrades). Re-deriving the order and re-indexing from source is
    * the honest refresh for the exact-dedup store: writes the
    * `prefix/batch=-1/jb=` + `arrays/batch=-1/ab=` layout plus the new
    * `df_table/` under ONE atomic swap. A resuming stream appends above
    * `-1` — pass it the NEW order ([[readJaccardDfTable]]). `corpus`
    * must be the admitted documents (e.g. the payloads backing
    * `readJaccardIndexArrays` ids) — rebuild re-indexes, it does not
    * re-dedup — documents admitted between the `corpus` snapshot and
    * the rebuild's lease acquisition are absent from the rebuilt
    * index, so snapshot as close to the rebuild as practical (merges
    * that queue BEHIND the lease are safe: they re-run after the swap
    * and append above `batch=-1`). Runs under the index root's store
    * lease for its whole corpus pass. */
  def rebuildJaccardIndex(spark: SparkSession, corpus: DataFrame,
                          textCol: String, idCol: String,
                          indexDir: String, n: Int = 3,
                          minJaccard: Double = 0.5): Unit =
    withStoreLock(spark, Seq(indexDir)) {
      rebuildJaccardIndexBody(spark, corpus, textCol, idCol, indexDir,
        n, minJaccard)
    }

  private def rebuildJaccardIndexBody(spark: SparkSession,
      corpus: DataFrame, textCol: String, idCol: String,
      indexDir: String, n: Int, minJaccard: Double): Unit = {
    val frozen = graft.ops.Dedup.shingleDfTable(corpus, textCol, n)
    val (arrays0, prefix) = graft.ops.Dedup.jaccardIndexTables(
      corpus, textCol, idCol, n, minJaccard, frozen)
    // materialized so the corpus-ordering shuffle feeds both tree
    // writes from one pass; and a corpus with nothing indexable must
    // FAIL here, not write _SUCCESS-only partitioned batch=-1 dirs
    // that would wedge every later merge's schema inference
    val arrays = arrays0.localCheckpoint()
    require(!arrays.isEmpty,
      "rebuildJaccardIndex: corpus yields no shingle sets (empty, or " +
        "all-null text) — refusing to write an empty index layout")
    swapInCompacted(spark, indexDir) { (tmp, _) =>
      arrays.withColumn("ab", jaccardArrayBucket(col("id")))
        .repartition(DedupIndexBuckets, col("ab"))
        .sortWithinPartitions("ab", "id")
        .write.mode("overwrite").partitionBy("ab")
        .parquet(s"$tmp/arrays/batch=-1")
      prefix.withColumn("jb", jaccardPrefixBucket(col("h")))
        .withColumn("szb", graft.ops.Dedup.jaccardSizeBand(col("sz")))
        .repartition(DedupIndexBuckets, col("jb"))
        .sortWithinPartitions("jb", "szb", "sz", "h")
        .write.mode("overwrite").partitionBy("jb", "szb")
        .parquet(s"$tmp/prefix/batch=-1")
      frozen.write.mode("overwrite").parquet(s"$tmp/df_table")
    }
  }

  /** Offline compaction for an exact-Jaccard index: collapse
    * BOTH trees' per-batch dirs — `prefix/batch=<id>/jb=<k>/` into a
    * single `prefix/batch=-1/jb=<k>/` (sorted by digest, so point
    * probes prune parquet row groups) and `arrays/batch=<id>/ab=<k>/`
    * into `arrays/batch=-1/ab=<k>/` (sorted by id, for the
    * verification fetch) — under ONE atomic swap of the index root,
    * so a reader never sees one tree compacted and the other not.
    * Same live-stream lease, admission-parity guarantee and
    * keep-last-batch rule as [[compactDedupIndex]]; the highest id
    * over BOTH trees is the carried batch, so a merge that crashed
    * between its arrays and prefix writes replays cleanly (its orphan
    * arrays dir is deleted-and-redecided, never folded). */
  def compactJaccardIndex(spark: SparkSession, indexDir: String): Unit =
    withStoreLock(spark, Seq(indexDir)) {
      compactJaccardIndexBody(spark, indexDir)
    }

  private def compactJaccardIndexBody(spark: SparkSession,
      indexDir: String): Unit = {
    healCompactRoot(spark, indexDir)
    // also heal a crashed writeJaccardDfTable swap NOW (compaction is
    // a writer, so healing is allowed): the root swap below only
    // carries what it copies — an unconsumed `.df_table.compact.old`
    // would be renamed away with the old root and destroyed
    healCompactRoot(spark, s"$indexDir/df_table")
    val fs = new HPath(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pIds = batchDirIds(fs, new HPath(s"$indexDir/prefix"))
    val aIds = batchDirIds(fs, new HPath(s"$indexDir/arrays"))
    if ((pIds ++ aIds).isEmpty) return // no data yet (df_table-only ok)
    val keep = (pIds ++ aIds).max
    if ((pIds ++ aIds).filterNot(id => id == keep || id == -1L).isEmpty)
      return // {batch=-1, latest} only: nothing to consolidate
    swapInCompacted(spark, indexDir) { (tmp, fsi) =>
      def fold(tree: String, ids: Seq[Long], bucket: String,
               partCols: Seq[String], sort: Seq[String]): Unit = {
        val foldIds = ids.filterNot(_ == keep)
        if (foldIds.toSet == Set(-1L))
          // this tree is already consolidated — carry batch=-1
          // unchanged instead of an identity rewrite
          carryBatchDir(spark, fsi,
            new HPath(s"$indexDir/$tree/batch=-1"),
            new HPath(s"$tmp/$tree/batch=-1"))
        else if (foldIds.nonEmpty)
          // (never write an EMPTY batch=-1: a _SUCCESS-only
          // partitioned dir would wedge later schema inference)
          spark.read.parquet(s"$indexDir/$tree")
            .where(col("batch") =!= keep).drop("batch")
            .repartition(DedupIndexBuckets, col(bucket))
            .sortWithinPartitions(sort.map(col): _*)
            .write.mode("overwrite").partitionBy(partCols: _*)
            .parquet(s"$tmp/$tree/batch=-1")
        carryBatchDir(spark, fsi,
          new HPath(s"$indexDir/$tree/batch=$keep"),
          new HPath(s"$tmp/$tree/batch=$keep"))
      }
      // prefix rows sort by (szb, sz) within each jb bucket: the
      // admission read pushes an `sz BETWEEN` envelope filter, so
      // sz-ordered row groups let parquet min/max stats skip the
      // out-of-envelope span of every compacted file (the digest join
      // is a join, not a filter — h-ordering could not prune reads).
      // A store written before the size-banded layout stays on its
      // jb=-only layout (same guard as the streaming merge — a
      // rebuildJaccardIndex migrates it)
      val bandedLayout = pIds.isEmpty ||
        spark.read.parquet(s"$indexDir/prefix").columns
          .contains("szb")
      val (pParts, pSort) =
        if (bandedLayout) (Seq("jb", "szb"), Seq("jb", "szb", "sz", "h"))
        else (Seq("jb"), Seq("jb", "sz", "h"))
      fold("prefix", pIds, "jb", pParts, pSort)
      fold("arrays", aIds, "ab", Seq("ab"), Seq("ab", "id"))
      // the persisted frozen order ([[writeJaccardDfTable]]) lives
      // under the same root and must survive the swap — it IS the
      // index's validity contract
      val dfT = new HPath(s"$indexDir/df_table")
      if (fsi.exists(dfT))
        org.apache.hadoop.fs.FileUtil.copy(fsi, dfT, fsi,
          new HPath(s"$tmp/df_table"), false,
          spark.sparkContext.hadoopConfiguration)
    }
  }
}
