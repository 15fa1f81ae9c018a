package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Warehouse maintenance operators: slowly-changing-dimension history
  * (SCD Type 2) and CDC change-stream application (latest-wins upsert
  * with delete tombstones) — the two table-maintenance patterns the
  * reference runs as full-table rewrites (replace-latest, SURVEY §2.2
  * K2) but that a warehouse needs in keyed, incremental form.
  *
  * Scale posture: both are one hash-shuffle on the business key followed
  * by a streaming per-key window — no driver state, no iteration, and
  * the change set (not the base table) dominates the shuffle for
  * applyCdc when the base side is bucketed on the key.
  */
object Warehouse {

  private type HPath = org.apache.hadoop.fs.Path
  private type HFs = org.apache.hadoop.fs.FileSystem

  /** Swap `tmp` into `target` without a delete-first window: the old
    * table is renamed aside to `backup`, the new one renamed in, then
    * the backup dropped. A reader can race only the two metadata-op
    * renames (not a recursive delete of the whole table, the previous
    * design's window), and every crash point leaves a COMPLETE table
    * recoverable by [[restoreFromBackup]]: before the first rename
    * nothing moved; between the renames the backup holds the old table;
    * after the second the target holds the new one. The backup is
    * discarded only once the NEW target is in place: if `tmp` went
    * missing (every caller writes it immediately before swapping, so
    * that means an external actor raced the swap — e.g. a misguided
    * by-hand cleanup), the backup is retained as the last complete
    * table and the next [[restoreFromBackup]] restores it, instead of
    * the final delete destroying the only copy. */
  private[graft] def atomicSwap(fs: HFs, target: HPath, tmp: HPath,
                                backup: HPath): Unit = {
    fs.delete(backup, true) // stale backup from a crashed PREVIOUS swap
    if (fs.exists(target)) fs.rename(target, backup)
    if (fs.exists(tmp)) fs.rename(tmp, target)
    if (fs.exists(target)) fs.delete(backup, true)
    ()
  }

  /** Crash recovery for [[atomicSwap]]: if `target` is missing but a
    * backup exists, the writer died between the two renames — the
    * backup is the last complete table, so restore it (the interrupted
    * write's tmp may be partial and is never trusted). If `target`
    * exists, any leftover backup is from after the swap completed and
    * is dropped. Returns true when a restore happened. */
  private[graft] def restoreFromBackup(fs: HFs, target: HPath,
                                       backup: HPath): Boolean =
    if (fs.exists(backup)) {
      if (!fs.exists(target)) { fs.rename(backup, target); true }
      else { fs.delete(backup, true); false }
    } else false

  /** Compact a parquet table's small files: rewrite to
    * ceil(totalBytes / targetFileBytes) files (at least 1). The
    * small-files problem is the canonical warehouse-maintenance chore —
    * a streaming or per-batch writer leaves thousands of KB-scale files
    * whose open/footer overhead then dominates every scan. Uses
    * coalesce (no shuffle) since compaction only merges; pass
    * `shuffle = true` to rebalance skewed file sizes at the cost of one
    * exchange. Rewrites via a temp directory swapped in by
    * [[atomicSwap]], so a reader never observes a half-written OR
    * absent table beyond the two-rename window, and a crashed run is
    * healed on the next call (or by any caller running
    * [[restoreFromBackup]]). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long, shuffle: Boolean = false): Int = {
    require(targetFileBytes > 0)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.compact.old")
    restoreFromBackup(fs, hPath, backup)
    val totalBytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1,
      math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val compacted = if (shuffle) df.repartition(nFiles) else df.coalesce(nFiles)
    val tmp = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.compact.tmp")
    compacted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    atomicSwap(fs, hPath, tmp, backup)
    nFiles
  }

  /** Write a corpus as deterministically-sharded JSON-Lines — the
    * interchange format LLM training stacks ingest. Shard membership is
    * md5-stable ([[Curation.shard]]), so reruns and engine changes
    * produce identical shard contents; `partitionBy` writes each shard
    * as its own directory in one pass. Any shard count (the shard
    * column is what bounds a write task's slice — at 100 TB the count
    * must be able to grow with the data, so there is no hard cap);
    * `codec` compresses the lines (`"gzip"` / `"zstd"` — uncompressed
    * JSON triples the bytes the training stack has to pull).
    *
    * Returns the number of documents written, measured by an
    * [[org.apache.spark.sql.Observation]] ON the write itself — the
    * caller's manifest does not need (and must not pay for) a second
    * full read of its own output. */
  def writeJsonlShards(df: DataFrame, idCol: String, path: String,
                       nShards: Int,
                       codec: Option[String] = None): Long = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val obs = org.apache.spark.sql.Observation()
    val w = df.withColumn("shard", Curation.shard(col(idCol), nShards))
      .observe(obs, count(lit(1)).as("n_docs"))
      .repartition(col("shard"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
    codec.fold(w)(c => w.option("compression", c)).json(path)
    // an EMPTY df (a fully-tombstoned snapshot is a legitimate state
    // after a whole-corpus decontamination) optimizes to an empty
    // relation whose CollectMetrics node is pruned away — the
    // observation then reports NO keys at all, not n_docs = 0
    obs.get.get("n_docs").fold(0L)(_.asInstanceOf[Long])
  }

  /** Build SCD Type-2 validity intervals from a change log: one row per
    * change, `valid_from` = the change's own timestamp, `valid_to` = the
    * NEXT change's timestamp for the same key (null while current), and
    * `is_current` flagging the open interval.
    *
    * `ordering` must be a total order within a key (include a unique
    * tie-break column after the timestamp) or interval boundaries are
    * nondeterministic under ties.
    */
  def scd2(df: DataFrame, keyCols: Seq[String], ordering: Seq[Column],
           validFromCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordering: _*)
    df.withColumn("valid_from", col(validFromCol))
      .withColumn("valid_to", lead(col(validFromCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Incremental maintenance of a count/sum aggregate table: merge the
    * standing aggregate with a freshly-aggregated delta batch so the
    * result equals a full recompute over base ∪ delta — the
    * materialized-view refresh that lets a 100 TB warehouse update a
    * daily rollup by scanning only the new day. Works for any
    * commutative-monoid measures (counts, sums; avg = merged sum/count
    * downstream). Both inputs are already key-grained, so the merge is
    * a key-shuffle over aggregate rows, never over raw data.
    *
    * `measures` are summed with null treated as the monoid zero via a
    * full outer join on `keys` (a key present in only one side keeps its
    * values).
    */
  def mergeAggDelta(base: DataFrame, delta: DataFrame, keys: Seq[String],
                    measures: Seq[String]): DataFrame = {
    val d = measures.foldLeft(delta) { (df, m) =>
      df.withColumnRenamed(m, s"__d_$m")
    }
    measures.foldLeft(base.join(d, keys, "full_outer")) { (df, m) =>
      df.withColumn(m,
        coalesce(col(m), lit(0)) + coalesce(col(s"__d_$m"), lit(0)))
        .drop(s"__d_$m")
    }
  }

  /** Snapshot diff — the data-diff between two versions of a keyed
    * table (regression gate between corpus refreshes, CDC
    * reconciliation audit, "what changed since yesterday"): one row
    * per key present in either side with `status` ∈ added / removed /
    * changed / unchanged and `changed_cols` = the non-key columns
    * whose values differ (null-safe compare, so null→value and
    * value→null both count as changes).
    *
    * Scale: ONE full-outer key-shuffle join; comparisons are row-local
    * expressions on the joined row. Co-locate the two snapshots
    * (bucketed writes on the key) and even that shuffle disappears.
    * Column set is taken from `a` and must match `b` — diffing across
    * schema changes is a different operation. */
  def snapshotDiff(a: DataFrame, b: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    val valCols = a.columns.filterNot(keyCols.contains).toSeq
    require(valCols.nonEmpty, "need at least one non-key column")
    require(b.columns.sorted.sameElements(a.columns.sorted),
      s"schemas differ: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    val al = a.select(keyCols.map(col) ++
      valCols.map(c => col(c).as(s"__a_$c")) :+ lit(true).as("__in_a"): _*)
    val bl = b.select(keyCols.map(col) ++
      valCols.map(c => col(c).as(s"__b_$c")) :+ lit(true).as("__in_b"): _*)
    val j = al.join(bl, keyCols, "full_outer")
    val changed = valCols.map(c =>
      when(!(col(s"__a_$c") <=> col(s"__b_$c")), lit(c)))
    j.select(keyCols.map(col) :+
        when(col("__in_a").isNull, lit("added"))
          .when(col("__in_b").isNull, lit("removed"))
          .when(coalesce(changed: _*).isNotNull, lit("changed"))
          .otherwise(lit("unchanged")).as("status") :+
        // only meaningful for 'changed' — on added/removed every column
        // trivially differs from the absent side
        when(col("__in_a").isNull || col("__in_b").isNull,
            array().cast("array<string>"))
          .otherwise(filter(array(changed: _*), x => x.isNotNull))
          .as("changed_cols"): _*)
  }

  /** Apply a CDC change stream to a base snapshot: per key, the
    * highest-`seq` change wins; a winning change whose `isDelete`
    * predicate holds removes the key from the result; keys untouched by
    * the stream keep their base row. Base and changes must share a
    * schema (the base is a snapshot of the same record shape).
    *
    * Changes outrank base rows at equal `seq` (the stream is newer
    * information than the snapshot it was captured against).
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keyCols: Seq[String],
               seqCols: Seq[String], isDelete: Column): DataFrame = {
    val b = base.withColumn("__del", lit(false)).withColumn("__src", lit(0))
    val c = changes.withColumn("__del", isDelete).withColumn("__src", lit(1))
    // latest-wins is sequence-first: a replayed change CAPTURED BEFORE
    // the snapshot (lower seq) must not override the newer base row; the
    // stream outranks the base only at equal seq (__src breaks the tie)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((seqCols.map(col) :+ col("__src")).map(_.desc): _*)
    b.unionByName(c)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1 && !col("__del"))
      .drop("__rk", "__del", "__src")
  }
}
