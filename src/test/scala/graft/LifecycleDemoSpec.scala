package graft

import graft.streaming.LifecycleDemo

/** Keeps README's executable lifecycle walk honest: the spec runs the
  * SAME entry point over the SAME shipped fixture the README names,
  * and pins the outcome of every step. */
class LifecycleDemoSpec extends SparkSpec {

  test("the documented lifecycle walk runs as written over the " +
      "shipped fixture: gate drops eval-A's doc, the sweep tombstones " +
      "eval-B's, the gate-less backfill gap is named then force-closed, " +
      "diff/export/fsck agree") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lifedemo").toString
    val s = LifecycleDemo.run(spark,
      "src/test/resources/lifecycle_docs.jsonl", s"$tmp/root")
    // doc 3 shares an 8-gram with eval set A (registered before
    // ingest) -> gated out at admission; everything else admitted
    assert(s.admitted === Set(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
    // doc 6 shares an 8-gram with eval set B (registered after) ->
    // swept retroactively, visible in the snapshot diff
    assert(s.tombstoned === 1L)
    // doc 102 backfills gate-less after the sweep: fsck names the gap
    // (one info finding), forceRetroSweep tombstones it, the finding
    // clears
    assert(s.gapBatches === 1L)
    assert(s.forcedTombstoned === 1L)
    assert(s.gapAfterForce === 0L)
    assert(s.removedInDiff === Set(6L))
    // the export carries exactly the clean t1 view
    assert(s.exportedDocs === 8L)
    // the consumer-side hand-off: full t0 export + t0->t1 delta,
    // applied, equals t1's own export
    assert(s.appliedDocs === Set(1L, 2L, 4L, 5L, 7L, 8L, 9L, 10L))
    // a clean lifecycle leaves a clean root
    assert(s.findings === 0L)
  }
}
