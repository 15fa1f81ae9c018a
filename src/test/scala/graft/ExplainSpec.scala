package graft

/** The plan/timing dev tool: several queries in one session, plans
  * written under an output directory, and per run the construction /
  * execution split plus the Spark jobs the run submitted. */
class ExplainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001" // TESTDATA.md fixture

  test("two queries in one call: a physical plan file each, and every " +
      "run reports its construct/execute split and its jobs") {
    val out = java.nio.file.Files.createTempDirectory("graft-explain")
      .toString
    val names = Seq("q01_pricing_summary", "q03_revenue_by_nation")
    val runs = Explain.run(spark, names, sf, repeat = 2,
      outDir = Some(out), suffix = "after")

    names.foreach { q =>
      val plan = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/${q}_after.txt")), "UTF-8")
      assert(plan.contains("== Physical Plan =="), q)
    }
    assert(runs.map(r => (r.query, r.run)) === names.flatMap(q =>
      Seq(q -> 1, q -> 2)))
    runs.foreach { r =>
      assert(r.rows > 0, r)
      assert(r.constructS >= 0 && r.executeS > 0, r)
      assert(r.jobs.nonEmpty && r.jobs.forall(_._2 >= 0), r)
    }
    // each run tallies only its own jobs
    assert(runs.flatMap(_.jobs.map(_._1)).distinct.size ===
      runs.map(_.jobs.size).sum)
  }
}
