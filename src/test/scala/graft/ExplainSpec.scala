package graft

/** The plan/timing dev tool: several queries in one session, plans
  * written under an output directory, and per run the construction /
  * execution split plus the Spark jobs the run submitted and the
  * generated classes it compiled. */
class ExplainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001" // TESTDATA.md fixture

  test("two queries in one call: a physical plan file each, and every " +
      "run reports its construct/execute split and its jobs") {
    val out = java.nio.file.Files.createTempDirectory("graft-explain")
      .toString
    val names = Seq("q01_pricing_summary", "q03_revenue_by_nation")
    val printed = new java.io.ByteArrayOutputStream()
    val runs = Console.withOut(printed) {
      Explain.run(spark, names, sf, repeat = 2, outDir = Some(out),
        suffix = "after")
    }
    val lines = printed.toString("UTF-8").linesIterator
      .filter(_.startsWith("[explain]")).toSeq

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
      assert(r.compiles >= 0, r)
      assert(lines.exists(l =>
        l.startsWith(s"[explain] ${r.query} run ${r.run}:") &&
          l.endsWith(s"${r.jobs.size} jobs, ${r.compiles} compiles")), lines)
    }
    // run 2 finds run 1's generated classes in the code cache
    names.foreach { q =>
      val Seq(r1, r2) = runs.filter(_.query == q)
      assert(r2.compiles <= r1.compiles, (r1, r2))
    }
    // each run tallies only its own jobs
    assert(runs.flatMap(_.jobs.map(_._1)).distinct.size ===
      runs.map(_.jobs.size).sum)
  }
}
