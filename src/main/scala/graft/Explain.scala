package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.jdk.CollectionConverters._

/** Plan-audit utility (dev tool; not part of the Verify/Bench contract): for
  * each listed query, the formatted physical plan, then per run the
  * DataFrame construction time, the execution time (`toRdd.count` of
  * the planned query, like Bench), the Spark jobs it ran and the
  * classes Spark's code generator compiled for it.
  *
  * Usage: runMain graft.Explain <q1,q2,...> [sfDir] [repeat] [outDir] [suffix]
  *
  * Without `outDir` the plans go to stdout; with it each lands in
  * `<outDir>/<query>_<suffix>.txt` (suffix default `before`).
  */
object Explain {

  /** One timed run: `jobs` holds (job id, wall seconds) per Spark job
    * the run submitted, construction included; `compiles` counts the
    * generated classes compiled during the run (a warm run whose plans
    * are all in the code cache compiles none). */
  final case class Run(query: String, run: Int, rows: Long,
      constructS: Double, executeS: Double, jobs: Seq[(Int, Double)],
      compiles: Long)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeat = if (args.length > 2) args(2).toInt else 1
    val outDir = args.lift(3)
    val suffix = if (args.length > 4) args(4) else "before"
    val spark = GraftSession()
    try run(spark, names, sfDir, repeat, outDir, suffix)
    finally spark.stop()
  }

  def run(spark: SparkSession, names: Seq[String], sfDir: String,
      repeat: Int, outDir: Option[String], suffix: String): Seq[Run] = {
    outDir.foreach(new java.io.File(_).mkdirs())
    // warm-up outside any measurement (same as Bench)
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ended =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.add((e.jobId, (e.time - starts.getOrDefault(e.jobId, e.time)) / 1e3))
    }
    sc.addSparkListener(listener)
    try names.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      outDir match {
        case Some(d) => java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$d/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        case None => println(plan)
      }
      (1 to repeat).map { i =>
        GraftListenerBus.drain(sc)
        ended.clear()
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        // rebuild the DataFrame each run (like Bench): a reused df would
        // skip whole stages via shuffle-output reuse and time ~nothing
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        GraftListenerBus.drain(sc)
        val r = Run(name, i, rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          ended.asScala.toSeq.sortBy(_._1),
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
        println(f"[explain] $name run $i: ${r.rows} rows, construct " +
          f"${r.constructS}%.3f s, execute ${r.executeS}%.3f s, " +
          s"${r.jobs.size} jobs, ${r.compiles} compiles")
        r.jobs.foreach { case (id, s) => println(f"[job] $id%4d $s%7.3f s") }
        r
      }
    } finally sc.removeSparkListener(listener)
  }
}
