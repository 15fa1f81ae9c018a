package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, countDistinct, length, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipelines.Pipelines
import graft.streaming.Streaming

/** The benchmark's JVM: sets up one workload, runs its
  * cold unit and then warm ops for a fixed window in a closed loop with
  * one client, runs the workload's correctness checks outside the timed
  * window, and writes one raw JSON record (ops, spans, Spark counts,
  * host telemetry, check results) for `perfbench/run.py` to reduce.
  *
  * Usage: perfbench.Harness --workload <name> --input <dir> --work <dir>
  *   --seconds <s> --trace <0|1> --out <raw.json>
  *   --warmup <ops> [--registry <star-schema dir>] [--min-quality <q>]
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = opt("work")
    val rec = new Recorder(opt("trace") == "1")
    val w: Workload = opt("workload") match {
      case "etl_daily" => new EtlDaily(opt("input"), work,
        opt.get("registry").map(dir => new Registry(dir, work, rec)))
      case "curation_ingest" =>
        new CurationIngest(opt("input"), work, opt("min-quality").toDouble)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up runs from JVM start to a ready session with the workload's
    // registration done: wall time, and the process CPU time it cost
    val spark = w.setUp()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupCpuS = rec.cpu() / 1e9

    val counts = if (rec.tracing) {
      val c = new SparkCounts
      spark.sparkContext.addSparkListener(c)
      rec.afterOp = id => {
        val blocks = spark.sparkContext.getRDDStorageInfo
        rec.fact(id, "cached_rdds", blocks.length.toDouble)
        rec.fact(id, "cached_mb",
          blocks.map(b => b.memSize + b.diskSize).sum / 1048576.0)
        w.afterOp(id, rec)
      }
      Some(c)
    } else None
    w.prepare()

    val host = new Host
    host.start()
    val loadBefore = host.loadavg()
    val membwBefore = host.membwProbe()
    val t0 = System.nanoTime()
    rec.phase = "cold"
    w.cold(rec)
    // JIT compilation of the workload's code paths runs on for several
    // ops after the cold one; these warm-up ops are checked like any
    // other but kept out of the warm statistics
    rec.phase = "warmup"
    w.warmUp(rec, opt("warmup").toInt)
    rec.phase = "warm"
    w.warm(rec, System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong)
    val t1 = System.nanoTime()
    val externalCpu = host.externalCpu(t0, t1)
    val loadAfter = host.loadavg()
    val membwAfter = host.membwProbe()
    host.close()

    rec.phase = "check"
    val checks = try w.check() catch {
      case NonFatal(e) => Map("error" -> e.toString)
    }
    counts.foreach(_.drain())
    val out = new StringBuilder("{")
    out ++= s""""workload":${J(opt("workload"))},"tracing":${rec.tracing},"""
    out ++= s""""setup_s":${J(setupS)},"setup_cpu_s":${J(setupCpuS)},"""
    out ++= s""""ops":${J(rec.ops.map(o => Seq(o.id, o.kind, o.name,
      o.phase, o.t0, o.t1, o.wall0, o.wall1, o.items, o.error, o.cpuNs,
      o.jitMs)))},"""
    out ++= s""""spans":${J(rec.spans.map(s => Seq(s.id, s.parent, s.op,
      s.name, s.t0, s.t1)))},"""
    out ++= s""""facts":${J(rec.facts)},"""
    out ++= s""""spark":${counts.map(_.render()).getOrElse("null")},"""
    out ++= s""""host":${J(Map("loadavg_before" -> loadBefore,
      "loadavg_after" -> loadAfter, "external_cpu" -> externalCpu,
      "membw_probe_s" -> membwBefore, "membw_probe_after_s" -> membwAfter))},"""
    out ++= s""""info":${J(w.info)},"checks":${J(checks)}}"""
    Files.write(Paths.get(opt("out")), out.toString.getBytes(UTF_8))
    w.tearDown()
  }

  /** The one session shape every workload runs on: four local cores,
    * four shuffle partitions, UTC, loopback only, scratch space inside
    * the run's work directory. */
  def session(work: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bytes and regular files under `dir`. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else dir.listFiles().foldLeft((0L, 0L)) { case ((b, n), f) =>
      val (fb, fn) = du(f)
      (b + fb, n + fn)
    }

  def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** Closed loop with one client: run `cycle` at least once, then again
    * while the window has more than half a cycle left, so the last
    * cycle ends near the deadline rather than a whole cycle past it. */
  def loop(deadlineNs: Long)(more: => Boolean)(cycle: => Unit): Unit = {
    var last = 0L
    while (more && System.nanoTime() + last / 2 < deadlineNs) {
      val t0 = System.nanoTime()
      cycle
      last = System.nanoTime() - t0
    }
  }
}

/** File scans of an executed plan, AQE stages and subqueries included. */
object Scans extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

trait Workload {
  /** Start a session and do the workload's registration. */
  def setUp(): SparkSession
  def tearDown(): Unit
  /** Load the generated inputs into driver memory (untimed). */
  def prepare(): Unit = ()
  def cold(rec: Recorder): Unit
  def warmUp(rec: Recorder, ops: Int): Unit
  def warm(rec: Recorder, deadlineNs: Long): Unit
  def check(): Map[String, Any]
  def info: Map[String, Any] = Map.empty
  /** Facts sampled after each op of a traced run. */
  def afterOp(id: Int, rec: Recorder): Unit = ()
}

/** etl_daily: one op is one daily tick built from the same `Pipelines`
  * calls `RunAll` makes, into one growing warehouse, followed by one
  * read op, a dashboard refresh of four SQL reads over the tables just
  * written. */
final class EtlDaily(input: String, work: String, registry: Option[Registry])
    extends Workload {
  /** (input dir, run date, input rows) per day, in tick order */
  private val days = Harness.read(s"$input/days.tsv").split("\n").toSeq
    .filter(_.nonEmpty).map(_.split("\t"))
    .map(a => (s"$input/${a(0)}", a(1), a(2).toLong))
  private val wh = s"$work/warehouse"
  private var spark: SparkSession = _
  private var ticked = 0
  private val alerts = ArrayBuffer.empty[String]

  private val appendTables = Seq("audisto_pages", "html_slim", "content_history",
    "bookings", "orphans", "backlinks", "images")
  private val replaceTables = Seq("content_current", "inlinks", "hreflang_missing",
    "hreflang_non200")

  private def dashboard = Seq(
    "content_inlinks" ->
      s"""SELECT c.address, c.website_type, count(*) AS inlinks
         |FROM parquet.`$wh/content_current` c
         |JOIN parquet.`$wh/inlinks` i ON i.destination = c.address
         |GROUP BY c.address, c.website_type
         |ORDER BY inlinks DESC, c.address LIMIT 50""".stripMargin,
    "content_trend" ->
      s"""SELECT crawl_date, website_type, count(*) AS pages
         |FROM parquet.`$wh/content_history`
         |GROUP BY crawl_date, website_type ORDER BY crawl_date, website_type""".stripMargin,
    "bookings_month" ->
      s"""SELECT date_format(buchungsdatum, 'yyyy-MM') AS month,
         |count(*) AS bookings, round(sum(preis), 2) AS revenue
         |FROM parquet.`$wh/bookings` GROUP BY 1 ORDER BY 1""".stripMargin,
    "orphan_counts" ->
      s"""SELECT crawl_date, count(*) AS orphans
         |FROM parquet.`$wh/orphans` GROUP BY crawl_date ORDER BY crawl_date""".stripMargin)

  def setUp(): SparkSession = {
    spark = Harness.session(work)
    Pipelines.SiteConfig() // library initialisation
    spark
  }

  def tearDown(): Unit = spark.stop()

  private def tick(rec: Recorder, day: (String, String, Long)): Unit = {
    val (dir, runDate, rows) = day
    def in(name: String) = s"$dir/$name"
    val alert: Pipelines.Alert = m => alerts += m
    rec.op("tick", runDate, rows) {
      rec.span("pipelines.job.audisto") {
        val crawls = rec.span("pipelines.read.readCrawlList")(
          Pipelines.readCrawlList(spark, in("audisto_crawls_list.json")))
        rec.span("pipelines.select.selectCrawl")(
          Pipelines.selectCrawl(crawls, runDate, alert)).foreach { _ =>
          val raw = rec.span("pipelines.read.csvChunks")(
            spark.read.option("header", true).csv(
              in("audisto_pages_chunk_0.csv"), in("audisto_pages_chunk_1.csv")))
          val out = rec.span("pipelines.transform.audisto")(
            Pipelines.audisto(raw, runDate))
          rec.span("pipelines.sink.appendDaily")(
            Pipelines.appendDaily(out, s"$wh/audisto_pages"))
        }
      }
      rec.span("pipelines.job.sf_html") {
        val raw = rec.span("pipelines.read.readCsv")(
          Pipelines.readCsv(spark, in("internal_html.csv")))
        val (slim, content) = rec.span("pipelines.transform.sfHtml")(
          Pipelines.sfHtml(raw, runDate, alert = alert))
        content.persist()
        try {
          rec.span("pipelines.sink.appendDaily")(
            Pipelines.appendDaily(slim, s"$wh/html_slim"))
          rec.span("pipelines.sink.appendDaily")(
            Pipelines.appendDaily(content, s"$wh/content_history"))
          rec.span("pipelines.sink.replaceTable")(
            Pipelines.replaceTable(content, s"$wh/content_current"))
        } finally content.unpersist()
      }
      rec.span("pipelines.job.midoco") {
        val raw = rec.span("pipelines.read.readCsvLatin1")(
          Pipelines.readCsvLatin1(spark, in("midoco_report.csv")))
        val out = rec.span("pipelines.transform.midoco")(
          Pipelines.midoco(raw, runDate))
        rec.span("pipelines.sink.appendDaily")(
          Pipelines.appendDaily(out, s"$wh/bookings"))
      }
      rec.span("pipelines.job.inlinks") {
        val raw = rec.span("pipelines.read.readCsv")(
          Pipelines.readCsv(spark, in("all_inlinks.csv")))
        val out = rec.span("pipelines.transform.inlinks")(
          Pipelines.inlinks(raw, runDate))
        rec.span("pipelines.sink.replaceTable")(
          Pipelines.replaceTable(out, s"$wh/inlinks"))
      }
      rec.span("pipelines.job.orphans") {
        val gsc = rec.span("pipelines.read.readCsv")(
          Pipelines.readCsv(spark, in("search_console_orphan_urls.csv")))
        val sitemap = rec.span("pipelines.read.readCsv")(
          Pipelines.readCsv(spark, in("sitemaps_orphan_urls.csv")))
        val out = rec.span("pipelines.transform.orphans")(
          Pipelines.orphans(gsc, sitemap, runDate))
        rec.span("pipelines.sink.appendDaily")(
          Pipelines.appendDaily(out, s"$wh/orphans"))
      }
      rec.span("pipelines.job.backlinks") {
        val raw = rec.span("pipelines.read.readCsv")(
          Pipelines.readCsv(spark, in("link_metrics_all.csv")))
        val out = rec.span("pipelines.transform.backlinks")(
          Pipelines.backlinks(raw, runDate))
        rec.span("pipelines.sink.appendDaily")(
          Pipelines.appendDaily(out, s"$wh/backlinks"))
      }
      rec.span("pipelines.job.images") {
        // picture rows come from the RAW html export, as in RunAll
        val rawHtml = rec.span("pipelines.read.readCsv")(
          Pipelines.readCsv(spark, in("internal_html.csv")))
        val pictures = rawHtml
          .filter(graft.ops.Urls.doctype(col("Address"),
            Pipelines.SiteConfig().pictureExts) === "Picture")
          .select("Address", "Status Code", "Size (bytes)")
        val images = rec.span("pipelines.read.readCsv")(
          Pipelines.readCsv(spark, in("internal_images.csv")))
        val out = rec.span("pipelines.transform.images")(
          Pipelines.images(images, pictures, runDate))
        rec.span("pipelines.sink.appendDaily")(
          Pipelines.appendDaily(out, s"$wh/images"))
      }
      rec.span("pipelines.job.hreflang") {
        for ((file, table) <- Seq(
            "hreflang_missing_return_links.csv" -> "hreflang_missing",
            "hreflang_non200_hreflang_urls.csv" -> "hreflang_non200")) {
          val raw = rec.span("pipelines.read.readCsv")(
            Pipelines.readCsv(spark, in(file)))
          val out = rec.span("pipelines.transform.hreflang")(
            Pipelines.hreflang(raw, runDate))
          rec.span("pipelines.sink.replaceTable")(
            Pipelines.replaceTable(out, s"$wh/$table"))
        }
      }
    }
    ticked += 1
    refresh(rec)
  }

  /** One read op: the whole dashboard refresh, its reads in turn. */
  private def refresh(rec: Recorder): Unit = {
    val dfs = ArrayBuffer.empty[DataFrame]
    rec.op("read", "dashboard") {
      for ((name, sql) <- dashboard) rec.span(s"warehouse.read.$name") {
        val df = rec.span("warehouse.sql")(spark.sql(sql))
        dfs += df
        rec.span("warehouse.collect")(df.collect())
      }
    }
    if (rec.tracing && dfs.nonEmpty)
      rec.fact(rec.lastOpId, "files_scanned",
        dfs.map(Scans.filesRead).sum.toDouble / dfs.size)
  }

  def cold(rec: Recorder): Unit = tick(rec, days.head)

  def warmUp(rec: Recorder, ops: Int): Unit =
    for (_ <- 0 until ops if ticked < days.size) tick(rec, days(ticked))

  def warm(rec: Recorder, deadlineNs: Long): Unit =
    Harness.loop(deadlineNs)(ticked < days.size)(tick(rec, days(ticked)))

  def check(): Map[String, Any] = {
    // the registry's questions run after the window, outside every
    // end-to-end metric: a cold pass, a warm pass, then the oracle dump
    val asked = registry.map(_.run(spark)).getOrElse(Map.empty)
    val append = appendTables.map { t =>
      t -> spark.read.parquet(s"$wh/$t").groupBy("crawl_date").count()
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    }.toMap
    val replace = replaceTables.map { t =>
      val df = spark.read.parquet(s"$wh/$t")
      t -> Map("rows" -> df.count(),
        "crawl_dates" -> df.select("crawl_date").distinct().collect()
          .map(_.get(0).toString).sorted.toSeq)
    }.toMap
    val partitions = appendTables.map { t =>
      t -> new File(s"$wh/$t").listFiles().map(_.getName)
        .filter(_.startsWith("crawl_date=")).sorted.toSeq
    }.toMap
    val (bytes, files) = Harness.du(new File(wh))
    Map("ticked" -> days.take(ticked).map(_._2),
      "append" -> append, "replace" -> replace, "partitions" -> partitions,
      "warehouse_bytes" -> bytes, "warehouse_files" -> files,
      "alerts" -> alerts.toSeq, "registry" -> asked)
  }

  override def info: Map[String, Any] =
    registry.map(r => Map("queries" -> r.selected.toMap)).getOrElse(Map.empty)
}

/** The query registry: the first registered `SparkEntry.queries` name
  * of each pack, in name order, asked over a generated star schema. One
  * op is one query: construct the DataFrame, plan it, execute the plan.
  * After a cold and a warm pass, each result is written out for the
  * DuckDB oracle check. */
final class Registry(dir: String, work: String, rec: Recorder) {
  import graft._

  /** (query, pack) in name order: the first name of each pack. */
  lazy val selected: Seq[(String, String)] = {
    val named = Seq("northstar" -> NorthStar.queries,
      "sqlsurface" -> SqlSurface.queries, "curation" -> CurationQueries.queries,
      "warehouse" -> WarehouseQueries.queries, "mining" -> MiningQueries.queries,
      "quality" -> QualityQueries.queries, "analytics" -> AnalyticsQueries.queries,
      "retrieval" -> RetrievalQueries.queries, "search" -> SearchQueries.queries,
      "tokenizer" -> TokenizerQueries.queries).map { case (p, m) => p -> m.keySet }
    val core = SparkEntry.queries.keySet -- named.flatMap(_._2)
    (("core" -> core) +: named).map { case (p, names) => names.min -> p }
      .sortBy(_._1)
  }

  def run(spark: SparkSession): Map[String, Any] = {
    // the harness confs graft.Verify and graft.Bench run the registry with
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.graft.widenReads", "true")
    spark.conf.set("spark.graft.cacheTables", "true")
    for (pass <- Seq("registry_cold", "registry_warm")) {
      rec.phase = pass
      selected.foreach { case (q, _) =>
        val fn = SparkEntry.queries(q)
        rec.op("query", q, 1L) {
          val df = rec.span("query.construct")(fn(spark, dir))
          rec.span("query.plan")(df.queryExecution.executedPlan)
          rec.span("query.exec")(df.queryExecution.toRdd.count())
        }
      }
    }
    rec.phase = "check"
    val out = s"$work/verify"
    val failed = selected.flatMap { case (q, _) =>
      try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$q")
        None
      } catch { case NonFatal(e) => Some(q -> e.toString) }
    }
    val oracle = selected.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap
    Files.write(Paths.get(s"$out/oracle_sql.json"), J(oracle).getBytes(UTF_8))
    Map("verify_dir" -> out, "spark_failed" -> failed.toMap)
  }
}

/** curation_ingest: seeded documents fed to `Streaming.curationIngestSink`
  * through a MemoryStream in fixed-size micro-batches. One op is one
  * batch (addData, then processAllAvailable); each batch is followed by
  * one read op, a full scan of the clean corpus (rows, distinct ids,
  * text length). */
final class CurationIngest(input: String, work: String, minQuality: Double)
    extends Workload {
  private var spark: SparkSession = _
  private var stream: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private val root = s"$work/store"
  private var batches: Seq[Seq[(Long, String)]] = Nil
  private var fed = 0

  def setUp(): SparkSession = {
    spark = Harness.session(work)
    stream = MemoryStream[(Long, String)](
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING), spark)
    query = Streaming.curationIngestSink(stream.toDF().toDF("doc_id", "text"),
      "text", "doc_id", root, s"$work/checkpoint", minQuality = minQuality)
      .start()
    spark
  }

  def tearDown(): Unit = {
    query.stop()
    spark.stop()
  }

  override def prepare(): Unit = {
    val rows = scala.io.Source.fromFile(s"$input/docs.tsv", "UTF-8")
    try {
      batches = rows.getLines().map(_.split("\t", 3)).toSeq
        .groupBy(_(0).toInt).toSeq.sortBy(_._1)
        .map(_._2.map(a => (a(1).toLong, a(2))))
    } finally rows.close()
  }

  private def batch(rec: Recorder): Unit = {
    val docs = batches(fed)
    rec.op("batch", s"batch_$fed", docs.size.toLong) {
      rec.span("streaming.addData")(stream.addData(docs))
      rec.span("streaming.curationIngestSink")(query.processAllAvailable())
    }
    fed += 1
    // a full pass over the clean corpus, not a footer-only count
    rec.op("read", "corpus_scan") {
      val df = rec.span("streaming.readCleanCorpus")(
        Streaming.readCleanCorpus(spark, root))
      rec.span("streaming.scan")(df.agg(count(lit(1)),
        countDistinct(col("doc_id")), sum(length(col("text")))).collect())
    }
  }

  override def afterOp(id: Int, rec: Recorder): Unit = {
    val (bytes, files) = Harness.du(new File(root))
    rec.fact(id, "store_bytes", bytes.toDouble)
    rec.fact(id, "store_files", files.toDouble)
  }

  def cold(rec: Recorder): Unit = batch(rec)

  def warmUp(rec: Recorder, ops: Int): Unit =
    for (_ <- 0 until ops if fed < batches.size) batch(rec)

  def warm(rec: Recorder, deadlineNs: Long): Unit =
    Harness.loop(deadlineNs)(fed < batches.size)(batch(rec))

  def check(): Map[String, Any] = {
    val corpus = Streaming.readCurationCorpus(spark, root)
    val findings = Streaming.fsckCurationStore(spark, root)
    val (bytes, files) = Harness.du(new File(root))
    Map("batches_fed" -> fed,
      "admitted_rows" -> corpus.count(),
      "admitted_ids" -> corpus.select("doc_id").distinct().count(),
      "fsck_findings" -> findings.count(),
      "fsck_sample" -> findings.limit(5).collect().map(_.toString).toSeq,
      "store_bytes" -> bytes, "store_files" -> files)
  }
}
