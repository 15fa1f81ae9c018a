package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Pipelines
import graft.pipelines.Pipelines.SiteConfig

/** Pipeline golden tests (SURVEY §5.4): E1-E3 + sibling jobs re-expressed
  * over reference-shaped CSV fixtures in src/test/resources. */
class PipelinesSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource("/" + name).getPath
  private val runDate = "2024-05-01"
  private val runDay = java.sql.Date.valueOf(runDate)

  private val csvFixtures: Seq[String] =
    new java.io.File(res("internal_html.csv")).getParentFile.list()
      .filter(_.endsWith(".csv")).sorted.toSeq
  private def isLatin1(name: String) = name == "midoco_report.csv"
  private def declaredRead(name: String) =
    if (isLatin1(name)) Pipelines.readCsvLatin1(spark, res(name))
    else Pipelines.readCsv(spark, res(name))

  test("source type catalogue: every CSV fixture reads with the schema " +
      "inference gives (names, order, types)") {
    assert(csvFixtures.size === 12)
    csvFixtures.foreach { name =>
      val inferred = {
        val r = spark.read.option("header", true).option("inferSchema", true)
        if (isLatin1(name))
          r.option("sep", ";").option("encoding", "ISO-8859-1").csv(res(name))
        else r.csv(res(name))
      }.schema
      assert(declaredRead(name).schema === inferred, name)
    }
    // a column outside the catalogue reads as string
    assert(Pipelines.readCsv(spark, res("internal_html.csv")).schema("content-1")
      .dataType === org.apache.spark.sql.types.StringType)
  }

  test("source reads start no Spark job, up to and including .schema") {
    // the listener sees jobs: an inferring read starts some
    assert(jobsStartedBy(spark.read.option("header", true)
      .option("inferSchema", true).csv(res("all_inlinks.csv")).schema)
      .size > 0)
    assert(jobsStartedBy {
      csvFixtures.foreach(name => declaredRead(name).schema)
      Pipelines.readCrawlList(spark, res("audisto_crawls_list.json")).schema
    }.size === 0)
  }

  test("E1 head stage: crawl list JSON -> today's crawl id; empty day alerts") {
    val crawls = Pipelines.readCrawlList(spark, res("audisto_crawls_list.json"))
    assert(crawls.columns.toSeq === Seq("id", "crawl_time"))

    // found: 2024-05-01 has exactly crawl 101
    var alerts = List.empty[String]
    val hit = Pipelines.selectCrawl(crawls, "2024-05-01", m => alerts ::= m)
    assert(hit === Some(101L))
    assert(alerts.isEmpty)

    // absent: no crawl started 2024-05-02 -> None + alert (quirk Q7: the
    // reference would IndexError on .values[0] here)
    val miss = Pipelines.selectCrawl(crawls, "2024-05-02", m => alerts ::= m)
    assert(miss === None)
    assert(alerts.exists(_.contains("no crawl")))
  }

  test("E1 audisto: chunk headers filtered, ranks cast, URL levels, renamed") {
    val raw = spark.read.option("header", true)
      .csv(res("audisto_pages_chunk_0.csv"), res("audisto_pages_chunk_1.csv"))
    val out = Pipelines.audisto(raw, runDate)
    assert(out.count() === 4) // embedded header row dropped (F3)
    assert(out.columns.toSet === Set("address", "page_rank", "chei_rank",
      "root", "directory", "page_level1", "page_level2", "page_level3",
      "page_level4", "crawl_date"))
    val root = out.filter(col("address") === "https://www.example.de/").head()
    assert(root.getAs[Double]("page_rank") === 0.91)
    assert(root.getAs[String]("root") === "www.example.de")
    val deep = out.filter(col("address").endsWith("/mallorca")).head()
    assert(deep.getAs[String]("directory") === "reisen")
    assert(deep.getAs[String]("page_level1") === "spanien")
    assert(deep.getAs[String]("page_level2") === "mallorca")
    assert(deep.getAs[java.sql.Date]("crawl_date") === runDay)
  }

  test("E1 audisto golden: full output frame equals the expected table") {
    val raw = spark.read.option("header", true)
      .csv(res("audisto_pages_chunk_0.csv"), res("audisto_pages_chunk_1.csv"))
    val out = Pipelines.audisto(raw, runDate)
      .select("address", "page_rank", "chei_rank", "root", "directory",
        "page_level1", "page_level2", "page_level3", "page_level4", "crawl_date")
      .orderBy("address")
      .collect().map(_.toSeq)
    val expected = Seq(
      Seq("https://blog.example.de/tipps/packliste", 0.21, 0.61,
        "blog.example.de", "tipps", "packliste", null, null, null, runDay),
      Seq("https://www.example.de/", 0.91, 0.12,
        "www.example.de", null, null, null, null, null, runDay),
      Seq("https://www.example.de/reisen/", 0.55, 0.33,
        "www.example.de", "reisen", null, null, null, null, runDay),
      Seq("https://www.example.de/reisen/spanien/mallorca", 0.41, 0.52,
        "www.example.de", "reisen", "spanien", "mallorca", null, null, runDay))
    assert(out.toSeq === expected)
  }

  test("E2 sfHtml: gate passes, picture rows filtered, content merged, renamed") {
    var alerts = List.empty[String]
    val raw = Pipelines.readCsv(spark, res("internal_html.csv"))
    val (slim, content) = Pipelines.sfHtml(raw, runDate,
      alert = m => alerts ::= m)
    assert(alerts.isEmpty) // root is 200
    // 7 rows - 1 picture (.jpg) = 6 HTML rows
    assert(slim.count() === 6)
    assert(content.count() === 6)
    assert(!slim.columns.contains("content"))
    assert(slim.columns.contains("page_size")) // Size (bytes) renamed
    assert(slim.columns.forall(c => c == c.toLowerCase))
    val rootRow = content.filter(col("address") === "https://www.example.de/").head()
    assert(rootRow.getAs[String]("content") === "intro text middle  end.")
    assert(rootRow.getAs[String]("website_type") === "Internal")
    val slimRoot = slim.filter(col("address") === "https://www.example.de/").head()
    assert(slimRoot.getAs[String]("travelogic_agents") === "Alpha, Beta")
    assert(slimRoot.getAs[String]("crawl_timestamp") === "2024-05-01")
    // C11: empty metric cells -> 0.0
    val deep = slim.filter(col("address").endsWith("/top10")).head()
    assert(deep.getAs[Double]("flesch_reading_ease_score") === 0.0)
    // whitelabel classification survived the pipeline
    val wl = slim.filter(col("address").startsWith("https://blog.")).head()
    assert(wl.getAs[String]("website_type") === "Whitelabel")
  }

  test("E2 sfHtml: V2 gate fires alert on non-200 root and continues") {
    var alerts = List.empty[String]
    val raw = Pipelines.readCsv(spark, res("internal_html_bad_root.csv"))
    val (slim, _) = Pipelines.sfHtml(raw, runDate, alert = m => alerts ::= m)
    assert(alerts.nonEmpty) // alert fired...
    assert(slim.count() === 6) // ...but the run continued
  }

  test("E3 midoco: German dates, locale decimals, lead time, coercion, umlauts") {
    val raw = Pipelines.readCsvLatin1(spark, res("midoco_report.csv"))
    val out = Pipelines.midoco(raw, runDate)
    assert(out.count() === 3)
    val r1 = out.filter(col("ext_id") === "X123").head()
    assert(r1.getAs[Double]("preis") === 1234.56)
    assert(r1.getAs[java.sql.Date]("reisebeginn").toString === "2024-06-15")
    assert(r1.getAs[Int]("vorausbuchungstage") === 106) // 01.03 -> 15.06
    assert(r1.getAs[Long]("personenzahl") === 2L)
    assert(r1.getAs[String]("vermittler") === "Büro München") // latin-1 read
    val junk = out.filter(col("ext_id") === "X125").head()
    assert(junk.getAs[Long]("personenzahl") === 0L) // C10: junk -> 0
    assert(junk.getAs[Long]("buchungsnummer") === 0L)
    assert(junk.isNullAt(junk.fieldIndex("stornodatum")))
  }

  test("inlinks: both endpoints classified, destination decomposed, replace sink") {
    val raw = Pipelines.readCsv(spark, res("all_inlinks.csv"))
    val out = Pipelines.inlinks(raw, runDate)
    assert(out.count() === 5)
    val ext = out.filter(col("source") === "https://other.com/x").head()
    assert(ext.getAs[String]("source_type") === "External")
    assert(ext.getAs[String]("destination_type") === "Internal")
    assert(ext.getAs[String]("page_level4") === "d") // /deep/a/b/c/d/e
    val wl = out.filter(col("source").startsWith("https://blog.")).head()
    assert(wl.getAs[String]("source_type") === "Whitelabel")
  }

  test("orphans: permissive union fills missing GSC metrics, filters pictures") {
    val gsc = Pipelines.readCsv(spark, res("search_console_orphan_urls.csv"))
    val sm = Pipelines.readCsv(spark, res("sitemaps_orphan_urls.csv"))
    val out = Pipelines.orphans(gsc, sm, runDate)
    // 3 gsc + 2 sitemap - 2 pictures (.png/.jpg) = 3
    assert(out.count() === 3)
    val smRow = out.filter(col("address").contains("sitemap-only")).head()
    assert(smRow.getAs[Double]("clicks") === 0.0) // C11 fill after union
    val partial = out.filter(col("address").endsWith("/vergessen")).head()
    assert(partial.getAs[Double]("ctr") === 0.0)
    assert(partial.getAs[Double]("clicks") === 3.0)
  }

  test("backlinks + images + hreflang pipelines normalize and stamp dates") {
    val bl = Pipelines.backlinks(
      Pipelines.readCsv(spark, res("link_metrics_all.csv")), runDate)
    assert(bl.columns.contains("ahrefs_backlinks_exact")) // " - " collapses
    assert(bl.filter(col("doctype") === "Picture").count() === 1)

    val img = Pipelines.images(
      Pipelines.readCsv(spark, res("internal_images.csv")),
      spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("Address",
            org.apache.spark.sql.types.StringType)))),
      runDate)
    assert(img.count() === 2)
    assert(img.columns.contains("image_size"))
    assert(!img.columns.exists(_.startsWith("content")))

    val hf = Pipelines.hreflang(
      Pipelines.readCsv(spark, res("hreflang_missing_return_links.csv")), runDate)
    assert(hf.columns.toSet === Set("address", "occurrences", "html_hreflang",
      "crawl_date"))
  }

  test("K1/K2 sinks: append accumulates daily partitions, replace overwrites") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val raw = spark.read.option("header", true)
      .csv(res("audisto_pages_chunk_0.csv"))
    Pipelines.appendDaily(Pipelines.audisto(raw, "2024-05-01"), s"$tmp/hist")
    Pipelines.appendDaily(Pipelines.audisto(raw, "2024-05-02"), s"$tmp/hist")
    val hist = spark.read.parquet(s"$tmp/hist")
    assert(hist.count() === 4) // 2 rows x 2 daily appends
    assert(hist.select("crawl_date").distinct().count() === 2)
    // partition pruning: only one partition's files are read
    val pruned = hist.filter(col("crawl_date") === "2024-05-01")
    assert(pruned.count() === 2)

    Pipelines.replaceTable(Pipelines.audisto(raw, "2024-05-03"), s"$tmp/state")
    Pipelines.replaceTable(Pipelines.audisto(raw, "2024-05-04"), s"$tmp/state")
    val state = spark.read.parquet(s"$tmp/state")
    assert(state.count() === 2) // replaced, not accumulated
    assert(rows(state.select("crawl_date").distinct()).flatten ===
      Seq(java.sql.Date.valueOf("2024-05-04")))
  }

  test("observedGate: metrics ride the sink pass, no second scan") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, if (i % 10 == 0) 500 else 200))
      .toDF("id", "status")
    val (observed, obs) = Pipelines.observedGate(df, col("status") =!= 200)
    val tmp = java.nio.file.Files.createTempDirectory("graft-obs").toString
    observed.write.mode("overwrite").parquet(s"$tmp/out") // the ONLY action
    val m = obs.get
    assert(m("n_rows") === 100L)
    assert(m("n_bad") === 10L)
    // the write itself was complete — gating happened without re-scanning
    assert(spark.read.parquet(s"$tmp/out").count() === 100)
  }

  test("observedGate on an EMPTY input: zero-row sum metrics read " +
      "NULL (count reads 0) — the documented null-safe read contract, " +
      "pinned so an upgrade changing the shape is heard") {
    import spark.implicits._
    val df = Seq((1L, 200)).toDF("id", "status").where(lit(false))
    val (observed, obs) = Pipelines.observedGate(df, col("status") =!= 200)
    val tmp = java.nio.file.Files.createTempDirectory("graft-obs0").toString
    observed.write.mode("overwrite").parquet(s"$tmp/out")
    val m = obs.get
    assert(m("n_rows") === 0L, "count over zero rows is still 0")
    assert(m("n_bad") == null,
      "sum over zero rows reads NULL — if this starts reading 0 the " +
        "null-safe caveat on observedGate can be simplified away")
    // the safe read shape every caller must use — covers BOTH empty
    // shapes: this one (node present, sum NULL) and the fully-pruned
    // plan writeJsonlShards hit (no keys at all)
    def metric(k: String): Long =
      m.get(k).flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
    assert(metric("n_rows") === 0L && metric("n_bad") === 0L)
  }
}
