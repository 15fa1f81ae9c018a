package graft.pipelines

import org.apache.spark.sql.SparkSession

/** End-to-end pipeline runner: executes all eight reference-shaped ETL
  * jobs over a directory of extracted CSVs and writes the warehouse
  * (append-history + replace-latest parquet tables), reproducing one
  * daily cron tick of the reference system.
  *
  * Usage: runMain graft.pipelines.RunAll <inputDir> <warehouseDir> <runDate>
  * where inputDir holds the reference-shaped CSVs (see FIXTURES.md §B;
  * src/test/resources has a complete sample set).
  */
object RunAll {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: runMain graft.pipelines.RunAll <inputDir> <warehouseDir> <runDate>")
    val Array(inputDir, outDir, runDate) = args.take(3)
    val spark = graft.GraftSession()
    try {
      val alerts = run(spark, inputDir, outDir, runDate)
      println(s"[runall] wrote warehouse to $outDir (alerts: ${alerts.size})")
    } finally spark.stop()
  }

  /** One daily tick: all eight jobs over `inputDir` into the warehouse
    * at `outDir`; returns the alerts the jobs raised. */
  def run(spark: SparkSession, inputDir: String, outDir: String,
      runDate: String): Seq[String] = {
    val alerts = scala.collection.mutable.ListBuffer.empty[String]
    val alert: Pipelines.Alert = m => { alerts += m; System.err.println(s"[alert] $m") }

    def in(name: String) = s"$inputDir/$name"

    // E1 Audisto: crawl-selection head stage gates the chunk read — no
    // crawl started on runDate means no pages extract (alert, not crash)
    val crawlListPath = in("audisto_crawls_list.json")
    val crawlId =
      if (new java.io.File(crawlListPath).exists())
        Pipelines.selectCrawl(
          Pipelines.readCrawlList(spark, crawlListPath), runDate, alert)
      else Some(-1L) // no list delivered: legacy layout, extract anyway
    crawlId.foreach { id =>
      System.err.println(s"[runall] audisto crawl id $id")
      Pipelines.appendDaily(
        Pipelines.audisto(spark.read.option("header", true)
          .csv(in("audisto_pages_chunk_0.csv"), in("audisto_pages_chunk_1.csv")),
          runDate),
        s"$outDir/audisto_pages")
    }

    // E2 Screaming Frog HTML (K3: slim append + content append + content
    // replace) — only `content` is written twice, so only it persists
    // the raw frame is bound once: it also feeds the images job below,
    // and each read would pay a schema-inference pass over the file
    val rawHtml = Pipelines.readCsv(spark, in("internal_html.csv"))
    val (slim, content) = Pipelines.sfHtml(rawHtml, runDate, alert = alert)
    content.persist()
    try {
      Pipelines.appendDaily(slim, s"$outDir/html_slim")
      Pipelines.appendDaily(content, s"$outDir/content_history")
      Pipelines.replaceTable(content, s"$outDir/content_current")
    } finally { content.unpersist() }

    // E3 Midoco bookings (append)
    Pipelines.appendDaily(
      Pipelines.midoco(Pipelines.readCsvLatin1(spark, in("midoco_report.csv")),
        runDate),
      s"$outDir/bookings")

    // Link graph (replace), orphans/backlinks/images (append), hreflang (replace)
    Pipelines.replaceTable(
      Pipelines.inlinks(Pipelines.readCsv(spark, in("all_inlinks.csv")), runDate),
      s"$outDir/inlinks")
    Pipelines.appendDaily(
      Pipelines.orphans(
        Pipelines.readCsv(spark, in("search_console_orphan_urls.csv")),
        Pipelines.readCsv(spark, in("sitemaps_orphan_urls.csv")), runDate),
      s"$outDir/orphans")
    Pipelines.appendDaily(
      Pipelines.backlinks(Pipelines.readCsv(spark, in("link_metrics_all.csv")),
        runDate),
      s"$outDir/backlinks")
    // images: crawler image export ∪ picture rows from the RAW html export
    // (sfHtml's outputs have already dropped Picture rows, so the picture
    // side comes from the raw frame, like the reference's sf_images script)
    val htmlPictures = rawHtml
      .filter(graft.ops.Urls.doctype(
        org.apache.spark.sql.functions.col("Address"),
        Pipelines.SiteConfig().pictureExts) === "Picture")
      .select("Address", "Status Code", "Size (bytes)")
    Pipelines.appendDaily(
      Pipelines.images(
        Pipelines.readCsv(spark, in("internal_images.csv")),
        htmlPictures, runDate),
      s"$outDir/images")
    Pipelines.replaceTable(
      Pipelines.hreflang(Pipelines.readCsv(spark,
        in("hreflang_missing_return_links.csv")), runDate),
      s"$outDir/hreflang_missing")
    Pipelines.replaceTable(
      Pipelines.hreflang(Pipelines.readCsv(spark,
        in("hreflang_non200_hreflang_urls.csv")), runDate),
      s"$outDir/hreflang_non200")
    alerts.toList
  }
}
