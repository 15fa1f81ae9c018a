package graft.pipelines

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._

/** The reference's eight ETL pipelines (SURVEY §3 E1-E3 + the five sibling
  * Screaming Frog scripts) re-expressed as pure `DataFrame => DataFrame`
  * transforms over the ops library, plus parquet sinks reproducing the
  * append-history / replace-latest warehouse semantics (K1/K2/K3).
  *
  * Driver-side extraction (Drive/IMAP/REST fetch, S4-S7) is out of engine
  * scope — inputs arrive as local CSV paths. Validation gates (V1-V3) fire
  * a pluggable alert hook and never abort the run, matching the
  * reference's alert-and-continue behavior. `runDate` is always a
  * parameter, never current_date(), so runs are reproducible (SURVEY §7).
  *
  * Scale posture: every transform is a narrow, codegen'd projection/filter
  * — no shuffles anywhere in these pipelines (the only wide ops in the
  * engine are Tier-B queries). Sinks partition by crawl_date so the
  * warehouse prunes partitions at read, and the dual-sink fork caches the
  * cleaned frame once rather than recomputing the scan per sink.
  */
object Pipelines {

  /** Alert hook (reference: Teams webhook, K4). Injected, never built-in
    * HTTP — quirk Q3's missing-import bug becomes unrepresentable. */
  type Alert = String => Unit
  val noopAlert: Alert = _ => ()

  // --------------------------------------------------------------- sources

  /** Declared types of the export columns, keyed by header name: the
    * types schema inference gives on every reference-shaped export.
    * Every other column, a crawler's custom-extraction columns included,
    * reads as string. A cell that does not parse as its column's type
    * reads as null, so one bad day cannot turn a numeric column into a
    * string column in the append-history tables. */
  val SourceTypes: Map[String, DataType] = (
    Seq("Status Code", "Size (bytes)", "Word Count", "Sentence Count",
      "Crawl Depth", "Unique Inlinks", "Unique Outlinks",
      "Days Since Last Crawled", "number_of_deals 1", "Clicks",
      "Impressions", "Occurrences", "Ahrefs Backlinks - Exact",
      "Ahrefs RefDomains - Exact").map(_ -> IntegerType) ++
    Seq("Average Words Per Sentence", "Flesch Reading Ease Score",
      "Text Ratio", "Link Score", "CTR", "Position",
      "Ahrefs URL Rating - Exact", "Ahrefs Domain Rating", "Page Rank",
      "Chei Rank").map(_ -> DoubleType) ++
    Seq("Crawl Timestamp", "Last Crawl").map(_ -> TimestampType) ++
    Seq("Follow", "travellogic 1").map(_ -> BooleanType)).toMap

  /** S1: scan of the header CSV file at `path` with [[SourceTypes]]
    * declared: integer counts/status/sizes, double scores/rates/positions,
    * timestamp crawl times, boolean flags, string for every other column. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    readDeclared(spark, path, Map.empty)

  /** S2: delimiter/encoding variant (Midoco: ';' + latin-1), typed like
    * [[readCsv]] (no Midoco column is in [[SourceTypes]]: all strings). */
  def readCsvLatin1(spark: SparkSession, path: String, sep: String = ";"): DataFrame =
    readDeclared(spark, path, Map("sep" -> sep, "encoding" -> "ISO-8859-1"))

  /** The file's header line is read on the driver with the scan's own
    * separator, encoding and quoting, and named by Spark's header rules
    * (empty -> `_c<i>`, duplicates get their index appended); the scan
    * then runs with the declared schema, so a read starts no Spark job
    * and makes no inference pass over the data. */
  private def readDeclared(spark: SparkSession, path: String,
      opts: Map[String, String]): DataFrame = {
    val options = opts + ("header" -> "true")
    val csv = new CSVOptions(options, true,
      spark.conf.get("spark.sql.session.timeZone"))
    val names = CSVUtils.readHeaderLine(new Path(path), csv,
        spark.sparkContext.hadoopConfiguration)
      .map(line => CSVUtils.makeSafeHeader(
        new CsvParser(csv.asParserSettings).parseLine(line),
        spark.conf.get("spark.sql.caseSensitive").toBoolean, csv))
      .getOrElse(Array.empty[String])
    spark.read
      .schema(StructType(names.map(n =>
        StructField(n, SourceTypes.getOrElse(n, StringType)))))
      .options(options).csv(path)
  }

  /** Stamp the run date as the `crawl_date` column, typed `date`: the
    * append tables partition by it, and a `crawl_date=` directory reads
    * back as a date, so the replace tables store the same type and every
    * warehouse table agrees. A malformed `runDate` fails here, on the
    * driver. */
  private def withCrawlDate(runDate: String)(df: DataFrame): DataFrame =
    df.withColumn("crawl_date", lit(java.time.LocalDate.parse(runDate)))

  // ----------------------------------------------------------------- sinks

  /** K1: append-history sink partitioned by crawl_date. */
  def appendDaily(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy("crawl_date").parquet(path)

  /** K2: replace-latest sink. */
  def replaceTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Bucketed warehouse table: co-locates and pre-sorts by the join key so
    * repeated fact-to-fact joins on that key (pages x inlinks on address,
    * snapshots across crawl_date) run with ZERO shuffle — both sides scan
    * already-hash-partitioned buckets. The write pays one shuffle once;
    * every downstream join amortizes it. */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
                    numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key).sortBy(key)
      .format("parquet").saveAsTable(tableName)

  // ------------------------------------------------------------------ E1

  /** S5: the Audisto crawl list arrives as a JSON array of
    * `{id, timestamps: {started}}` records (reference:
    * Audisto/audisto.py:61-82); read it with that schema declared
    * (`id` long, `timestamps.started` string; other fields are not read)
    * and project to (id, crawl_time) with the started-timestamp truncated
    * to a date, exactly like the reference's `pd.to_datetime(...).dt.date`. */
  def readCrawlList(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("id BIGINT, timestamps STRUCT<started: STRING>")
      .option("multiLine", true).json(path)
      .select(col("id"),
        // the reference's exact format first; fall back to Spark's ISO-8601
        // parsing so fractional seconds / +00:00 offsets don't silently
        // null out the day's crawl (try_to_timestamp: a malformed row
        // yields null rather than an ANSI runtime error)
        to_date(coalesce(
          try_to_timestamp(col("timestamps.started"),
            lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
          col("timestamps.started").cast("timestamp"))).as("crawl_time"))

  /** E1 head stage: pick the crawl to extract — the newest crawl started
    * on `runDate`. The reference indexes `.values[0]` on the filtered
    * frame and throws IndexError when no crawl ran that day (quirk Q7);
    * here the empty case fires the alert hook and returns None so the
    * run degrades instead of crashing. The single-row collect is a
    * genuine driver decision point (the id parameterizes the S4 chunk
    * fetch), not a data-path collect. */
  def selectCrawl(crawls: DataFrame, runDate: String,
                  alert: Alert = noopAlert): Option[Long] = {
    val hit = crawls
      .filter(col("crawl_time") === lit(runDate).cast("date"))
      .orderBy(col("id").desc)
      .limit(1).collect()
    if (hit.isEmpty) {
      alert(s"audisto: crawl list has no crawl started on $runDate")
      None
    } else Some(hit.head.getAs[Long]("id"))
  }

  /** Audisto pages pipeline (reference: Audisto/audisto.py:136-167).
    * Chunk CSVs are read as one datasource; repeated per-chunk header rows
    * are filtered (F3), ranks cast (C12), URL decomposed (C1), run date
    * stamped (C7), names normalized (P5/P6). */
  def audisto(raw: DataFrame, runDate: String): DataFrame = {
    val kept = Names.keep(raw, Seq("Url", "Page Rank", "Chei Rank"))
      .filter(col("Url") =!= "Url") // F3: embedded chunk headers
      .withColumn("Page Rank", col("Page Rank").cast("double"))
      .withColumn("Chei Rank", col("Chei Rank").cast("double"))
    val leveled = Urls.withUrlLevels(kept, "Url")
      .transform(withCrawlDate(runDate))
    Names.renamed(Names.normalizeAll(leveled), Map("url" -> "address"))
  }

  // ------------------------------------------------------------------ E2

  /** Screaming Frog HTML pipeline config. */
  case class SiteConfig(
    rootUrl: String = "https://www.example.de/",
    internalRe: String = "https?://www\\.example\\.de.*",
    whitelabelRe: String = "https?://(?!www\\.)[a-zA-Z0-9-]+\\.example\\.de.*",
    pictureExts: Seq[String] = Seq("jpg", "jpeg", "png", "gif", "svg", "webp"))

  /** V2 crawl-sanity gate (reference: sf_html_data.py:95-106): the root
    * page must have status 200; fires the alert and lets the run continue.
    * A filtered count, not `limit(1)`: Spark names a code-generated
    * limit's counter from a JVM-wide sequence, so a limit plan compiles
    * a new class on every call. */
  def homepageGate(df: DataFrame, cfg: SiteConfig, alert: Alert): Boolean = {
    val bad = df.filter(col("Address") === cfg.rootUrl &&
      col("Status Code") =!= 200).count() > 0
    if (bad) alert(s"crawl sanity: root ${cfg.rootUrl} returned non-200")
    !bad
  }

  /** Validation metrics that RIDE the sink's own pass (`df.observe` /
    * CollectMetrics): total rows and gate-predicate hits accumulate while
    * whatever action consumes the frame runs — at 100 TB, a separate
    * `df.filter(bad).count()` gate would re-scan the input; this one is
    * free. Read the `Observation` after the action completes and fire the
    * alert from the metric (see PipelinesSpec).
    *
    * CAVEAT (pinned in PipelinesSpec): an EMPTY input breaks naive
    * metric reads two ways — `sum` metrics over zero rows report
    * NULL (count still reports 0), and a plan Catalyst fully
    * replaces with an empty relation prunes the CollectMetrics node
    * so the Observation reports NO keys at all (the shape
    * `writeJsonlShards` hit on a fully-tombstoned snapshot). Read
    * metrics null-safely with a default —
    * `obs.get.get(key).flatMap(Option(_)).getOrElse(0L)` — a bare
    * `obs.get(key)` throws or NPEs exactly on the empty drop a gate
    * most needs to survive. */
  def observedGate(df: DataFrame, badPredicate: Column)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (df.observe(obs, count(lit(1)).as("n_rows"),
      sum(when(badPredicate, 1L).otherwise(0L)).as("n_bad")), obs)
  }

  private val MetricCols = Seq("Sentence Count", "Average Words Per Sentence",
    "Flesch Reading Ease Score", "Text Ratio")

  /** Keep-regex for the HTML projection (reference: sf_html_data.py:131,
    * with quirk Q5's "Coverage" spelling fixed). */
  private val HtmlKeepRe = ("^(Address|Status Code|Title 1|Meta Description 1|" +
    "H1-1|Meta Robots 1|Canonical Link Element 1|Size \\(bytes\\)|Word Count|" +
    "Sentence Count|Average Words Per Sentence|Flesch Reading Ease Score|" +
    "Readability|Text Ratio|Crawl Depth|Link Score|Unique Inlinks|" +
    "Unique Outlinks|Crawl Timestamp|Last Crawl|URL Inspection API Status|" +
    "Summary|Coverage|Crawled As|Page Fetch|Indexing Allowed|Crawl Allowed|" +
    "User-Declared Canonical|Google-Selected Canonical|Mobile Usability|" +
    "Rich Results|Rich Results Types|Days Since Last Crawled|Redirect URL|" +
    "ibe_integration 1|number_of_deals 1|travellogic 1|ibe_agent_id|doctype|" +
    "website_type|root|directory|page_level[1-4]|crawl_date|content|" +
    "travelogic_agents)$")

  /** Screaming Frog HTML pipeline (reference: sf_html_data.py:109-185).
    * Returns (slim html frame, content frame) — the K3 dual-sink pair.
    * Caller is expected to write slim+content and the content frame both
    * as append-history and replace-latest. */
  def sfHtml(raw: DataFrame, runDate: String,
             cfg: SiteConfig = SiteConfig(),
             alert: Alert = noopAlert): (DataFrame, DataFrame) = {
    homepageGate(raw, cfg, alert) // V2: alert-and-continue

    val contentCols = raw.columns.filter(_.matches("^content-.*"))
    val agentCols = raw.columns.filter(_.matches("^travelogic_agents.*"))

    val derived = Urls.withUrlLevels(raw, "Address")
      // A1: horizontal merge of chunked CMS content columns (an export
      // with no content-* columns yields an empty content column, not an
      // analysis error from zero-arg concat)
      .withColumn("content",
        if (contentCols.isEmpty) lit("")
        else Casts.mergeChunkColumns(contentCols.toSeq.map(col)))
      // A2: skip-null agent concat (quirk Q2 intent: applied to this frame)
      .withColumn("travelogic_agents",
        if (agentCols.isEmpty) lit("")
        else Casts.concatSkipNull(", ", agentCols.toSeq.map(col)))
      // C6: timestamps -> day strings (cast first: the source reads the
      // column as timestamp; cast of a string is a no-op)
      .withColumn("Crawl Timestamp",
        Dates.dayString(col("Crawl Timestamp").cast("string")))
      .withColumn("Last Crawl",
        Dates.dayString(col("Last Crawl").cast("string")))
      // C3 + C2: classification
      .withColumn("doctype", Urls.doctype(col("Address"), cfg.pictureExts))
      .withColumn("website_type", Urls.websiteType(col("Address"),
        cfg.internalRe, cfg.whitelabelRe))
      .transform(withCrawlDate(runDate))

    // C11: fill-null + double cast (intended semantics of quirk Q1)
    val filled = MetricCols.foldLeft(derived) { (d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, Casts.fillDouble(col(c))) else d
    }

    // F2: HTML rows only; P2/P3: regex projection drops content-*/agent-*
    val html = Names.keepMatching(
      filled.filter(col("doctype") === "HTML"), HtmlKeepRe)

    // K3 fork: content frame vs slim frame. Caching belongs to the CALLER
    // (persist before the multi-sink writes, unpersist after — see
    // RunAll): caching here would pin the frame in executor memory with
    // no unpersist hook, leaking across every subsequent pipeline.
    val renamed = Names.renamed(Names.normalizeAll(html),
      Map("size_(bytes)" -> "page_size"))
    val slim = renamed.drop("content")
    val content = Names.keep(renamed, Seq("address", "content", "doctype",
      "website_type", "root", "directory", "crawl_date"))
    (slim, content)
  }

  // ------------------------------------------------------------------ E3

  /** Midoco rename map (reference: Midoco/product_data.py:73-96). */
  private val MidocoRenames = Map(
    "Leistung Anlagedatum" -> "buchungsdatum",
    "CRS (Standard) Reisebeginn" -> "reisebeginn",
    "CRS (Standard) Reiseende" -> "reiseende",
    "CRS (Standard) Stornodatum" -> "stornodatum",
    "Leistung Element Preis" -> "preis",
    "Leistung Initialer Preis" -> "initialer_preis",
    "Auftrag Vermittler (Auftrag)" -> "vermittler",
    "Leistung Abflughafen Beschreibung" -> "abflughafen",
    "Leistung Rückflug Abflughafen Beschreibung" -> "rueckflughafen",
    "Leistung Hotelort" -> "hotelort",
    "Leistung Land Beschreibung" -> "land",
    "Leistung Beschreibung" -> "leistung",
    "Leistung Kategorie" -> "kategorie",
    "Leistungsattribut Wert" -> "attribut_wert",
    "CRS (Standard) ExtId" -> "ext_id",
    "CRS (Standard) Status" -> "status",
    "CRS (Standard) Personenzahl" -> "personenzahl",
    "CRS (Standard) original Buchungsnummer" -> "buchungsnummer")

  /** Midoco booking pipeline (reference: Midoco/product_data.py:56-98):
    * German dates (C5), locale decimals (C9), lead-time (C8), coercing
    * int casts (C10), rename+project (P6/P1). */
  def midoco(raw: DataFrame, runDate: String): DataFrame = {
    val r = Names.renamed(raw, MidocoRenames)
    val dated = Seq("buchungsdatum", "reisebeginn", "reiseende", "stornodatum")
      .foldLeft(r)((d, c) => d.withColumn(c, Dates.parseGermanDate(col(c))))
    dated
      .withColumn("preis", Casts.localeDecimal(col("preis")))
      .withColumn("initialer_preis", Casts.localeDecimal(col("initialer_preis")))
      .withColumn("vorausbuchungstage",
        Dates.daysBetween(col("reisebeginn"), col("buchungsdatum")))
      .withColumn("personenzahl", Casts.coerceLong(col("personenzahl")))
      .withColumn("buchungsnummer", Casts.coerceLong(col("buchungsnummer")))
      .transform(withCrawlDate(runDate))
      .select((MidocoRenames.values.toSeq.sorted ++
        Seq("vorausbuchungstage", "crawl_date")).map(col): _*)
  }

  // ------------------------------------------- sibling Screaming Frog jobs

  /** Link-graph edges (reference: sf_inlink_bulk_data.py:66-104): classify
    * both endpoints (C2), decompose Destination (C1), stamp date; sink is
    * replace (K2, quirk Q6 intent). */
  def inlinks(raw: DataFrame, runDate: String,
              cfg: SiteConfig = SiteConfig()): DataFrame = {
    val classified = raw
      .withColumn("source_type", Urls.websiteType(col("Source"),
        cfg.internalRe, cfg.whitelabelRe))
      .withColumn("destination_type", Urls.websiteType(col("Destination"),
        cfg.internalRe, cfg.whitelabelRe))
    val leveled = Urls.withUrlLevels(classified, "Destination")
      .transform(withCrawlDate(runDate))
    Names.normalizeAll(leveled)
  }

  /** Orphan-URL pipeline (reference: sf_orphan_data.py:63-116): permissive
    * union of GSC and sitemap sources (U2/Q4), doctype + HTML filter
    * (C3/F2), GSC metric fill (C11), URL levels, date stamp. */
  def orphans(gsc: DataFrame, sitemap: DataFrame, runDate: String,
              cfg: SiteConfig = SiteConfig()): DataFrame = {
    val unioned = Unions.unionPermissive(gsc, sitemap)
    val gscMetrics = Seq("Clicks", "Impressions", "CTR", "Position")
    val filled = gscMetrics.foldLeft(unioned) { (d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, Casts.fillDouble(col(c))) else d
    }
    val typed = filled
      .withColumn("doctype", Urls.doctype(col("Address"), cfg.pictureExts))
      .filter(col("doctype") === "HTML")
    Names.normalizeAll(
      Urls.withUrlLevels(typed, "Address").transform(withCrawlDate(runDate)))
  }

  /** Backlink-metrics pipeline (reference: sf_with_backlinkdata.py:66-87). */
  def backlinks(raw: DataFrame, runDate: String,
                cfg: SiteConfig = SiteConfig()): DataFrame = {
    val typed = raw
      .withColumn("doctype", Urls.doctype(col("Address"), cfg.pictureExts))
    Names.normalizeAll(
      Urls.withUrlLevels(typed, "Address").transform(withCrawlDate(runDate)))
  }

  /** Image pipeline (reference: sf_images_data.py:87-171): crawler image
    * rows ∪ picture rows from the HTML table (U1/Q4), drop content chunks
    * (P3), day-string normalize (C6 when present), URL levels, date. */
  def images(crawlerImages: DataFrame, htmlPictures: DataFrame,
             runDate: String): DataFrame = {
    val unioned = Unions.unionPermissive(
      Names.dropMatching(crawlerImages, "^content-.*"),
      htmlPictures)
    val renamed = Names.renamed(Names.normalizeAll(
      Urls.withUrlLevels(unioned, "Address")
        .transform(withCrawlDate(runDate))),
      Map("size_(bytes)" -> "image_size"))
    renamed
  }

  /** Hreflang pipeline (reference: sf_hreflang_data.py:68-88): rename
    * normalization (P5) + date stamp only; both tables replace (K2). */
  def hreflang(raw: DataFrame, runDate: String): DataFrame =
    Names.normalizeAll(raw).transform(withCrawlDate(runDate))
}
