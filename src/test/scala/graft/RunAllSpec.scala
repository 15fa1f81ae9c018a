package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.pipelines.RunAll

/** The daily tick end to end: two `RunAll.run` ticks over the shipped
  * reference-shaped CSVs into one warehouse — append tables grow by
  * one `crawl_date` partition a tick, replace tables keep only the
  * latest tick. */
class RunAllSpec extends SparkSpec {

  private val appendTables = Seq("audisto_pages", "html_slim",
    "content_history", "bookings", "orphans", "backlinks", "images")
  private val replaceTables = Seq("content_current", "inlinks",
    "hreflang_missing", "hreflang_non200")
  // both dates have a crawl in audisto_crawls_list.json
  private val (day1, day2) = ("2024-04-30", "2024-05-01")

  test("two ticks: 11 tables, one partition per tick on append tables, " +
      "latest tick only on replace tables, html pictures in images") {
    val wh = java.nio.file.Files.createTempDirectory("graft-runall")
      .toString
    def partitions(table: String): Set[String] =
      new java.io.File(s"$wh/$table").list()
        .filter(_.startsWith("crawl_date=")).toSet
    def count(table: String, day: String): Long =
      spark.read.parquet(s"$wh/$table")
        .where(col("crawl_date") === day).count()

    assert(RunAll.run(spark, "src/test/resources", wh, day1).isEmpty)
    val tick1Replace = replaceTables.map(t => t -> count(t, day1)).toMap
    appendTables.foreach { t =>
      assert(partitions(t) === Set(s"crawl_date=$day1"), t)
    }
    assert(RunAll.run(spark, "src/test/resources", wh, day2).isEmpty)

    assert(new java.io.File(wh).list().toSet ===
      (appendTables ++ replaceTables).toSet)
    appendTables.foreach { t =>
      assert(partitions(t) ===
        Set(s"crawl_date=$day1", s"crawl_date=$day2"), t)
      assert(count(t, day2) > 0, t)
      assert(count(t, day1) === count(t, day2), t)
    }
    replaceTables.foreach { t =>
      val days = spark.read.parquet(s"$wh/$t").select("crawl_date")
        .distinct().collect().map(_.getDate(0).toString).toSeq
      assert(days === Seq(day2), t)
      assert(count(t, day2) === tick1Replace(t), t)
      assert(tick1Replace(t) > 0, t)
    }

    // images = the 2 crawler image rows ∪ the 1 Picture row of the raw
    // html export (strand.jpg sits in both exports)
    val images = spark.read.parquet(s"$wh/images")
      .where(col("crawl_date") === day2)
    assert(images.count() === 3L)
    assert(images.where(col("address") ===
      "https://www.example.de/media/strand.jpg").count() === 2L)
  }

  test("crawl_date is one type, date, in all 11 tables") {
    val wh = java.nio.file.Files.createTempDirectory("graft-crawl-date")
      .toString
    assert(RunAll.run(spark, "src/test/resources", wh, day1).isEmpty)
    val tables = appendTables ++ replaceTables
    val types = tables.map { t =>
      t -> spark.read.parquet(s"$wh/$t").schema("crawl_date").dataType
    }.toMap
    assert(types.values.toSet ===
      Set(org.apache.spark.sql.types.DateType), types)
    // a grouped read hands back the same value from every table
    tables.foreach { t =>
      val days = spark.read.parquet(s"$wh/$t").groupBy("crawl_date").count()
        .collect().map(_.getDate(0).toString).toSeq
      assert(days === Seq(day1), t)
    }
  }

  test("schema drift: a day with empty or junk numeric cells appends " +
      "with the declared types, and both partitions read back") {
    // day 2: the shipped inputs, but `Word Count` empty on every row and
    // `Status Code` junk on one non-root row of internal_html.csv — under
    // schema inference both columns read as string that day
    val base = java.nio.file.Paths.get("src/test/resources")
    val day2In = java.nio.file.Files.createTempDirectory("graft-drift-in")
    new java.io.File(base.toString).list().foreach { f =>
      java.nio.file.Files.copy(base.resolve(f), day2In.resolve(f))
    }
    val html = day2In.resolve("internal_html.csv")
    val header +: rows =
      java.nio.file.Files.readAllLines(html).asScala.toSeq
    val split = ",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)" // commas outside quotes
    val names = header.split(split, -1).toSeq
    val (status, words) =
      (names.indexOf("Status Code"), names.indexOf("Word Count"))
    java.nio.file.Files.write(html, (header +: rows.zipWithIndex.map {
      case (row, i) =>
        val cells = row.split(split, -1)
        cells(words) = ""
        if (i == 1) cells(status) = "n/a"
        cells.mkString(",")
    }).asJava)

    val wh = java.nio.file.Files.createTempDirectory("graft-drift").toString
    assert(RunAll.run(spark, base.toString, wh, day1).isEmpty)
    assert(RunAll.run(spark, day2In.toString, wh, day2).isEmpty)

    val slim = spark.read.parquet(s"$wh/html_slim")
    assert(slim.schema("word_count").dataType.typeName === "integer")
    assert(slim.schema("status_code").dataType.typeName === "integer")
    Seq(day1, day2).foreach { d =>
      val part = spark.read.parquet(s"$wh/html_slim/crawl_date=$d")
      assert(part.schema("word_count").dataType.typeName === "integer", d)
      assert(part.schema("status_code").dataType.typeName === "integer", d)
    }
    // rows, non-null word counts, non-null status codes per day
    val byDay = slim.groupBy(col("crawl_date").cast("string"))
      .agg(count(lit(1)), count("word_count"), count("status_code"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byDay === Map(day1 -> (6L, 6L, 6L), day2 -> (6L, 0L, 5L)))
  }
}
