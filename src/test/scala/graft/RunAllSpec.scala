package graft

import org.apache.spark.sql.functions._
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
        .distinct().collect().map(_.getString(0)).toSeq
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
}
