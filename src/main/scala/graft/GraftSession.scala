package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every entry point runs in: `local[n]` with
  * n = `SPARK_GRAFT_CPUS` (default 4) and as many shuffle partitions,
  * plus the harness confs the Verify/Bench contract fixes.
  * The `spark.graft.*` confs are read only by [[SparkEntry.t]], and
  * nanosAsLong only changes how TIMESTAMP(NANOS) parquet columns read,
  * so the same shape is inert for the pipeline and streaming entry
  * points. */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS): read as long, SparkEntry.t
      // truncates ns -> us like DuckDB
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixture parquet is one row group -> one scan partition; opt in to
      // the round-robin spread in SparkEntry.t (library default: off)
      .config("spark.graft.widenReads", "true")
      .config("spark.graft.cacheTables", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
