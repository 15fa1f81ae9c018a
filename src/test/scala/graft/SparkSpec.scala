package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** One-column string frame. */
  def strDf(name: String, vals: Seq[Option[String]]): DataFrame =
    vals.toDF(name)

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Descriptions ("" for a job without one) of the Spark jobs started
    * on this thread while `f` runs, its listener events drained before
    * reading. */
  protected def jobsStartedBy(f: => Unit): Seq[String] = {
    val tag = "graft.spec.jobsStartedBy"
    val id = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) == id))
          started.add(Option(e.properties
            .getProperty("spark.job.description")).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, id)
    try f finally {
      sc.setLocalProperty(tag, null)
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    started.toArray(Array.empty[String]).toSeq
  }

  /** Run `f` with SQL confs set, restoring prior values after. */
  protected def withSqlConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
