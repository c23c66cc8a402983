package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per test JVM (warehouse in a temp dir). */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark

  def sql(q: String): DataFrame = spark.sql(q)

  /** Order-insensitive full-content compare on a named column list. */
  def assertRows(df: DataFrame, cols: Seq[String], expected: Set[Seq[Any]]): Unit = {
    val actual = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(r => (0 until r.length).map(i => r.get(i)).toSeq).toSet
    assert(actual == expected,
      s"\nactual:\n  ${actual.toSeq.map(_.mkString(",")).sorted.mkString("\n  ")}" +
        s"\nexpected:\n  ${expected.toSeq.map(_.mkString(",")).sorted.mkString("\n  ")}")
  }

  /** Jobs started while `body` runs. Every job-start event is posted
    * before a blocking action returns, so once the listener bus drains
    * the count is final. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graftshim.GraftSqlBridge.waitListenerBusEmpty(sc, 30000L)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftshim.GraftSqlBridge.waitListenerBusEmpty(sc, 30000L)
      counter.get()
    } finally sc.removeSparkListener(listener)
  }

  def countAndSum(table: String, sumCol: String = "c1"): (Long, Long) = {
    val r = sql(s"SELECT count(*), sum($sumCol) FROM $table").collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
