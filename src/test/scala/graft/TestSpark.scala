package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"

  /** Spark jobs `call` starts. */
  def jobsOf(call: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    try { call; org.apache.spark.graftspec.Bus.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }
}
