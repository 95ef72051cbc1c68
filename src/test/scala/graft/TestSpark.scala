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

  /** HotSpot compiles no method of more bytecode than this
    * (`-XX:HugeMethodLimit`, with `DontCompileHugeMethods` on by default):
    * a larger generated method runs in the interpreter for good.
    */
  val HugeMethodLimit = 8000

  /** Every whole-stage codegen stage of the plans `call` executes
    * (checkpoints included), compiled with `CodeGenerator.compile` (via
    * `codegenStringSeq`): its subtree and the bytecode size of its
    * largest method, -1 where it does not compile.
    */
  def codegenMethodSizes(call: => Any): Seq[(String, Int)] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftspec.Bus.drain(sc)
    spark.listenerManager.register(listener)
    try { call; org.apache.spark.graftspec.Bus.drain(sc) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList).flatMap(p =>
      org.apache.spark.sql.execution.debug.codegenStringSeq(p).map {
        case (subtree, _, stats) => (subtree, stats.maxMethodCodeSize)
      })
  }
}
