package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** Outcome of one output check; `op` names the checked operation. */
final case class Check(op: String, ok: Boolean, detail: String)

/** Timing and receipts context of one Spark session. Every call the
  * benchmark makes into the program goes through [[call]]: it is timed,
  * its Spark jobs are attributed to it, and — in a traced pass — it is
  * recorded as a span with its jobs and micro-batches as children.
  */
final class Ctx(val spark: SparkSession, val receipts: Receipts,
    epochUs: Long, nanos0: Long) {
  val calls = mutable.ArrayBuffer[Call]()
  val spans = mutable.ArrayBuffer[Span]()
  /** Pass id the next calls belong to; negative for warm-up and probes. */
  var pass = 0
  /** Whether calls of the current pass are recorded as spans. */
  var traced = false
  private var passSpan = 0
  private var nextSpan = 1

  def nowUs: Long = epochUs + (System.nanoTime() - nanos0) / 1000L

  private def newSpan(name: String, a: Long, b: Long, parent: Int): Int = {
    val id = nextSpan
    nextSpan += 1
    spans += Span(id, name, a, b, parent, pass)
    id
  }

  /** Open the root span of a traced pass (closed by [[endPass]]). */
  def beginPass(id: Int, tracedPass: Boolean): Unit = {
    pass = id
    traced = tracedPass
    passSpan = if (traced) newSpan("pass", nowUs, 0L, 0) else 0
  }

  def endPass(): Unit = {
    if (passSpan != 0) {
      val i = spans.lastIndexWhere(_.id == passSpan)
      spans(i) = spans(i).copy(endUs = nowUs)
    }
    passSpan = 0
    traced = false
  }

  private def storage(): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum)
  }

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesRead).sum

  /** Run `body` as one call into the program named `name`. */
  def call[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val key = s"$pass/$name"
    Bus.drain(sc)
    val (nb, ns) = (receipts.batches.size, receipts.starts.size)
    val (parts0, bytes0) = storage()
    val fs0 = fsBytesRead()
    sc.setLocalProperty(Receipts.CallKey, key)
    val cpu0 = Ctx.threadCpuNanos()
    val t0 = nowUs
    val r = try body finally sc.setLocalProperty(Receipts.CallKey, null)
    val t1 = nowUs
    val driverCpuNs = Ctx.threadCpuNanos() - cpu0
    Bus.drain(sc)
    val (parts1, bytes1) = storage()
    val c = Call(name, pass, t0, t1, driverCpuNs, receipts.of(key),
      receipts.batches.drop(nb), receipts.starts.drop(ns),
      parts1 - parts0, bytes1 - bytes0, fsBytesRead() - fs0)
    calls += c
    if (traced) {
      val id = newSpan(name, t0, t1, passSpan)
      val batchSpans = c.batches.map { b =>
        val a = b.startMs * 1000L
        (a, a + b.triggerMs * 1000L,
          newSpan(s"$name.batch", a, a + b.triggerMs * 1000L, id))
      }
      c.counts.jobIntervals.foreach { case (a, b) =>
        val (ua, ub) = (a * 1000L, b * 1000L)
        val parent = batchSpans.find { case (ba, bb, _) => ua >= ba && ua <= bb }
          .map(_._3).getOrElse(id)
        newSpan("spark.job", ua, ub, parent)
      }
    }
    r
  }
}

object Ctx {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the calling thread: planning, collects, driver loops. */
  def threadCpuNanos(): Long = threads.getCurrentThreadCpuTime
}
