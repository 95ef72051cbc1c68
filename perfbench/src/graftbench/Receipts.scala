package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one benchmark call. Counts (jobs, stages,
  * tasks, bytes) do not depend on how fast the host is; they are the
  * receipts a later change can cite beside wall time.
  */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  /** Jobs and tasks that ran inside a streaming micro-batch. */
  var batchJobs = 0L
  var batchTasks = 0L
  /** (start, end) of every job, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  def receipt: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "gc_ms" -> gcMs, "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs,
    "input_bytes" -> inputBytes,
    "batch_jobs" -> batchJobs, "batch_tasks" -> batchTasks)
}

/** One streaming micro-batch as the query listener reported it. */
final case class Batch(query: String, batchId: Long, startMs: Long,
    triggerMs: Long, bodyMs: Long, rows: Long)

/** Attributes Spark jobs, stages and tasks to the benchmark call that ran
  * them, through the `graftbench.call` local property the call sets on its
  * thread (inherited by broadcast and stream-execution threads). Also
  * records every micro-batch's progress and every query start.
  */
final class Receipts extends SparkListener {
  private val byKey = new ConcurrentHashMap[String, Counts]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageInBatch = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val jobOpen = new ConcurrentHashMap[Int, (String, Long)]()
  private val batchLog = mutable.ArrayBuffer[Batch]()
  private val queryStarts = mutable.ArrayBuffer[Long]()

  private def counts(key: String): Counts =
    byKey.computeIfAbsent(key, _ => new Counts)

  /** Receipts of `key` (empty when it ran no Spark job). */
  def of(key: String): Counts = Option(byKey.get(key)).getOrElse(new Counts)

  def batches: Seq[Batch] = synchronized(batchLog.toList)
  def starts: Seq[Long] = synchronized(queryStarts.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val key = props.flatMap(p => Option(p.getProperty(Receipts.CallKey)))
      .getOrElse("unattributed")
    val inBatch =
      props.exists(_.getProperty("streaming.sql.batchId") != null)
    val c = counts(key)
    c.synchronized {
      c.jobs += 1
      if (inBatch) c.batchJobs += 1
    }
    e.stageIds.foreach { s =>
      stageKey.put(s, key)
      stageInBatch.put(s, inBatch)
    }
    jobOpen.put(e.jobId, (key, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (key, t0) =>
      val c = counts(key)
      c.synchronized(c.jobIntervals += ((t0, e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { key =>
      val c = counts(key)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { key =>
      val c = counts(key)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (java.lang.Boolean.TRUE == stageInBatch.get(e.stageId))
          c.batchTasks += 1
        if (m != null) {
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  /** The streaming side: progress of every micro-batch that read input. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Receipts.this.synchronized(
        queryStarts += java.time.Instant.parse(e.timestamp).toEpochMilli)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (d.containsKey("addBatch")) Receipts.this.synchronized {
        batchLog += Batch(Option(p.name).getOrElse(p.id.toString),
          p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          d.get("triggerExecution"), d.get("addBatch"), p.numInputRows)
      }
    }
  }
}

object Receipts {
  val CallKey = "graftbench.call"
}

/** A traced interval: a pass, a call into one module, a micro-batch or a
  * Spark job. Times are epoch microseconds; `parent` is 0 for a root.
  */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long,
    parent: Int, pass: Int)

/** Everything measured about one call of the benchmark into the program. */
final case class Call(name: String, pass: Int, startUs: Long, endUs: Long,
    driverCpuNs: Long, counts: Counts, batches: Seq[Batch], queryStartsMs: Seq[Long],
    cachedPartitions: Long, cachedBytes: Long, fsBytesRead: Long) {
  def wallS: Double = (endUs - startUs) / 1e6

  /** CPU time of the work itself: the Spark tasks plus the calling thread.
    * Background threads (JIT compiler, GC, listener bus) are left out:
    * their share depends on how far the JVM has warmed up and on the host.
    */
  def cpuS: Double = (driverCpuNs + counts.cpuNs) / 1e9

  /** Wall time not covered by any Spark job of this call: planning,
    * collects and driver-side loops.
    */
  def driverS: Double = {
    val iv = counts.jobIntervals.map { case (a, b) =>
      (math.max(a * 1000L, startUs), math.min(b * 1000L, endUs))
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, endUs - startUs - covered) / 1e6
  }
}
