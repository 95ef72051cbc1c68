package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One measured pass. */
final case class PassRecord(id: Int, traced: Boolean, calls: Seq[Call],
    out: PassOut, ops: Int, failedOps: Int, gcS: Double, persistedRdds: Int,
    storageBytes: Long, liveHeapMb: Double) {
  def wallS: Double = calls.map(_.wallS).sum
  def cpuS: Double = calls.map(_.cpuS).sum
  def named(n: String): Seq[Call] = calls.filter(_.name == n)
}

/** Benchmark driver: one workload, one seed, one process.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --out DIR
  *
  * Writes `result.json` (the one-line result), `artifact.json` (config,
  * sizes, per-pass receipts and checks) and, when traced, `spans.jsonl`.
  */
object Main {
  val SetupRepeats = 3
  val MinPasses = 2
  /** Passes stop once the run has spent this long, whatever `--seconds`. */
  val RunBudgetS = 120.0

  private val t0Nanos = System.nanoTime()
  private val epochUs = System.currentTimeMillis() * 1000L
  private def elapsedS: Double = (System.nanoTime() - t0Nanos) / 1e9

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[graftbench] $elapsedS%7.2f $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opt("workload")).getOrElse(
      sys.error(s"unknown workload ${opt("workload")}; have ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val out = Paths.get(opt("out"))
    val tmp = out.resolve("tmp")
    Files.createDirectories(tmp.resolve("data"))
    System.exit(run(wl, seed, seconds, tracing, out, tmp))
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def conf(tmp: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.sql.shuffle.partitions" -> nproc.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.driver.maxResultSize" -> "2g",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.local.dir" -> tmp.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> tmp.resolve("warehouse").toString,
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true")

  def session(tmp: Path): SparkSession = {
    val spark = conf(tmp).foldLeft(SparkSession.builder().appName("graftbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def newCtx(spark: SparkSession, r: Receipts): Ctx = {
    spark.streams.addListener(r.streams)
    new Ctx(spark, r, epochUs, t0Nanos)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Fixed CPU (hashing) and shuffle (65k-group aggregate) probe sized to
    * the core count: the same work per core on any host, so its time shows
    * how fast this host window is. Median of three.
    */
  def hostProbe(spark: SparkSession): Double = median((1 to 3).map { _ =>
    val t = System.nanoTime()
    spark.range(0L, nproc * 200000L, 1L, nproc * 2)
      .select((col("id") % 65537).as("k"),
        pmod(xxhash64(col("id")), lit(1000003L)).as("h"))
      .groupBy("k").agg(sum(col("h")).as("s"))
      .agg(sum(col("s"))).head()
    (System.nanoTime() - t) / 1e9
  })

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** What a pass left behind once its own handles were released, then a
    * clean slate for the next pass: (persisted RDDs, storage bytes, live
    * heap MB after GC). Warm-up passes (`measure` false) only get the
    * clean slate.
    */
  def settle(spark: SparkSession, measure: Boolean): (Int, Long, Double) = {
    val sc = spark.sparkContext
    if (measure) {
      // let the context cleaner free what only garbage still references
      System.gc()
      Thread.sleep(100)
    }
    Bus.drain(sc)
    val persisted = sc.getPersistentRDDs
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val n = persisted.size
    persisted.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    (n, bytes, heap)
  }

  /** Run one pass (or probe) `body` attempting `ops`, then settle. */
  def runPass(ctx: Ctx, ops: Seq[String], id: Int, traced: Boolean)(
      body: => PassOut): PassRecord = {
    ctx.beginPass(id, traced)
    val n0 = ctx.calls.size
    val gc0 = gcSeconds()
    val passOut = try body catch {
      case e: Throwable =>
        log(s"pass $id failed: $e")
        e.printStackTrace()
        PassOut(ops.map(op => Check(op, ok = false, s"exception: $e")))
    }
    val gc = gcSeconds() - gc0
    ctx.endPass()
    val calls = ctx.calls.drop(n0).toSeq
    log(s"pass $id checked")
    val (rdds, bytes, heap) = settle(ctx.spark, measure = id >= 0)
    val failed = passOut.checks.filterNot(_.ok).map(_.op).distinct.size +
      (ops.size - passOut.checks.map(_.op).distinct.size).max(0)
    passOut.checks.filterNot(_.ok).foreach(c =>
      log(s"CHECK FAILED pass $id ${c.op}: ${c.detail}"))
    PassRecord(id, traced, calls, passOut, ops.size, failed, gc, rdds,
      bytes, heap)
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def run(wl: Workload, seed: Long, seconds: Double, tracing: Boolean,
      out: Path, tmp: Path): Int = {
    val data = tmp.resolve("data")
    val tIn = System.nanoTime()
    val inputs = wl.prepare(data, seed)
    val inputsS = (System.nanoTime() - tIn) / 1e9
    log(f"${wl.name} seed=$seed inputs ${inputs.sizes} in $inputsS%.2f s")

    // set-up: a fresh session and a first pass, repeated; the first also
    // starts Spark and meets a cold JVM. The last session stays up for the
    // measured passes.
    var spark: SparkSession = null
    var ctx: Ctx = null
    val receipts = new Receipts
    val warmups = mutable.ArrayBuffer[PassRecord]()
    val setups = (1 to SetupRepeats).map { i =>
      log(s"set-up $i")
      val t = System.nanoTime()
      spark =
        if (spark == null) {
          val s = session(tmp)
          s.sparkContext.addSparkListener(receipts)
          s
        } else spark.newSession()
      ctx = newCtx(spark, receipts)
      val sessionS = (System.nanoTime() - t) / 1e9
      val w = runPass(ctx, inputs.ops, -i, traced = false)(inputs.pass(ctx))
      warmups += w
      sessionS + w.wallS
    }
    val probeS = hostProbe(spark)
    log(f"set-up ${setups.map(s => f"$s%.3f").mkString(" ")} s; host probe $probeS%.3f s")

    val passes = mutable.ArrayBuffer[PassRecord]()
    var timed = 0.0
    val minPasses = if (tracing) MinPasses + 1 else MinPasses
    while ((timed < seconds || passes.size < minPasses) && elapsedS < RunBudgetS) {
      val id = passes.size
      // traced runs alternate untraced and traced passes, so the two
      // medians give the tracing overhead
      val rec = runPass(ctx, inputs.ops, id, traced = tracing && id % 2 == 1)(
        inputs.pass(ctx))
      passes += rec
      timed += rec.wallS
      log(f"pass $id ${if (rec.traced) "traced" else "untraced"} ${rec.wallS}%.3f s " +
        rec.calls.map(c => f"${c.name}=${c.wallS}%.3f").mkString(" "))
    }
    // traced runs: stand-alone layer calls, twice; the first run warms
    // their code, the second is measured
    val probes =
      if (!tracing) Nil
      else Seq(-99, -100).map(id =>
        runPass(ctx, inputs.probeOps, id, traced = id == -100)(inputs.probe(ctx)))
    log("stopping")
    spark.stop()
    val peak = peakRssMb()

    val all = warmups.toSeq ++ passes ++ probes
    val attempted = all.map(_.ops).sum
    val failed = all.map(_.failedOps).sum
    val measured = passes.filter(_.traced == tracing).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!tracing) Seq(
        ("setup_s", median(setups), "s"),
        ("pass_cpu_s", median(measured.map(_.cpuS)), "s"))
      else Layers.metrics(inputs, measured, passes.filterNot(_.traced).toSeq,
        probes.last, probeS, peak, attempted, failed)
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)

    val art = artifact(wl.name, seed, seconds, tracing, conf(tmp),
      inputs, setups, inputsS, probeS, peak, passes.toSeq, warmups.toSeq,
      probes, metrics)
    Files.write(out.resolve("artifact.json"), json.writeValueAsBytes(art))
    if (tracing) Files.write(out.resolve("spans.jsonl"),
      ctx.spans.map(json.writeValueAsString).asJava, StandardCharsets.UTF_8)
    Files.write(out.resolve("result.json"), json.writeValueAsBytes(result))
    log(f"${wl.name} seed=$seed passes=${passes.size} " +
      f"pass_s=${median(measured.map(_.wallS))}%.3f setup_s=${median(setups)}%.3f " +
      f"host.probe_s=$probeS%.3f failed=$failed/$attempted")
    0
  }

  /** The artifact: everything needed to read a run without re-running it. */
  def artifact(workload: String, seed: Long, seconds: Double, tracing: Boolean,
      conf: Seq[(String, String)], inputs: Prepared,
      setups: Seq[Double], inputsS: Double, probeS: Double, peak: Double,
      passes: Seq[PassRecord], warmups: Seq[PassRecord], probes: Seq[PassRecord],
      metrics: Seq[(String, Double, String)]): Map[String, Any] = {
    def callJson(c: Call) = Map("name" -> c.name, "wall_s" -> c.wallS,
      "cpu_s" -> c.cpuS,
      "driver_s" -> c.driverS, "cached_partitions" -> c.cachedPartitions,
      "cached_bytes" -> c.cachedBytes, "fs_bytes_read" -> c.fsBytesRead,
      "receipt" -> c.counts.receipt,
      "batches" -> c.batches.map(b => Map("query" -> b.query,
        "batch" -> b.batchId, "trigger_ms" -> b.triggerMs,
        "body_ms" -> b.bodyMs, "rows" -> b.rows)))
    def passJson(p: PassRecord) = Map("pass" -> p.id, "traced" -> p.traced,
      "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "failed_ops" -> p.failedOps,
      "after_pass" -> Map("persisted_rdds" -> p.persistedRdds,
        "storage_bytes" -> p.storageBytes, "live_heap_mb" -> p.liveHeapMb),
      "checks" -> p.out.checks.map(c => Map("op" -> c.op, "ok" -> c.ok,
        "detail" -> c.detail)),
      "values" -> p.out.values, "calls" -> p.calls.map(callJson))
    // window-independent receipts: per call name, do the counts of every
    // measured pass agree exactly?
    val names = passes.flatMap(_.calls.map(_.name)).distinct
    val repeat = names.map { n =>
      val rs = passes.flatMap(_.named(n)).map(_.counts.receipt.view
        .filterKeys(k => !Set("gc_ms", "task_run_ms", "task_cpu_ns").contains(k)).toMap)
      n -> Map("passes" -> rs.size, "identical" -> (rs.distinct.size <= 1),
        "receipt" -> rs.headOption.getOrElse(Map.empty))
    }.toMap
    Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> tracing, "nproc" -> nproc,
      "java" -> System.getProperty("java.version"),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_conf" -> conf.toMap, "sizes" -> inputs.sizes,
      "inputs_s" -> inputsS,
      "setup_s" -> setups, "host_probe_s" -> probeS, "peak_rss_mb" -> peak,
      "receipts_repeat" -> repeat, "metrics" -> metrics.map {
        case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "passes" -> passes.map(passJson), "warmups" -> warmups.map(passJson),
      "probes" -> probes.map(passJson))
  }
}
