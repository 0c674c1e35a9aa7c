package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <alert-stream|alert-backfill> --seed <n>
  *     --seconds <s> --trace <0|1> --root <checkout>
  *
  * Sets up three times (session, warmup, input generation) and keeps the
  * last, runs the workload, checks every alert against the generated
  * lifecycles, and prints a detail line and then the result line. With
  * `--trace 1` the measured window's second part is traced and the
  * per-layer metrics replace the end-to-end ones; spans and listener
  * events go to `.bench_out/`. */
object Main {

  final case class Args(workload: Workload, workloadName: String, seed: Long,
      seconds: Int, traced: Boolean, root: File)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = need("workload")
    val w = name match {
      case "alert-stream" => AlertStream
      case "alert-backfill" => AlertBackfill
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Args(w, name, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(kv.getOrElse("root", ".")).getAbsoluteFile)
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  val SetupRepeats = 3

  def run(a: Args): Int = {
    val build = new File(a.root, ".bench_build")
    val outDir = new File(a.root, ".bench_out")
    outDir.mkdirs()
    val localDir = new File(build, "spark-local")
    localDir.mkdirs()
    val runDir = new File(build, s"run-${ProcessHandle.current().pid()}")
    val w = a.workload

    // set-up, repeated: the first includes JVM start, all include a new
    // session, a warmup pass through the pipeline and input generation
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var in: Inputs = null
    val setupS = (1 to SetupRepeats).map { rep =>
      val t = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Profile.session(localDir.getAbsolutePath)
      warmup(spark, new File(runDir, s"warmup-$rep"))
      in = w.inputs(a.seed, a.seconds)
      System.gc()
      val s = (System.nanoTime() - t) / 1e9
      if (rep == 1) math.max(s, (System.currentTimeMillis() - jvmStartMs) / 1e3) else s
    }
    val inputHash = hashInputs(in)

    val trace = new Trace
    if (a.traced) {
      spark.streams.addListener(trace.queryListener)
      spark.sparkContext.addSparkListener(trace.sparkListener)
    }
    val stat0 = Main.cpuTicks()
    val m = w.measure(spark, in, a.seconds, new File(runDir, "measure"), trace, a.traced)
    val expected = Expected.alerts(in.log, w.timing)
    val check = Check(expected, m.pipeline.sink.arrivals.asScala.toSeq)

    // alert latency from the time the alert became due, per phase
    val latency = Map(1 -> collection.mutable.ArrayBuffer.empty[Double],
      2 -> collection.mutable.ArrayBuffer.empty[Double])
    expected.foreach { e =>
      val ph = m.phaseOf(e.due)
      if (ph > 0) check.firstArrival.get(e.messageId).foreach { at =>
        latency(ph) += (at - m.dueNs(e.due)) / 1e6
      }
    }
    if (latency(1).isEmpty) m.invalid += "no alert became due in the measured window"

    def triggerP50(q: org.apache.spark.sql.streaming.StreamingQuery) = {
      val ts = q.recentProgress.map(_.durationMs.get("triggerExecution").doubleValue)
      if (ts.isEmpty) Double.NaN else Stats.median(ts.toSeq)
    }
    val diag = Map(
      "chunk_rates" -> m.chunkRates.map(r => math.round(r)),
      "cpu_steal_pct" -> Main.stealPct(stat0),
      "gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum,
      "consumer_trigger_ms_p50" -> triggerP50(m.pipeline.consumer),
      "producer_trigger_ms_p50" -> triggerP50(m.pipeline.producer))
    val avro = if (a.traced) Some(AvroProbe.run(spark, trace)) else None
    val conf = Profile.nonDefaultConf(spark)
    m.pipeline.stop()
    Pipeline.delete(runDir)
    val rssMb = peakRssMb()

    val lat1 = latency(1).toArray
    val tail1 = if (lat1.nonEmpty) Stats.tail(lat1) else Stats.Tail(0, Double.NaN, 0)
    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setupS) -> "s"),
      "heap_live_mb" -> (m.liveHeapMb -> "MB"),
      "alert_latency_p50_ms" -> ((if (lat1.nonEmpty) Stats.median(lat1.toSeq) else Double.NaN) -> "ms"),
      "events_per_s" -> (m.eventsPerS.getOrElse(1, Double.NaN) -> "1/s"))
    val perLayer: Map[String, (Double, String)] =
      if (a.traced) Layers.metrics(a, m, trace, latency, check, avro.get) else Map.empty
    val metrics = if (a.traced) perLayer else endToEnd
    val correct = check.failed == 0 && m.invalid.isEmpty

    // the end-to-end figures that carry no bound: VmHWM follows the
    // collector's heap sizing, the error rate is 0 when correct, and the
    // tail is read off few chunks on the closed loop
    val report = rendered(endToEnd ++ Map(
      "peak_rss_mb" -> (rssMb -> "MB"),
      "error_rate" -> (check.failed.toDouble / math.max(1, expected.length) -> "1"),
      s"alert_latency_p${tail1.percentile}_ms" -> (tail1.value -> "ms"))) ++
      Map("alert_latency_samples" -> tail1.count)
    val detail = Map(
      "report" -> report,
      "workload" -> a.workloadName, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.traced, "input_sha256" -> inputHash, "input_events" -> in.log.n,
      "valid" -> m.invalid.isEmpty, "invalid_reasons" -> m.invalid.toList,
      "expected_alerts" -> expected.length, "missing" -> check.missing,
      "duplicate" -> check.duplicate, "spurious" -> check.spurious, "wrong" -> check.wrong,
      "setup_s_each" -> setupS, "cpus" -> Profile.cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "diagnostics" -> diag, "sql_conf" -> conf)
    val result = Map("correct" -> correct, "attempted" -> math.max(1, expected.length),
      "failed" -> check.failed,
      "metrics" -> rendered(metrics))

    val tag = s"${a.workloadName}-seed${a.seed}-trace${if (a.traced) 1 else 0}"
    write(new File(outDir, s"result-$tag.json"), Json.render(detail ++ Map("result" -> result)))
    if (a.traced) write(new File(outDir, s"trace-$tag.json"), Json.render(Map(
      "workload" -> a.workloadName, "seed" -> a.seed, "input_sha256" -> inputHash,
      "metrics" -> rendered(perLayer),
      "self_ms" -> trace.selfMs, "spans" -> trace.spansJson,
      "progress" -> trace.progressJson)))
    spark.stop()
    println("perfbench " + Json.render(detail))
    println(Json.render(result))
    0
  }

  def rendered(ms: Map[String, (Double, String)]): Map[String, Any] =
    ms.map { case (k, (v, u)) => k -> Map[String, Any]("value" -> v, "unit" -> u) }

  val WarmupChunk = 10000

  /** A short closed-loop pass through the whole pipeline, so the timed
    * run starts with code generated and classes loaded. */
  def warmup(spark: SparkSession, dir: File): Unit = {
    val gen = new Lifecycles(99L, AlertBackfill.EventsPerS, Timing.Scaled, 1700000000000L)
    val log = new EventLog
    gen.emitCount(log, 2 * WarmupChunk)
    val p = new Pipeline(spark, dir, Timing.Scaled, new Trace)
    try {
      Seq(0 until WarmupChunk, WarmupChunk until 2 * WarmupChunk).foreach { r =>
        p.send(r.map(gen.message(log, _))); p.drain()
      }
    } finally p.stop()
  }

  def hashInputs(in: Inputs): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(64)
    (0 until in.log.n).foreach { i =>
      val m = in.gen.message(in.log, i)
      buf.clear()
      buf.putLong(m.timestamp).putLong(m.phoneNumber).put(if (in.log.delivered(i)) 1.toByte else 0.toByte)
      md.update(buf.array(), 0, buf.position())
      md.update(m.messageId.getBytes("UTF-8"))
      md.update(m.carrier.getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } finally f.close()
  }

  /** Share of CPU time the hypervisor withheld since `from`, in percent. */
  def stealPct(from: (Long, Long)): Double = {
    val (s, t) = cpuTicks()
    100.0 * (s - from._1) / math.max(1L, t - from._2)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def write(f: File, s: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/** Received alerts checked against the expected set. */
final case class Check(missing: Int, duplicate: Int, spurious: Int, wrong: Int,
    firstArrival: Map[String, Long]) {
  def failed: Int = missing + duplicate + spurious + wrong
}

object Check {
  def apply(expected: Array[Expected.Alert], arrivals: Seq[Arrival]): Check = {
    val byId = arrivals.groupBy(_.messageId)
    val want = expected.map(e => e.messageId -> e).toMap
    val missing = expected.count(e => !byId.contains(e.messageId))
    val duplicate = byId.values.map(_.size - 1).sum
    val spurious = byId.keys.count(k => !want.contains(k))
    val wrong = byId.count { case (k, as) =>
      want.get(k).exists(e => as.exists(a => a.sentTime != e.sentTime || a.deadline != e.deadline))
    }
    Check(missing, duplicate, spurious, wrong, byId.map { case (k, as) => k -> as.map(_.atNs).min })
  }
}
