package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.streaming.MessageStatus

/** Generated input of one run: the event log and the lifecycles behind it. */
final class Inputs(val gen: Lifecycles, val log: EventLog)

/** What a workload measured. Phase 1 is the untraced measured window;
  * in a traced run the window's second part is phase 2, traced. */
final class Measured(val pipeline: Pipeline) {
  /** Wall-clock time (nanoTime) at which event i was due to be sent. */
  var dueNs: Int => Long = _ => 0L
  /** Measured phase of an alert made due by event i (0: not timed). */
  var phaseOf: Int => Int = _ => 0
  val eventsPerS = scala.collection.mutable.Map.empty[Int, Double]
  /** How late the generator handed events over, in ms, per phase: one
    * sample per event on the open loop, per chunk on the closed loop. */
  val lateMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Double]]
  /** Events handed over, per phase. */
  val handed = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
  /** (elapsed ms, handed-over events, broker size, consumer end offset). */
  val backlog = ArrayBuffer.empty[(Double, Long, Long, Long)]
  val invalid = ArrayBuffer.empty[String]
  /** Consumer batch ids of the traced phase, inclusive. */
  var tracedBatches: (Long, Long) = (Long.MaxValue, Long.MinValue)
  var producerTracedBatches: (Long, Long) = (Long.MaxValue, Long.MinValue)
  /** Run start and the traced phase's bounds, as nanoTime. */
  var startNs = 0L
  var tracedSinceNs = Long.MaxValue
  var tracedUntilNs = Long.MinValue

  def startTrace(trace: Trace): Unit = {
    tracedBatches = (batchOf(pipeline.consumer) + 1, Long.MaxValue)
    producerTracedBatches = (batchOf(pipeline.producer) + 1, Long.MaxValue)
    tracedSinceNs = System.nanoTime()
    trace.on = true
  }

  def stopTrace(trace: Trace): Unit = if (trace.on) {
    trace.on = false
    tracedUntilNs = System.nanoTime()
    tracedBatches = (tracedBatches._1, batchOf(pipeline.consumer))
    producerTracedBatches = (producerTracedBatches._1, batchOf(pipeline.producer))
  }

  private def batchOf(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  var liveHeapMb = Double.NaN
  /** Per-chunk drain rates of a closed loop, in events/s. */
  var chunkRates: Seq[Double] = Nil

  def late(phase: Int): ArrayBuffer[Double] = lateMs.getOrElseUpdate(phase, ArrayBuffer.empty)
}

trait Workload {
  val timing: Timing = Timing.Scaled
  val T0 = 1700000000000L
  def inputs(seed: Long, seconds: Int): Inputs
  def measure(spark: SparkSession, in: Inputs, seconds: Int, dir: java.io.File,
      trace: Trace, traced: Boolean): Measured

  /** Send the closing event, which moves the watermark past every
    * pending deadline, and wait for the flushed alerts. */
  /** Heap still in use after a full collection, in MB, taken once the
    * measured window has drained and before the close flushes the
    * detector's state: the memory the run holds on to. */
  protected def liveHeapMb(p: Pipeline, m: Measured): Unit = {
    p.drain()
    System.gc()
    m.liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  protected def close(in: Inputs, p: Pipeline): Unit = {
    val last = in.log.ts(in.log.n - 1)
    in.log.add(EventLog.Close, d = false, last + timing.timeoutMs + timing.watermarkDelayMs + 1000L)
    p.send(Seq(in.gen.message(in.log, in.log.n - 1)))
    p.drain()
  }

  /** Samples the backlog every 100 ms on its own thread until stopped. */
  protected final class Sampler(p: Pipeline, m: Measured, startNs: Long, handed: () => Long) {
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) {
        val consumed = p.consumerEnd
        m.backlog.synchronized {
          m.backlog += (((System.nanoTime() - startNs) / 1e6, handed(), p.brokerSize, consumed))
        }
        Thread.sleep(100)
      }
    }, "perfbench-backlog")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running = false; thread.join() }
  }
}

/** Open loop at a fixed rate from one generator thread. The first
  * timeout + watermark delay fills the detector's state; the next
  * `seconds` are measured. */
object AlertStream extends Workload {
  val EventsPerS = 2000.0
  val TickMs = 20L
  def prerollMs: Long = timing.timeoutMs + timing.watermarkDelayMs

  def inputs(seed: Long, seconds: Int): Inputs = {
    val gen = new Lifecycles(seed, EventsPerS, timing, T0)
    val log = new EventLog
    gen.emitUntil(log, T0 + prerollMs + seconds * 1000L)
    new Inputs(gen, log)
  }

  def measure(spark: SparkSession, in: Inputs, seconds: Int, dir: java.io.File,
      trace: Trace, traced: Boolean): Measured = {
    val log = in.log
    val n = log.n
    val msgs = Array.tabulate(n)(in.gen.message(log, _))
    val endMs = prerollMs + seconds * 1000L
    val splitMs = if (traced) prerollMs + seconds * 500L else endMs
    def phaseAt(schedMs: Long): Int =
      if (schedMs < prerollMs || schedMs >= endMs) 0 else if (schedMs < splitMs) 1 else 2
    val p = new Pipeline(spark, dir, timing, trace)
    val m = new Measured(p)
    @volatile var handed = 0
    val start = System.nanoTime()
    m.startNs = start
    val sampler = new Sampler(p, m, start, () => handed.toLong)
    var tick = 0L
    while (handed < n) {
      val wait = start + tick * TickMs * 1000000L - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      tick += 1
      val nowMs = (System.nanoTime() - start) / 1000000L
      if (traced && !trace.on && nowMs >= splitMs) m.startTrace(trace)
      val from = handed
      val (until, batch) = trace.span("generator") {
        val until = log.firstAfter(T0 + nowMs)
        (until, msgs.slice(from, until).toSeq)
      }
      if (until > from) {
        p.send(batch)
        val sentMs = (System.nanoTime() - start) / 1e6
        var i = from
        while (i < until) {
          val sched = log.ts(i) - T0
          val ph = phaseAt(sched)
          if (ph > 0) { m.late(ph) += sentMs - sched; m.handed(ph) += 1 }
          i += 1
        }
        handed = until
      }
    }
    m.stopTrace(trace)
    liveHeapMb(p, m)
    close(in, p)
    sampler.stop()

    m.dueNs = i => start + (log.ts(i) - T0) * 1000000L
    m.phaseOf = i => if (i >= n) 0 else phaseAt(log.ts(i) - T0)
    // consumed events per second over each phase: the least-squares slope
    // of the consumer's end offset against time, which averages out the
    // saw tooth of its micro-batches
    val samples = m.backlog.synchronized(m.backlog.toVector)
    Seq(1 -> (prerollMs, splitMs), 2 -> (splitMs, endMs)).foreach { case (ph, (a, b)) =>
      val in = samples.filter(s => s._1 >= a && s._1 < b)
      if (in.size >= 3) m.eventsPerS(ph) = 1000.0 * Stats.slope(in.map(s => (s._1, s._4.toDouble)))
    }
    val lateAll = (m.late(1) ++ m.late(2)).toArray
    if (lateAll.nonEmpty && Stats.quantile(lateAll, 0.99) > Validity.MaxLateMs)
      m.invalid += f"generator late p99 ${Stats.quantile(lateAll, 0.99)}%.1f ms > ${Validity.MaxLateMs} ms"
    val window = samples.filter(s => s._1 >= prerollMs && s._1 < endMs)
      .map(s => s._2 - s._4).toArray
    if (Backlog.grew(window, (EventsPerS * Validity.BacklogSlackS).toLong))
      m.invalid += s"backlog grew across the run: ${window.take(3).mkString(",")} .. ${window.takeRight(3).mkString(",")}"
    m
  }
}

/** Closed loop over chunks in event-time order: each chunk is handed
  * over only after the previous one has been drained. The first `Ramp`
  * chunks grow the detector's state and are not timed; then a fixed
  * number of chunks, one per two `seconds` (about the time one takes on
  * a 4-core host), so every run does the same work. */
object AlertBackfill extends Workload {
  val EventsPerS = 20000.0 // of event time
  val Chunk = 50000
  val Ramp = 4
  def steady(seconds: Int): Int = math.max(4, seconds / 2)

  def inputs(seed: Long, seconds: Int): Inputs = {
    val gen = new Lifecycles(seed, EventsPerS, timing, T0)
    val log = new EventLog
    gen.emitCount(log, Chunk * (Ramp + steady(seconds)))
    new Inputs(gen, log)
  }

  def measure(spark: SparkSession, in: Inputs, seconds: Int, dir: java.io.File,
      trace: Trace, traced: Boolean): Measured = {
    val log = in.log
    val n = log.n
    val chunks = n / Chunk
    val handoff = Array.fill(chunks)(0L)
    val phase = Array.fill(chunks)(0)
    val rate = Array.fill(chunks)(0.0)
    val p = new Pipeline(spark, dir, timing, trace)
    val m = new Measured(p)
    @volatile var handed = 0L
    val start = System.nanoTime()
    m.startNs = start
    val sampler = new Sampler(p, m, start, () => handed)
    val split = if (traced) Ramp + steady(seconds) / 2 else chunks
    (0 until chunks).foreach { c =>
      phase(c) = if (c < Ramp) 0 else if (c >= split) 2 else 1
      if (phase(c) == 2 && !trace.on) m.startTrace(trace)
      val ready = System.nanoTime()
      val batch = trace.span("generator") {
        (c * Chunk until (c + 1) * Chunk).map(in.gen.message(log, _))
      }
      handoff(c) = System.nanoTime()
      if (phase(c) > 0) {
        m.late(phase(c)) += (handoff(c) - ready) / 1e6
        m.handed(phase(c)) += Chunk
      }
      p.send(batch)
      p.drain()
      handed = (c + 1).toLong * Chunk
      rate(c) = Chunk / ((System.nanoTime() - handoff(c)) / 1e9)
    }
    m.stopTrace(trace)
    liveHeapMb(p, m)
    close(in, p)
    sampler.stop()

    val closeIdx = log.n - 1
    m.dueNs = i => if (i >= closeIdx) 0L else handoff(i / Chunk)
    m.phaseOf = i => if (i >= closeIdx) 0 else phase(i / Chunk)
    m.chunkRates = rate.toSeq
    Seq(1, 2).foreach { ph =>
      val rs = (0 until chunks).filter(phase(_) == ph).map(rate(_))
      if (rs.nonEmpty) m.eventsPerS(ph) = Stats.median(rs)
    }
    m
  }
}

/** Thresholds past which a run is reported invalid instead of kept. */
object Validity {
  /** The open loop fell behind its schedule by more than a trigger. */
  val MaxLateMs = 1000.0
  /** The backlog's peak rose by more than this many seconds of input. */
  val BacklogSlackS = 1.0
}

/** Times AvroWire's Confluent framing and unframing of a fixed, cached
  * event sample into a `noop` write (reading the cache included). */
object AvroProbe {
  val Sample = 100000
  val Repeats = 5

  final case class Result(encodeNs: Double, decodeNs: Double, bytesPerEvent: Double)

  def run(spark: SparkSession, trace: Trace): Result = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gen = new Lifecycles(7L, AlertBackfill.EventsPerS, Timing.Scaled, 1700000000000L)
    val log = new EventLog
    gen.emitCount(log, Sample)
    val ds = spark.createDataset((0 until log.n).map(gen.message(log, _))).cache()
    ds.count()
    val registry = new graft.sources.InMemorySchemaRegistry
    val framed = graft.sources.KafkaIO.frameConfluent(ds, registry).cache()
    framed.count()
    // each plan runs once untimed, then the median of `Repeats` timed runs
    def nsPerEvent(df: org.apache.spark.sql.DataFrame): Double = {
      def time(): Double = {
        val t = System.nanoTime()
        trace.span("sources.avro")(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t).toDouble
      }
      time()
      Stats.median((1 to Repeats).map(_ => time())) / log.n
    }
    val encodeNs = nsPerEvent(graft.sources.KafkaIO.frameConfluent(ds, registry))
    val decodeNs = nsPerEvent(graft.sources.KafkaIO.unframeConfluent(framed, registry).toDF())
    val bytes = framed.select(avg(length(col("key")) + length(col("value")))).as[Double].head()
    ds.unpersist(); framed.unpersist()
    Result(encodeNs, decodeNs, bytes)
  }
}
