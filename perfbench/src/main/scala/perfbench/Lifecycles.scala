package perfbench

import graft.streaming.MessageStatus

/** Lifecycle durations. `Scaled` is the reference producer's timing
  * (timeout 120 s, normal delivery 30 s, delayed 180 s, heartbeat 30 s,
  * watermark 60 s) divided by 12, so timeouts fire inside one run. */
final case class Timing(timeoutMs: Long, normalMs: Long, delayedMs: Long,
    heartbeatMs: Long, watermarkDelayMs: Long)

object Timing {
  val Scaled: Timing = Timing(timeoutMs = 10000L, normalMs = 2500L,
    delayedMs = 15000L, heartbeatMs = 2500L, watermarkDelayMs = 5000L)
}

/** The generated event log, in emission (event-time) order. Key `k` is
  * message `msg-k`; `Close` is the closing watermark-advancing event. */
final class EventLog {
  var n = 0
  var key = new Array[Int](1024)
  var delivered = new Array[Boolean](1024)
  var ts = new Array[Long](1024)

  def add(k: Int, d: Boolean, t: Long): Unit = {
    require(n == 0 || t >= ts(n - 1), "events must be appended in event-time order")
    if (n == ts.length) {
      key = java.util.Arrays.copyOf(key, 2 * n)
      delivered = java.util.Arrays.copyOf(delivered, 2 * n)
      ts = java.util.Arrays.copyOf(ts, 2 * n)
    }
    key(n) = k; delivered(n) = d; ts(n) = t; n += 1
  }

  /** Index of the first event with `ts > bound` (n when none). */
  def firstAfter(bound: Long): Int = {
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) > bound) hi = mid else lo = mid + 1
    }
    lo
  }
}

object EventLog { val Close: Int = -1 }

/** Seeded single-threaded load source with the reference producer's
  * lifecycle mix (phone_message_producer.py:47-53): 85% delivered after
  * `normalMs`, 10% delivered late after `delayedMs`, 5% never delivered.
  * Each message sends `sent` at birth and re-sends it every `heartbeatMs`
  * until its delivery (or its timeout, when it is never delivered).
  * Births arrive as a Poisson process sized so the log carries
  * `eventsPerSec` events per second of event time. Events come out in
  * event-time order, stamped with their scheduled send time. */
final class Lifecycles(seed: Long, eventsPerSec: Double, timing: Timing,
    val t0: Long) {

  private val rng = new java.util.SplittableRandom(seed)
  private val meanGapMs = 1000.0 * Lifecycles.EventsPerMessage / eventsPerSec
  private var nextBirthMs = 0.0
  private var births = 0
  val phone = scala.collection.mutable.ArrayBuffer.empty[Long]
  val carrier = scala.collection.mutable.ArrayBuffer.empty[String]

  // pending (ts, key, seq) events of born messages, earliest first
  private val pending = scala.collection.mutable.PriorityQueue.empty[(Long, Int, Int)](
    Ordering.Tuple3[Long, Int, Int].reverse)

  // per message: the seq of its delivered event, -1 when never delivered
  private val deliveredSeq = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def bear(): Unit = {
    val k = births; births += 1
    val birth = t0 + nextBirthMs.toLong
    nextBirthMs += -meanGapMs * math.log(1.0 - rng.nextDouble())
    phone += Lifecycles.AreaCodes(rng.nextInt(Lifecycles.AreaCodes.length)) * 10000000L +
      rng.nextInt(200, 1000) * 10000L + rng.nextInt(1000, 10000)
    carrier += Lifecycles.Carriers(rng.nextInt(Lifecycles.Carriers.length))
    val u = rng.nextDouble()
    val delivery: Option[Long] =
      if (u < 0.85) Some(timing.normalMs)
      else if (u < 0.95) Some(timing.delayedMs)
      else None
    val end = delivery.getOrElse(timing.timeoutMs)
    var seq = 0
    var off = 0L
    while (off < end) {
      pending.enqueue((birth + off, k, seq)); seq += 1; off += timing.heartbeatMs
    }
    delivery.foreach(d => pending.enqueue((birth + d, k, seq)))
    deliveredSeq += (if (delivery.isDefined) seq else -1)
  }

  /** Append to `log` every event with `ts < until`, in event-time order. */
  def emitUntil(log: EventLog, until: Long): Unit = emit(log, until, Int.MaxValue)

  /** Append the next `count` events to `log`. */
  def emitCount(log: EventLog, count: Int): Unit = emit(log, Long.MaxValue, count)

  private def emit(log: EventLog, until: Long, count: Int): Unit = {
    var left = count
    var done = false
    while (!done && left > 0) {
      while (pending.isEmpty || t0 + nextBirthMs.toLong <= pending.head._1) bear()
      val (t, k, seq) = pending.head
      if (t >= until) done = true
      else {
        pending.dequeue()
        log.add(k, seq == deliveredSeq(k), t)
        left -= 1
      }
    }
  }

  def message(log: EventLog, i: Int): MessageStatus = {
    val k = log.key(i)
    if (k == EventLog.Close) MessageStatus("close", "sent", 0L, "none", log.ts(i))
    else MessageStatus(s"msg-$k", if (log.delivered(i)) "delivered" else "sent",
      phone(k), carrier(k), log.ts(i))
  }
}

object Lifecycles {
  val AreaCodes: Array[Long] = Array(212L, 415L, 713L, 404L, 602L, 503L)
  val Carriers: Array[String] = Array("verizon", "att", "t-mobile")
  /** Expected events per message: 0.85 x (sent + delivered)
    * + 0.10 x (6 sent + delivered) + 0.05 x 4 sent, at the scaled timing. */
  val EventsPerMessage: Double = 2.6
}

/** The alerts the detector owes for an event log, computed from the
  * generated lifecycles alone (not from the engine's batch twin). */
object Expected {

  /** `due` is the index of the first event whose time moves the
    * watermark past the deadline: the event that makes the alert due. */
  final case class Alert(messageId: String, sentTime: Long, deadline: Long, due: Int)

  /** A key alerts when it was never delivered, or delivered after
    * `firstSent + timeout`. Assumes the log is in event-time order, so no
    * event is dropped as late. The closing event's key never alerts. */
  def alerts(log: EventLog, timing: Timing): Array[Alert] = {
    var maxKey = -1
    var i = 0
    while (i < log.n) { maxKey = math.max(maxKey, log.key(i)); i += 1 }
    val firstSent = Array.fill(maxKey + 1)(Long.MaxValue)
    val firstDelivered = Array.fill(maxKey + 1)(Long.MaxValue)
    i = 0
    while (i < log.n) {
      val k = log.key(i)
      if (k != EventLog.Close) {
        val arr = if (log.delivered(i)) firstDelivered else firstSent
        arr(k) = math.min(arr(k), log.ts(i))
      }
      i += 1
    }
    (0 to maxKey).iterator.collect {
      case k if firstSent(k) != Long.MaxValue &&
          (firstDelivered(k) == Long.MaxValue ||
            firstDelivered(k) > firstSent(k) + timing.timeoutMs) =>
        val deadline = firstSent(k) + timing.timeoutMs
        Alert(s"msg-$k", firstSent(k), deadline,
          log.firstAfter(deadline + timing.watermarkDelayMs))
    }.toArray
  }
}
