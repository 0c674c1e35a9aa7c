package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tail percentile keeps at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble).toArray
    assert(Stats.tail(xs) == Stats.Tail(99, Stats.quantile(xs, 0.99), 1000))
    assert(Stats.tail(xs.take(500)).percentile == 98)
    assert(Stats.tail(xs.take(20)).percentile == 50)
    assert(Stats.tail(xs.take(11)).percentile == 9)
    // ten or fewer samples: no percentile has ten beyond it, report the max
    assert(Stats.tail(xs.take(10)) == Stats.Tail(100, 10.0, 10))
    // at the reported percentile, at least ten samples lie strictly above
    Seq(11, 20, 99, 500, 1000, 5000).foreach { n =>
      val t = Stats.tail(xs.take(math.min(n, 1000)) ++ Array.fill(math.max(0, n - 1000))(0.5))
      assert(xs.take(math.min(n, 1000)).count(_ > t.value) >= 10, s"n=$n")
    }
  }

  test("quantile interpolates between ranks") {
    assert(Stats.quantile(Array(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("expected alerts on a hand-built six-key lifecycle set") {
    val t = Timing.Scaled // timeout 10 s, watermark delay 5 s
    val log = new EventLog
    // (key, delivered, ts): key 0 delivered in time, 1 delivered late,
    // 2 never delivered, 3 delivered exactly at the deadline, 4 heartbeats
    // then delivered in time, 5 delivered only after heartbeats past the
    // deadline
    Seq((0, false, 0L), (1, false, 100L), (2, false, 200L), (3, false, 300L),
      (4, false, 400L), (5, false, 500L), (0, true, 2500L), (4, false, 2900L),
      (5, false, 3000L), (4, true, 5000L), (3, true, 10300L), (1, true, 15100L),
      (5, true, 15500L), (0, false, 20000L), (EventLog.Close, false, 40000L))
      .foreach { case (k, d, ts) => log.add(k, d, ts) }
    val got = Expected.alerts(log, t).map(a => a.messageId -> a).toMap
    assert(got.keySet == Set("msg-1", "msg-2", "msg-5"))
    assert(got("msg-2").sentTime == 200L && got("msg-2").deadline == 10200L)
    // due: the first event later than deadline + watermark delay
    assert(got("msg-1").due == 12) // 10100 + 5000 < 15500, the event at index 12
    assert(got("msg-2").due == 12) // 10200 + 5000 < 15500
    assert(got("msg-5").due == 13) // 10500 + 5000 = 15500, not later: index 13
    assert(Expected.alerts(log, t.copy(timeoutMs = 20000L)).map(_.messageId).toSet == Set("msg-2"))
  }

  test("generator emits in event-time order with the reference mix") {
    def run() = {
      val log = new EventLog
      new Lifecycles(3L, 20000.0, Timing.Scaled, 0L).emitCount(log, 1000000)
      log
    }
    val log = run()
    assert((1 until log.n).forall(i => log.ts(i) >= log.ts(i - 1)))
    assert(run().ts.take(log.n).sameElements(log.ts.take(log.n)), "same seed, same log")
    // past the first lifecycle (15 s), the log carries the configured rate
    val inWindow = log.ts.take(log.n).count(t => t >= 20000L && t < 40000L)
    assert(math.abs(inWindow / 20.0 - 20000.0) / 20000.0 < 0.02, s"rate ${inWindow / 20.0}")
    // 95% of the messages born well before the end are delivered
    val born = scala.collection.mutable.Map.empty[Int, Long]
    val delivered = scala.collection.mutable.Set.empty[Int]
    (0 until log.n).foreach { i =>
      born.getOrElseUpdate(log.key(i), log.ts(i))
      if (log.delivered(i)) delivered += log.key(i)
    }
    val early = born.filter(_._2 < log.ts(log.n - 1) - 20000L).keySet
    val share = early.count(delivered).toDouble / early.size
    assert(math.abs(share - 0.95) < 0.01, s"delivered share $share")
  }

  test("backlog arithmetic") {
    assert(Backlog.memkafka(brokerSize = 1500L, consumerEnd = 1200L) == 300L)
    assert(Backlog.memkafka(brokerSize = 1200L, consumerEnd = 1200L) == 0L)
    // a saw tooth with a flat peak is sustained; a rising peak is not
    val flat = Array.tabulate(30)(i => (i % 5) * 100L)
    assert(!Backlog.grew(flat, slack = 100L))
    val rising = Array.tabulate(30)(i => (i % 5) * 100L + i * 50L)
    assert(Backlog.grew(rising, slack = 100L))
    assert(!Backlog.grew(Array(1L, 1000L), slack = 0L)) // too few samples to judge
  }
}
