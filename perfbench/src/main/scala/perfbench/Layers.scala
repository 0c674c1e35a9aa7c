package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, named `<layer>.<metric>`, each
  * over the traced phase only. */
object Layers {

  def metrics(a: Main.Args, m: Measured, trace: Trace,
      latency: Map[Int, ArrayBuffer[Double]], check: Check,
      avro: AvroProbe.Result): Map[String, (Double, String)] = {
    val p = m.pipeline
    def traced(id: java.util.UUID, range: (Long, Long)): Seq[StreamingQueryProgress] =
      trace.progressOf(id.toString).filter(b => b.batchId >= range._1 && b.batchId <= range._2)
    val cons = traced(p.consumer.id, m.tracedBatches)
    val prod = traced(p.producer.id, m.producerTracedBatches)
    def dur(b: StreamingQueryProgress, k: String): Double =
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def sumDur(k: String) = cons.map(dur(_, k)).sum
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def p99(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs.toArray, 0.99)

    val consTrig = cons.map(dur(_, "triggerExecution"))
    val prodTrig = prod.map(dur(_, "triggerExecution"))
    val batches = math.max(1, cons.size).toDouble
    val inputRows = cons.map(_.numInputRows).sum
    val counts = trace.countsOf(p.consumer.id.toString)
    val state = cons.flatMap(_.stateOperators.headOption)
    val dataBatches = cons.filter(_.numInputRows > 0).map { b =>
      val s = b.sources.head
      (Option(s.startOffset).map(_.toLong).getOrElse(0L), s.endOffset.toLong)
    }
    val partitions = dataBatches.map { case (s, e) => p.inputPartitions(s, e).toDouble }
    val samples = m.backlog.synchronized(m.backlog.toVector)
    val sinceMs = (m.tracedSinceNs - m.startNs) / 1e6
    val untilMs = (m.tracedUntilNs - m.startNs) / 1e6
    val backlogMax = samples.filter(s => s._1 >= sinceMs && s._1 <= untilMs)
      .map(s => Backlog.memkafka(s._3, s._4)).foldLeft(0L)(math.max)
    val alerts = check.firstArrival.values.count(t => t >= m.tracedSinceNs && t <= m.tracedUntilNs)
    val late = m.late(2).toSeq
    val self = trace.selfMs
    val overheadPct = a.workload match {
      case AlertStream =>
        100.0 * (p50(latency(2).toSeq) - p50(latency(1).toSeq)) / p50(latency(1).toSeq)
      case _ =>
        val u = m.eventsPerS.getOrElse(1, Double.NaN)
        100.0 * (u - m.eventsPerS.getOrElse(2, Double.NaN)) / u
    }

    Map(
      "generator.events" -> (m.handed(2).toDouble, "count"),
      "generator.late_p99_ms" -> (p99(late), "ms"),
      "generator.self_ms" -> (self.getOrElse("generator", 0.0), "ms"),
      "avro.encode_ns_per_event" -> (avro.encodeNs, "ns"),
      "avro.decode_ns_per_event" -> (avro.decodeNs, "ns"),
      "avro.bytes_per_event" -> (avro.bytesPerEvent, "B"),
      "memkafka.backlog_max_events" -> (backlogMax.toDouble, "count"),
      "memkafka.input_partitions_per_batch" -> (p50(partitions), "count"),
      "memkafka.self_ms" -> (self.getOrElse("sources.memkafka", 0.0), "ms"),
      "producer.batches" -> (prod.size.toDouble, "count"),
      "producer.trigger_ms_p50" -> (p50(prodTrig), "ms"),
      "producer.self_ms" -> (self.getOrElse("streaming.producer", 0.0), "ms"),
      "consumer.batches" -> (cons.size.toDouble, "count"),
      "consumer.nodata_batches" -> (cons.count(_.numInputRows == 0).toDouble, "count"),
      "consumer.trigger_ms_p50" -> (p50(consTrig), "ms"),
      "consumer.trigger_ms_p99" -> (p99(consTrig), "ms"),
      "consumer.addBatch_ms" -> (sumDur("addBatch"), "ms"),
      "consumer.queryPlanning_ms" -> (sumDur("queryPlanning"), "ms"),
      "consumer.walCommit_ms" -> (sumDur("walCommit"), "ms"),
      "consumer.commitOffsets_ms" -> (sumDur("commitOffsets"), "ms"),
      "consumer.jobs_per_batch" -> (counts.jobs / batches, "count"),
      "consumer.tasks_per_batch" -> (counts.tasks / batches, "count"),
      "consumer.shuffle_bytes_per_event" ->
        (counts.shuffleBytes.toDouble / math.max(1L, inputRows), "B"),
      "consumer.self_ms" -> (self.getOrElse("streaming.consumer", 0.0), "ms"),
      "state.rows_max" -> (state.map(_.numRowsTotal).foldLeft(0L)(math.max).toDouble, "count"),
      "state.memory_bytes_max" -> (state.map(_.memoryUsedBytes).foldLeft(0L)(math.max).toDouble, "B"),
      "state.commit_ms" -> (state.map(_.commitTimeMs).sum.toDouble, "ms"),
      "state.updates_ms" -> (state.map(_.allUpdatesTimeMs).sum.toDouble, "ms"),
      "state.removals_ms" -> (state.map(_.allRemovalsTimeMs).sum.toDouble, "ms"),
      "state.dropped_by_watermark" -> (state.map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
      "sink.alerts" -> (alerts.toDouble, "count"),
      "sink.write_ms" -> (self.getOrElse("sink", 0.0), "ms"),
      "trace.overhead_pct" -> (overheadPct, "%"))
  }
}
