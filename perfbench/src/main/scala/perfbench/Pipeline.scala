package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{InMemorySchemaRegistry, KafkaIO}
import graft.sources.memkafka.{MemBroker, MemKafkaMicroBatchStream, MemKafkaProvider, MemOffset}
import graft.streaming.{MessageStatus, UndeliveredAlert, UndeliveredDetector}

/** One alert received by the sink, with the time it became visible. */
final case class Arrival(messageId: String, sentTime: Long, deadline: Long, atNs: Long)

/** The `foreachBatch` sink: collects each batch of alerts (which runs
  * the consumer query's plan) and stamps every alert with its arrival. */
final class AlertSink(trace: Trace) {
  val arrivals = new ConcurrentLinkedQueue[Arrival]()

  val write: (Dataset[UndeliveredAlert], Long) => Unit = (batch, _) =>
    trace.span("sink") {
      val rows = trace.span("streaming.consumer")(batch.collect())
      val now = System.nanoTime()
      rows.foreach(a => arrivals.add(Arrival(a.messageId, a.sentTime, a.deadline, now)))
    }
}

/** The north-star path, built only from the engine's public surface:
  * MemoryStream -> KafkaIO.frameConfluent -> MemKafka sink (producer
  * query) -> MemKafka source -> KafkaIO.unframeConfluent ->
  * UndeliveredDetector.alerts -> foreachBatch sink (consumer query).
  * Both queries trigger back to back. */
final class Pipeline(spark: SparkSession, dir: java.io.File, timing: Timing, trace: Trace) {
  import spark.implicits._
  private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val fmt = classOf[MemKafkaProvider].getName
  val topic: String = "perfbench_" + java.util.UUID.randomUUID().toString.replace("-", "")
  private val registry = new InMemorySchemaRegistry
  private val input = MemoryStream[MessageStatus]
  val sink = new AlertSink(trace)

  private def checkpoint(name: String) = new java.io.File(dir, name).getAbsolutePath

  val producer: StreamingQuery = KafkaIO.frameConfluent(input.toDS(), registry)
    .writeStream.format(fmt).option("topic", topic)
    .option("checkpointLocation", checkpoint("producer")).start()

  val consumer: StreamingQuery = UndeliveredDetector.alerts(
      KafkaIO.unframeConfluent(
        spark.readStream.format(fmt).option("topic", topic).load(), registry),
      timing.timeoutMs, s"${timing.watermarkDelayMs} milliseconds")
    .writeStream.foreachBatch(sink.write)
    .option("checkpointLocation", checkpoint("consumer"))
    .outputMode("append").start()

  /** Hand events to the producer query. */
  def send(events: Seq[MessageStatus]): Unit =
    trace.span("streaming.producer")(input.addData(events))

  /** Block until both queries have processed everything handed so far. */
  def drain(): Unit = { producer.processAllAvailable(); consumer.processAllAvailable() }

  def brokerSize: Long = trace.span("sources.memkafka")(MemBroker.size(topic))

  /** End offset of the consumer's last completed batch (0 before any). */
  def consumerEnd: Long =
    Option(consumer.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).map(_.toLong).getOrElse(0L)

  /** Input partitions the MemKafka source plans for one offset range. */
  def inputPartitions(from: Long, until: Long): Int =
    trace.span("sources.memkafka")(new MemKafkaMicroBatchStream(topic)
      .planInputPartitions(MemOffset(from), MemOffset(until)).length)

  def stop(): Unit = {
    producer.stop(); consumer.stop()
    MemBroker.clear(topic)
    Pipeline.delete(dir)
  }
}

object Pipeline {
  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
