package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One recorded span: a call from the benchmark into one layer. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory spans plus Spark's public listener events. Everything is
  * recorded only while `on`, so an untraced run pays one volatile read
  * per call site and nothing else. */
final class Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized { spans += Span(id, parents.headOption.getOrElse(0L), name, t0, t1) }
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span name, in ms: each span's duration minus the part
    * of it that its child spans cover. */
  def selfMs: Map[String, Double] = {
    val all = recorded
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        kids.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) { covered += b - from; end = b }
        }
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** Progress of every micro-batch, per query id. */
  val progress = new ConcurrentHashMap[String, ArrayBuffer[StreamingQueryProgress]]()

  final class Counts { var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L }
  /** Spark jobs, tasks and shuffle bytes written, per streaming query id. */
  val counts = new ConcurrentHashMap[String, Counts]()
  private val stageQuery = new ConcurrentHashMap[Int, String]()

  def progressOf(queryId: String): Seq[StreamingQueryProgress] =
    Option(progress.get(queryId)).map(b => b.synchronized(b.toList)).getOrElse(Nil)

  def countsOf(queryId: String): Counts =
    counts.computeIfAbsent(queryId, _ => new Counts)

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) {
        val b = progress.computeIfAbsent(e.progress.id.toString, _ => ArrayBuffer.empty)
        b.synchronized { b += e.progress }
      }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .filter(_ => on).foreach { q =>
          val c = countsOf(q)
          c.synchronized { c.jobs += 1 }
          e.stageIds.foreach(stageQuery.put(_, q))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageQuery.get(e.stageId)).filter(_ => on).foreach { q =>
        val c = countsOf(q)
        val bytes = Option(e.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        c.synchronized { c.tasks += 1; c.shuffleBytes += bytes }
      }
  }

  def spansJson: Seq[Map[String, Any]] = recorded.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))

  def progressJson: Map[String, Any] = progress.asScala.map { case (q, b) =>
    q -> Json.Raw(b.synchronized(b.map(_.json).mkString("[", ",", "]")))
  }.toMap
}
