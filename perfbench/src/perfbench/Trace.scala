package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative engine counters from Spark's public listener bus. Registered
  * only while a traced unit runs; read at span boundaries. */
final class EngineCounters extends SparkListener {
  private val c: Map[String, AtomicLong] = Seq("jobs", "tasks", "shuffle_write_bytes",
    "spill_bytes", "gc_ms", "cpu_ns", "input_bytes", "output_bytes").map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.diskBytesSpilled)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("cpu_ns").addAndGet(m.executorCpuTime)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("output_bytes").addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** Every streaming progress event and termination, for the micro-batch
  * timings; registered in every run, traced or not. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  import ProgressLog.Batch

  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val ended = mutable.ArrayBuffer.empty[Option[String]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += Batch(p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    ended += e.exception
    notifyAll()
  }

  def mark: (Int, Int) = synchronized((batches.size, ended.size))

  /** The batches that carried data since `m`, once `queries` queries have
    * terminated since then (the bus delivers events asynchronously, and a
    * query's termination follows its last progress event), plus how many
    * of those queries ended with an error. */
  def since(m: (Int, Int), queries: Int = 1, timeoutMs: Long = 30000): (Seq[Batch], Int) =
    synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (ended.size < m._2 + queries && System.currentTimeMillis() < deadline) wait(100)
      (batches.drop(m._1).filter(_.numInputRows > 0).toSeq,
        ended.drop(m._2).count(_.isDefined))
    }
}

object ProgressLog {
  final case class Batch(numInputRows: Long, durations: Map[String, Long])
}

/** One span per layer call: name, start, end, parent, and the engine
  * counters at both boundaries. Kept in memory; written out when the run
  * ends. Only a traced run can switch it on; while it is off, `span` just
  * runs its body and the counting listener is not registered, so the
  * traced run can time its own overhead against its untraced cycles. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer.Span

  private val counters = new EngineCounters
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var on = false

  def active: Boolean = on

  def setActive(b: Boolean): Unit = if (enabled && b != on) {
    if (b) spark.sparkContext.addSparkListener(counters)
    else {
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
    }
    on = b
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      ListenerBus.drain(spark.sparkContext)
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name,
        System.nanoTime(), 0L, counters.snapshot(), Map.empty)
      spans += s
      stack = s.id :: stack
      try body
      finally {
        stack = stack.tail
        s.endNs = System.nanoTime()
        // task-end events arrive asynchronously: wait for the bus so the
        // counts at this boundary cover the span's own work
        ListenerBus.drain(spark.sparkContext)
        s.end = counters.snapshot()
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span duration minus the part of it that its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    val counts = s.end.keys.toSeq.sorted.map(k => s""""$k":${s.delta(k)}""").mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
      f""""self_s":${selfSeconds(s)}%.6f,"counts":{$counts}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      var endNs: Long, start: Map[String, Long], var end: Map[String, Long]) {
    def seconds: Double = (endNs - startNs) / 1e9
    def delta(k: String): Long = end.getOrElse(k, 0L) - start.getOrElse(k, 0L)
  }
}
