package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark work attributed to one span name. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var peakExecMemBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }
}

/** Attributes jobs, stages and task metrics to the span that was
  * innermost on the client thread when each job was submitted. The
  * span travels as a job local property, because listener events
  * arrive later on the listener-bus thread. */
final class SpanListener extends SparkListener {
  private val spanOfStage = mutable.HashMap[Int, String]()
  private val bySpan = mutable.HashMap[String, Counters]()

  private def at(span: String): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .getOrElse(Trace.Untraced)
    at(span).jobs += 1
    e.stageIds.foreach(spanOfStage(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(spanOfStage.getOrElse(e.stageInfo.stageId, Trace.Untraced)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(spanOfStage.getOrElse(e.stageId, Trace.Untraced))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  /** Counters summed over every span whose name satisfies `p`. */
  def sum(p: String => Boolean): Counters = synchronized {
    val out = new Counters
    bySpan.foreach { case (n, c) => if (p(n)) out += c }
    out
  }
}

/** One finished span: name, parent span id (-1 at top level), and its
  * start/end in nanoseconds of the client thread's clock. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out with the run's artifact. When `enabled` is false,
  * `span` only runs its body: the untraced run registers no listener
  * and sets no job properties. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  private val planMs = new java.util.concurrent.atomic.AtomicLong
  val listener: Option[SpanListener] =
    if (enabled) {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      Some(l)
    } else None

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      spark.sparkContext.setLocalProperty(Trace.SpanProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Trace.SpanProperty,
          stack.headOption.map(_._2).orNull)
        done += Span(id, parent, name, t0, t1)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Total seconds of the spans named `name`. */
  def seconds(name: String): Double = done.filter(_.name == name).map(_.seconds).sum

  def count(name: String): Int = done.count(_.name == name)

  /** Seconds of `[t0, t1)` covered by top-level spans. */
  def covered(t0: Long, t1: Long): Double =
    done.filter(_.parent == -1)
      .map(s => math.max(0L, math.min(s.endNs, t1) - math.max(s.startNs, t0)))
      .sum / 1e9

  /** Seconds of analysis, optimization and planning (the
    * `QueryExecution.tracker` phases) of every action so far. */
  def planSeconds(): Double = {
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    planMs.get / 1e3
  }

  /** Counters of every span whose name satisfies `p`; waits for the
    * listener bus so that every finished job has been counted. */
  def counters(p: String => Boolean): Counters = listener match {
    case None => new Counters
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.sum(p)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  val Untraced = "untraced"

  /** Block-manager storage memory in use, summed over executors. */
  def storageMemBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
}
