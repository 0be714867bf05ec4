package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work attributed to one span: summed over the jobs that ran
  * while the span's id was the job's `perfbench.span` local property. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
    outputBytes += o.outputBytes
  }
}

/** One recorded call into a layer. `parent` is the enclosing span's id
  * (-1 for a root); `unit` is the batch or round id (-1 for set-up). */
final case class Span(id: Int, name: String, parent: Int, unit: Int,
    startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Rolls up completed stages per span id. Stage ids are mapped to the
  * span at job start, so the attribution does not depend on when the
  * asynchronous bus delivers the stage events. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Counters]

  private def of(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.Property)))
      .map(_.toInt).getOrElse(-1)
    of(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val c = of(stageSpan.getOrElse(info.stageId, -1))
      c.stages += 1
      c.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
}

/** Span recorder kept in memory and written out at exit. When disabled
  * `span` only runs its body: no listener, no job properties. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, unit: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Trace.Property, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, unit, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Trace.Property,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** Every recorded span with its own counters, after the bus drained. */
  def finish(): Seq[(Span, Counters)] =
    if (!enabled) Nil
    else {
      org.apache.spark.perfbench.BusDrain(sc)
      listener.synchronized {
        spans.sortBy(_.id).toSeq.map(s =>
          s -> listener.bySpan.getOrElse(s.id, new Counters))
      }
    }

  /** Self time: a span's duration minus the time its children cover
    * (children of one span run sequentially, so they never overlap). */
  def selfTimes(all: Seq[(Span, Counters)]): Map[Int, Double] = {
    val childWall = all.groupBy(_._1.parent).map { case (p, cs) =>
      p -> cs.map(_._1.wallS).sum }
    all.map { case (s, _) => s.id -> (s.wallS - childWall.getOrElse(s.id, 0.0)) }
      .toMap
  }
}

object Trace {
  val Property = "perfbench.span"
}
