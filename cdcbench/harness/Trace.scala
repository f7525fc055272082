package cdcbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spans recorded around the benchmark's calls into the program's
  * layers. Kept in memory and written out when the run ends.
  *
  * The innermost open span's id is set as a Spark local property, so
  * every job a span launches carries it to its stages; [[EngineListener]]
  * attributes task metrics through that property, not through the wall
  * clock, and asynchronous listener delivery cannot misattribute them.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Off for untraced ops: [[span]] then only runs its body. */
  var enabled = false
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time of every span in seconds: its duration minus the part of
    * its interval that its child spans cover.
    */
  def selfSeconds: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }
}

object Tracer {
  val SpanKey = "cdcbench.span"
  /** Set by MicroBatchExecution on every job of a streaming micro-batch. */
  val BatchKey = "streaming.sql.batchId"

  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long)
}

/** Task-level engine counters, summed per tag: a span id ("s<id>") or a
  * streaming batch id ("b<id>"). Per stage it also keeps task run times,
  * for the slowest-task-over-median skew.
  */
final class Counters {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
}

final class EngineListener extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  val byTag = mutable.Map.empty[String, Counters]
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stagesOfTag = mutable.Map.empty[String, mutable.Set[Int]]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).foreach { p =>
      val tag = Option(p.getProperty(Tracer.SpanKey)).map("s" + _)
        .orElse(Option(p.getProperty(Tracer.BatchKey)).map("b" + _))
      tag.foreach { t =>
        stageTag(e.stageInfo.stageId) = t
        stagesOfTag.getOrElseUpdate(t, mutable.Set.empty) += e.stageInfo.stageId
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = byTag.getOrElseUpdate(tag, new Counters)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def counters(tag: String): Counters = synchronized(byTag.getOrElse(tag, new Counters))

  /** Slowest task over median task of the busiest stage a tag launched. */
  def taskSkew(tag: String): Option[Double] = synchronized {
    val stages = stagesOfTag.getOrElse(tag, mutable.Set.empty).toSeq.flatMap(stageTasks.get)
    if (stages.isEmpty) None
    else {
      val busiest = stages.maxBy(_.sum).sorted
      val med = busiest(busiest.length / 2).max(1L)
      Some(busiest.last.toDouble / med)
    }
  }
}

/** Collects each micro-batch's progress report by batch id. */
final class ProgressListener extends StreamingQueryListener {
  val byBatch = mutable.Map.empty[Long, StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0) byBatch(e.progress.batchId) = e.progress
  }
}
