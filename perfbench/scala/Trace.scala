package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One recorded span: a call into one layer, or the op that caused it. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, var end: Long = 0L,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Spark work done on behalf of one span, summed over its jobs' tasks. */
final class Counters {
  var jobs, tasks, failedTasks = 0L
  var busyMs, cpuNs, gcMs, schedWaitMs = 0L
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_busy_s" -> busyMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "sched_wait_s" -> schedWaitMs / 1e3,
    "shuffle_bytes" -> shuffleBytes, "shuffle_records" -> shuffleRecords,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords)
}

/** Spans held in memory; Spark work attributed to the innermost open span.
  *
  * Each span sets its own job group and a `perfbench.span` local property
  * on the client thread. The property (unlike the job group, which a
  * streaming query replaces with its run id) is inherited by the threads a
  * call starts, so micro-batch jobs land on the loader span that started
  * them. When disabled, `span` runs its body and records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.HashMap.empty[Int, Counters]
  private val stack = mutable.Stack.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  private object Listener extends SparkListener {
    private def spanOf(props: java.util.Properties): Int =
      Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)
    private def c(span: Int) = counters.getOrElseUpdate(span, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = spanOf(e.properties)
      c(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSpan.getOrElseUpdate(e.stageInfo.stageId, spanOf(e.properties))
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val k = c(stageSpan.getOrElse(e.stageId, -1))
      k.tasks += 1
      if (!e.taskInfo.successful) k.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach { t =>
        k.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t)
      }
      val m = e.taskMetrics
      if (m != null) {
        k.busyMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        k.inputBytes += m.inputMetrics.bytesRead
        k.inputRecords += m.inputMetrics.recordsRead
        k.outputBytes += m.outputMetrics.bytesWritten
        k.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  if (enabled) sc.addSparkListener(Listener)

  private def enter(sp: Option[Span]): Unit = sp match {
    case Some(s) =>
      sc.setJobGroup(s"span-${s.id}", s.name)
      sc.setLocalProperty(Prop, s.id.toString)
    case None =>
      sc.clearJobGroup()
      sc.setLocalProperty(Prop, null)
  }

  /** Run `body` inside a span named `name`; `op` ties spans of one op. */
  def span[T](name: String, op: Int)(body: Span => T): T = {
    if (!enabled) return body(null)
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op, System.nanoTime())
    spans += s
    stack.push(s)
    enter(Some(s))
    try body(s)
    finally {
      s.end = System.nanoTime()
      stack.pop()
      enter(stack.headOption)
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def snapshot(): (Seq[Span], Map[Int, Counters]) = Listener.synchronized {
    (spans.toList, counters.toMap)
  }
}
