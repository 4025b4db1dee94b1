package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One span of the traced run: a layer boundary with its parent. Times
  * are epoch microseconds so the benchmark's own spans, Spark's job
  * events (epoch ms) and streaming progress timestamps share one clock. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startUs: Long, endUs: Long)

object Span {
  def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

/** Task-level counters summed per phase ("setup", "warmup", "build",
  * "execute"). */
final class PhaseCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** The traced run's Spark listener. Each job, stage and task is
  * attributed through the [[Tracer.SpanKey]] local property the
  * benchmark sets around every call into the engine
  * (`setup/<family>`, `warmup`, `op/<i>/build`, `op/<i>/execute`).
  * Local properties are inherited by the threads a call starts
  * (streaming query threads, broadcast and subquery pools), so a
  * drain's micro-batch jobs land under the op that started it. */
final class Tracer extends SparkListener {
  import Tracer.JobRec

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, PhaseCounters]()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).getOrElse("other")

  def phase(tag: String): String = tag match {
    case t if t.startsWith("op/") => t.substring(t.lastIndexOf('/') + 1)
    case t if t.startsWith("setup/") => "setup"
    case t => t
  }

  def phaseCounters(phase: String): PhaseCounters =
    counters.computeIfAbsent(phase, _ => new PhaseCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    jobs.put(e.jobId, JobRec(tag, e.time, -1L))
    e.stageIds.foreach(stageTag.put(_, tag))
    val c = phaseCounters(phase(tag))
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = Option(e.properties).map(tagOf)
      .getOrElse(stageTag.getOrDefault(e.stageInfo.stageId, "other"))
    stageTag.put(e.stageInfo.stageId, tag)
    val c = phaseCounters(phase(tag))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = phaseCounters(phase(stageTag.getOrDefault(e.stageId, "other")))
    val info = e.taskInfo
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        // the Spark UI's definition: task wall time not spent running,
        // (de)serializing or fetching the result
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Finished jobs whose tag starts with `prefix`, as (start, end) epoch µs. */
  def jobSpans(prefix: String): Seq[(Int, Long, Long)] =
    jobs.asScala.iterator.collect {
      case (id, j) if j.tag.startsWith(prefix) && j.endMs >= 0 =>
        (id, j.startMs * 1000L, j.endMs * 1000L)
    }.toSeq.sortBy(_._2)
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class JobRec(tag: String, startMs: Long, var endMs: Long)

  /** Sum over `spans` of each span's self time: its duration minus the
    * union of its children's intervals (clipped to the parent), in
    * seconds, keyed by span kind. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (curA, curB) = (Long.MinValue, Long.MinValue)
        iv.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endUs - s.startUs - covered) / 1e6
      }.sum
    }
  }
}

/** In-memory span log, written once when the run ends. */
final class SpanLog {
  private val buf = mutable.ArrayBuffer[Span]()
  def add(parent: Int, kind: String, name: String, startUs: Long, endUs: Long): Int =
    synchronized {
      val id = buf.size + 1
      buf += Span(id, parent, kind, name, startUs, endUs)
      id
    }
  def spans: Seq[Span] = synchronized(buf.toList)
}
