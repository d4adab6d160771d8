package enginebench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span: one interval at a layer boundary, with the span that caused it. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark activity attributed to one call span. */
final case class JobStats(jobs: Int, stages: Int, tasks: Int, gapS: Double,
                          taskCpuS: Double, taskRunS: Double, shuffleReadB: Long,
                          shuffleWriteB: Long, inputRecords: Long, outputB: Long,
                          spillB: Long, firstJobS: Double)

/** In-memory span recorder plus a [[SparkListener]] that times every job and
  * sums its task metrics. Disabled, it records nothing and registers no
  * listener, so untraced runs measure the program alone. Spans are opened on
  * the benchmark's driver thread only; Spark jobs are attributed to the call
  * span whose interval contains their start (one call runs at a time). */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  // wall-clock ms (listener events) -> nanoTime (spans)
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private final class Agg { var tasks = 0; var cpuNs = 0L; var runMs = 0L
    var shufR = 0L; var shufW = 0L; var inRec = 0L; var outB = 0L; var spill = 0L }
  private final case class Job(id: Int, startNs: Long, var endNs: Long, stageIds: Seq[Int])
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageAgg = mutable.HashMap.empty[Int, Agg]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, e.time * 1000000L - clockOffsetNs, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endNs = e.time * 1000000L - clockOffsetNs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val a = stageAgg.getOrElseUpdate(e.stageId, new Agg)
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime; a.runMs += m.executorRunTime
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.inRec += m.inputMetrics.recordsRead
        a.outB += m.outputMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Record `f` as a span of `layer` under the innermost open span. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, t1)
      }
    }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.EngineBenchBus.drain(sc)

  def spansOf(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq

  /** Spark work of the jobs that started inside `s`. */
  def jobStats(s: Span): JobStats = synchronized {
    val mine = jobs.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs)
    val ran = mine.flatMap(_.stageIds).distinct.flatMap(id => stageAgg.get(id))
    // wall time of `s` covered by no running job
    val covered = mine.map(j => (j.startNs, if (j.endNs < 0) s.endNs else math.min(j.endNs, s.endNs)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        val from = math.max(a, reach)
        (if (b > from) sum + (b - from) else sum, math.max(reach, b))
      }._1
    val first = mine.sortBy(_.startNs).headOption
      .map(j => (math.max(j.endNs, j.startNs) - j.startNs) / 1e9).getOrElse(0.0)
    JobStats(mine.size, ran.size, ran.map(_.tasks).sum,
      math.max(0L, (s.endNs - s.startNs) - covered) / 1e9,
      ran.map(_.cpuNs).sum / 1e9, ran.map(_.runMs).sum / 1e3,
      ran.map(_.shufR).sum, ran.map(_.shufW).sum, ran.map(_.inRec).sum,
      ran.map(_.outB).sum, ran.map(_.spill).sum, first)
  }

  /** Every span and Spark job as one JSON document. */
  def toJson: String = synchronized {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString(","))
    sb.append("],\"spark_jobs\":[")
    sb.append(jobs.map { j =>
      val parent = spans.filter(s => j.startNs >= s.startNs && j.startNs <= s.endNs)
        .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(0)
      s"""{"job":${j.id},"parent":$parent,"start_ns":${j.startNs},"end_ns":${j.endNs},"stages":${j.stageIds.size}}"""
    }.mkString(","))
    sb.append("]}").toString
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
