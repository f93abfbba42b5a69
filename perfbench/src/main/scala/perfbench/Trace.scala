package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark counters of one job group (one benchmark operation). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var scanBytes = 0L
  var shuffleBytes = 0L
  var gcMs = 0L
  var outputBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Collects Spark counters per job group. The benchmark sets one job
  * group per traced operation, so every job, stage and task is charged
  * to the operation that caused it.
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      byGroup.getOrElseUpdate(g, new Counters).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    group(e.properties).orElse(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      byGroup.getOrElseUpdate(g, new Counters).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = byGroup.getOrElseUpdate(g, new Counters)
      c.tasks += 1
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.gcMs += m.jvmGCTime
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def counters(g: String): Counters = synchronized(byGroup.getOrElse(g, new Counters))
}

/** One timed interval at a layer boundary; spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Long, endMs: Long, durMs: Double, attrs: Map[String, String])

/** Spans around the benchmark's calls into graft, kept in memory and
  * written when the run ends. With tracing off every method only runs
  * its body.
  */
final class Tracer(val spark: SparkSession, val on: Boolean) {
  val listener = new GroupListener
  if (on) spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var current = -1
  private var currentOp = -1

  /** Runs `body` as operation `name`; traced when tracing is on and `traced`. */
  def op[T](name: String, traced: Boolean, attrs: (String, Any)*)(body: => T): T =
    if (!on || !traced) body
    else {
      nextId += 1
      val (id, parent, prevOp) = (nextId, current, currentOp)
      current = id
      currentOp = id
      spark.sparkContext.setJobGroup(group(id), name, interruptOnCancel = false)
      val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        spans += Span(id, parent, id, name, w0, System.currentTimeMillis(), Util.ms(t0),
          attrs.map { case (k, v) => k -> v.toString }.toMap)
        spark.sparkContext.clearJobGroup()
        current = parent
        currentOp = prevOp
      }
    }

  /** A child span of the current operation. `ownGroup` charges its Spark
    * jobs to a separate group so they stay out of the operation's counters.
    */
  def child[T](name: String, ownGroup: Boolean = false)(body: => T): T =
    if (!on || currentOp < 0) body
    else {
      nextId += 1
      val (id, parent) = (nextId, current)
      current = id
      if (ownGroup) spark.sparkContext.setJobGroup(s"${group(currentOp)}.$name", name, false)
      val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
      try body
      finally {
        spans += Span(id, parent, currentOp, name, w0, System.currentTimeMillis(), Util.ms(t0), Map.empty)
        if (ownGroup) spark.sparkContext.setJobGroup(group(currentOp), name, false)
        current = parent
      }
    }

  private def group(op: Int): String = s"op-$op"

  def drain(): Unit = if (on) PerfbenchBus.drain(spark.sparkContext)

  /** Spark counters of an operation span, plus its driver gap: the span's
    * wall time during which none of its tasks was running.
    */
  def countersOf(s: Span): (Counters, Double) = {
    val c = listener.counters(group(s.id))
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
    c.taskIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (busy.nonEmpty && a <= busy.last._2) busy(busy.length - 1) = (busy.last._1, math.max(busy.last._2, b))
        else busy += ((a, b))
      }
    (c, math.max(0.0, s.durMs - busy.map { case (a, b) => (b - a).toDouble }.sum))
  }

  def opSpans(prefix: String): Seq[Span] = spans.toSeq.filter(s => s.parent < 0 && s.name.startsWith(prefix))

  def childSpans(op: Span, name: String): Seq[Span] = spans.toSeq.filter(s => s.op == op.id && s.name == name)

  def toJson: String = spans.map { s =>
    val a = s.attrs.map { case (k, v) => s"${Util.jsonStr(k)}:${Util.jsonStr(v)}" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Util.jsonStr(s.name)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${Util.jsonNum(s.durMs)},"attrs":{$a}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Probe extends AdaptiveSparkPlanHelper {
  /** Files the executed plan's scan nodes read, from their own metrics. */
  def filesScanned(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Storage held by persisted RDDs, in MB, by RDD name. */
  def persistedMb(spark: SparkSession): Seq[(String, Double)] =
    spark.sparkContext.getRDDStorageInfo.toSeq.map { i =>
      (s"rdd${i.id}:" + i.name.take(60), (i.memSize + i.diskSize) / 1048576.0)
    }

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
