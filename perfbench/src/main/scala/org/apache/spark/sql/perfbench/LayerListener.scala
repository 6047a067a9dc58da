package org.apache.spark.sql.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** What one traced phase of one operation made the engine do: the Spark
  * jobs, tasks and SQL executions whose job group is the phase's tag. */
final class LayerAgg {
  var jobs, tasks = 0L
  var busyMs, waitMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, resultBytes, writeBytes = 0L
  var skewMax = 1.0
  var exchanges, broadcasts = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** Catalyst phases of the executions: (name, startMs, endMs). */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
}

/** Measures the engine from outside: a SparkListener that attributes
  * jobs, task metrics and SQL executions (with their Catalyst planning
  * phases and exchange counts) to the job group the benchmark set around
  * each call into the library. Lives in the Spark package only to read
  * the executed `QueryExecution` off the SQL execution-end event and to
  * drain the listener bus before the aggregates are read. */
final class LayerListener extends SparkListener with AdaptiveSparkPlanHelper {
  private val aggs = new ConcurrentHashMap[String, LayerAgg]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val stageDurations = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val execTag = new ConcurrentHashMap[Long, String]()
  /** (tag, phase, startMs, endMs) of every Catalyst phase seen. */
  val planSpans = new ConcurrentLinkedQueue[(String, String, Long, Long)]()

  private def agg(tag: String): LayerAgg = aggs.computeIfAbsent(tag, _ => new LayerAgg)

  def get(tag: String): Option[LayerAgg] = Option(aggs.get(tag))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .foreach { tag =>
        agg(tag).jobs += 1
        e.stageInfos.foreach(si => stageTag.put(si.stageId, tag))
      }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) {
      val a = agg(tag)
      val info = e.taskInfo
      a.tasks += 1
      a.busyMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.waitMs += math.max(0L, info.launchTime -
        stageSubmitted.getOrDefault(e.stageId, info.launchTime))
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.resultBytes += m.resultSize
      a.writeBytes += m.outputMetrics.bytesWritten
      stageDurations.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += info.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val tag = stageTag.get(id)
    val ds = stageDurations.remove(id)
    if (tag != null && ds != null && ds.length >= 2) {
      val s = ds.sorted
      val med = s(s.length / 2)
      if (med > 0) agg(tag).skewMax = math.max(agg(tag).skewMax, s.last.toDouble / med)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execTag.put(s.executionId, _))
    case e: SparkListenerSQLExecutionEnd =>
      val tag = execTag.remove(e.executionId)
      if (tag != null && e.qe != null) {
        val a = agg(tag)
        e.qe.tracker.phases.foreach { case (name, p) =>
          name match {
            case "analysis"     => a.analysisMs += p.durationMs
            case "optimization" => a.optimizationMs += p.durationMs
            case "planning"     => a.planningMs += p.durationMs
            case _              =>
          }
          a.phases += ((name, p.startTimeMs, p.endTimeMs))
          planSpans.add((tag, name, p.startTimeMs, p.endTimeMs))
        }
        val plan = e.qe.executedPlan
        a.exchanges += collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.length
        a.broadcasts += collectWithSubqueries(plan) { case x: BroadcastExchangeLike => x }.length
      }
    case _ =>
  }
}

object LayerListener {
  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
