package jqbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals of one benchmark pass. */
final class PassStats {
  var tasks = 0
  var cpuNs = 0L
}

/** Collects what Spark reports about each pass: task metrics from the
  * listener bus, grouped by the pass's job group, and the rows in (corpus
  * scan) and out (`Generate` node) from the executed plan's SQL metrics.
  * Events arrive asynchronously; callers drain the bus
  * ([[org.apache.spark.JqBenchBus.drain]]) before reading a pass. */
final class SparkStats extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val stageGroup = TrieMap.empty[Int, String]
  private val groups = TrieMap.empty[String, PassStats]
  @volatile private var scanned = 0L
  @volatile private var generated = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new PassStats)
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    scanned += collect(plan) { case s: InMemoryTableScanExec => s.metrics("numOutputRows").value }.sum
    generated += collect(plan) { case g: GenerateExec => g.metrics("numOutputRows").value }.sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def pass(group: String): PassStats = groups.getOrElse(group, new PassStats)

  /** Rows the cached-corpus scans read and the `Generate` nodes emitted
    * since the last call. */
  def takeRows(): (Long, Long) = { val r = (scanned, generated); scanned = 0L; generated = 0L; r }
}
