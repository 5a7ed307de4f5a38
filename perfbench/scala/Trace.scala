package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** One timed interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, var endNs: Long)

/** Spans of the traced run, kept in memory and written once at exit. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def open(name: String, op: Int, parent: Int): Int = synchronized {
    buf += Span(buf.size, name, op, parent, System.nanoTime(), -1L)
    buf.size - 1
  }
  def close(id: Int): Unit = synchronized { buf(id).endNs = System.nanoTime() }
  def durationMs(id: Int): Double = synchronized((buf(id).endNs - buf(id).startNs) / 1e6)
  /** Runs `f` as a span of `parent`. */
  def time[T](name: String, op: Int, parent: Int)(f: => T): T = {
    val id = open(name, op, parent)
    try f finally close(id)
  }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Job, stage and task counters per tag. A job's tag is the `perfbench.tag`
  * local property in force when it was submitted (for example `7/construct`
  * or `7/exec` for op 7), so jobs are attributed to the step that ran them
  * without flushing the listener bus inside the timed window. */
final class JobListener extends SparkListener {
  final class Counts {
    var jobs = 0L; var schemaJobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var gcMs = 0L; var inputBytes = 0L; var taskFailures = 0L
    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs, "schema_jobs" -> schemaJobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill, "gc_ms" -> gcMs,
      "scan_bytes" -> inputBytes, "task_failures" -> taskFailures)
  }
  private val byTag = mutable.HashMap.empty[String, Counts]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def counts(tag: String) = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.TagKey))).getOrElse("untagged")
    val c = counts(tag)
    c.jobs += 1
    // a bare spark.read.parquet infers the schema with a job whose call
    // site is the parquet read itself
    if (e.stageInfos.exists(_.name.startsWith("parquet at"))) c.schemaJobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = counts(stageTag.getOrElse(info.stageId, "untagged"))
    c.stages += 1
    c.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success)
      counts(stageTag.getOrElse(e.stageId, "untagged")).taskFailures += 1
  }

  def snapshot: Map[String, Map[String, Long]] = synchronized(byTag.map { case (k, v) => k -> v.toMap }.toMap)
}

object JobListener {
  val TagKey = "perfbench.tag"
  def tag(sc: SparkContext, t: String): Unit = sc.setLocalProperty(TagKey, t)
}

/** Node counts of a final (post-AQE) physical plan, subqueries included. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Long] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "plan_nodes" -> nodes.size.toLong,
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }.toLong,
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]).toLong,
      "bnlj_nodes" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toLong)
  }
}
