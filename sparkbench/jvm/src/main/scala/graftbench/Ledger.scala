package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans opened by the benchmark around each call into the engine.
  * While a span is open its id is the Spark job group, so every job the
  * call submits is parented to it. Spans stay in memory until the
  * record is written. Disabled, it only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Map("id" -> id, "name" -> name, "parent" -> parent,
          "start_ms" -> start, "end_ms" -> end) ++ attrs
      }
    }
}

object Tracer {
  val off = new Tracer(null, enabled = false)
}

/** Scheduler, executor, block-manager and Catalyst events, kept raw;
  * run.py turns them into the per-layer metrics. Block bookkeeping runs
  * from registration on, so blocks left behind by earlier work count as
  * live; the other events are kept only while `recording`. */
final class Ledger extends SparkListener with QueryExecutionListener {
  @volatile var recording = false
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val jobEnds = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val plans = ArrayBuffer.empty[Map[String, Any]]
  val blocks = ArrayBuffer.empty[Map[String, Any]]
  private val liveBlocks = scala.collection.mutable.HashMap.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Map("job" -> e.jobId, "start_ms" -> e.time,
      "group" -> group.flatMap(_.toIntOption).getOrElse(-1), "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) synchronized {
    jobEnds += Map("job" -> e.jobId, "end_ms" -> e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) synchronized {
    val s = e.stageInfo
    stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks, "submit_ms" -> s.submissionTime.getOrElse(-1L),
      "end_ms" -> s.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      m.map(f).getOrElse(0L)
    tasks += Map("stage" -> e.stageId, "launch_ms" -> i.launchTime,
      "finish_ms" -> i.finishTime, "ok" -> i.successful,
      "run_ms" -> metric(_.executorRunTime), "cpu_ns" -> metric(_.executorCpuTime),
      "gc_ms" -> metric(_.jvmGCTime),
      "shuffle_write_b" -> metric(_.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_b" -> metric(_.shuffleReadMetrics.totalBytesRead),
      "fetch_wait_ms" -> metric(_.shuffleReadMetrics.fetchWaitTime),
      "spill_b" -> metric(_.diskBytesSpilled),
      "input_b" -> metric(_.inputMetrics.bytesRead),
      "input_rows" -> metric(_.inputMetrics.recordsRead))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      if (b.storageLevel.isValid) liveBlocks(b.blockId.name) = b.memSize + b.diskSize
      else liveBlocks.remove(b.blockId.name)
      blocks += Map("t_ms" -> System.currentTimeMillis(),
        "bytes" -> liveBlocks.valuesIterator.sum, "live" -> liveBlocks.size)
    }
  }

  private def plan(func: String, qe: QueryExecution, ok: Boolean): Unit = if (recording) synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += Map("func" -> func, "ok" -> ok,
        "start_ms" -> phases.map(_.startTimeMs).min,
        "plan_ms" -> phases.map(_.durationMs).sum)
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(func, qe, ok = true)

  override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit =
    plan(func, qe, ok = false)

  def snapshot: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "job_ends" -> jobEnds.toList,
      "stages" -> stages.toList, "tasks" -> tasks.toList,
      "plans" -> plans.toList, "blocks" -> blocks.toList)
  }
}
