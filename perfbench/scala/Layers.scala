package graftbench

import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Driver planning phases (analysis, optimization, planning) of every
  * executed query, from each QueryExecution's tracker. Registered
  * through `spark.sql.queryExecutionListeners`, so the drains' own
  * sessions (`spark.newSession()`) report here too. */
class PlanningListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanningListener.ms.add(qe.tracker.phases.values.map(_.durationMs.toDouble).sum)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
object PlanningListener { val ms = new DoubleAdder }

/** Context-level listener for jobs, stages, tasks and streaming
  * progress. Context level because the drains run on
  * `spark.newSession()`, whose `spark.streams` listeners would miss
  * the main session's view. */
final class Layers(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private var stages, tasks, batches = 0L
  private var runMs, cpuNs, shRead, shWrite, spill = 0.0
  private val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val stateRows = mutable.HashMap.empty[String, Long]
  private val stateMem = mutable.HashMap.empty[String, Long]
  private var stateCommitMs = 0.0
  sc.addSparkListener(this)

  def reset(): Unit = synchronized {
    jobs.clear(); jobStart.clear(); stages = 0; tasks = 0; batches = 0
    runMs = 0; cpuNs = 0; shRead = 0; shWrite = 0; spill = 0
    phases.clear(); stateRows.clear(); stateMem.clear(); stateCommitMs = 0
    PlanningListener.ms.reset()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += (s -> e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val pr = p.progress
      batches += 1
      pr.durationMs.asScala.foreach { case (k, v) => phases(k) += v.doubleValue }
      // one entry per (run, operator): the latest progress holds the
      // final state size
      pr.stateOperators.zipWithIndex.foreach { case (s, i) =>
        stateRows(s"${pr.runId}/$i") = s.numRowsTotal
        stateMem(s"${pr.runId}/$i") = s.memoryUsedBytes
        stateCommitMs += s.commitTimeMs
      }
    }
    case _ =>
  }

  /** Wall time inside no job, given the union of job intervals. */
  private def outsideJobsMs(from: Long, to: Long): Double = {
    var covered, end = 0L
    var cur = from
    jobs.map { case (s, e) => (s max from, e min to) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > cur) { covered += e - s; cur = e }
        else if (e > cur) { covered += e - cur; cur = e }
        end = cur
      }
    (to - from) - covered
  }

  def report(rec: Json, from: Long, to: Long, passes: Int, cpus: Int): Unit = synchronized {
    val p = passes.toDouble
    val wallS = (to - from) / 1e3
    rec.num("spark.planning_s", PlanningListener.ms.sum / 1e3 / p)
    rec.num("spark.driver_gap_s", outsideJobsMs(from, to) / 1e3 / p)
    rec.num("spark.jobs", jobs.size / p)
    rec.num("spark.stages", stages / p)
    rec.num("spark.tasks", tasks / p)
    rec.num("spark.tasks_per_stage", if (stages > 0) tasks.toDouble / stages else 0.0)
    rec.num("spark.task_run_s", runMs / 1e3 / p)
    rec.num("spark.task_cpu_s", cpuNs / 1e9 / p)
    rec.num("spark.slot_util", runMs / 1e3 / (wallS * cpus))
    rec.num("spark.shuffle_read_mb", shRead / 1048576 / p)
    rec.num("spark.shuffle_write_mb", shWrite / 1048576 / p)
    rec.num("spark.spill_mb", spill / 1048576 / p)
    rec.num("drain.batches", batches / p)
    for ((k, name) <- Seq("getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms",
        "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
        "commitOffsets" -> "commit_offsets_ms"))
      rec.num(s"drain.$name", phases(k) / p)
    rec.num("drain.state_rows", stateRows.values.sum / p)
    rec.num("drain.state_mem_mb", stateMem.values.sum / 1048576.0 / p)
    rec.num("drain.state_commit_ms", stateCommitMs / p)
  }
}
