package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the traced run. `parent` 0 marks a root span (one op
  * execution); times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Any]) {
  def toJson: String = Json(Map("id" -> id, "parent" -> parent, "name" -> name,
    "start_ns" -> startNs, "end_ns" -> endNs, "attrs" -> attrs))
}

/** In-memory span store and counters of the traced run. The client thread
  * adds op spans; the listeners below add Spark job and stage spans and
  * bump counters from the listener bus thread. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { spanBuf += s }
  def bump(key: String, v: Double): Unit = synchronized { counts(key) += v }
  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def counters: Map[String, Double] = synchronized(counts.toMap)
}

object Tracer {
  /** SparkContext local property naming the root span of the execution
    * that submitted a job. Threads started by the op (streaming query
    * threads) inherit it, so their jobs hang under the same root. */
  val ExecProp = "perfbench.exec"

  private val msToNs = 1000000L

  /** Spark jobs, stages and tasks of traced executions, and streaming
    * progress of every query on the SparkContext (session clones
    * included, which a session-level StreamingQueryListener would miss). */
  final class SparkEvents(t: Tracer) extends SparkListener {
    private val jobs = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, root, start ms)
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
    private val stateRows = mutable.Map.empty[String, Long]
    private val stateBytes = mutable.Map.empty[String, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(ExecProp))).foreach { root =>
        jobs(e.jobId) = (t.nextId(), root.toLong, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
        t.bump("spark.jobs", 1)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (id, root, start) =>
        t.add(Span(id, root, "spark.job", start * msToNs, e.time * msToNs, Map("job" -> e.jobId)))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      i.submissionTime.foreach(ms => stageSubmitted((i.stageId, i.attemptNumber())) = ms)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for {
        job <- stageJob.get(i.stageId)
        (jobSpan, _, _) <- jobs.get(job)
        start <- i.submissionTime
        end <- i.completionTime
      } {
        t.add(Span(t.nextId(), jobSpan, "spark.stage", start * msToNs, end * msToNs,
          Map("stage" -> i.stageId, "tasks" -> i.numTasks)))
        t.bump("spark.stages", 1)
      }
      stageSubmitted.remove((i.stageId, i.attemptNumber()))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.get(e.stageId).exists(jobs.contains)) {
        t.bump("spark.tasks", 1)
        if (e.reason != Success) t.bump("spark.failed_tasks", 1)
        stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { submitted =>
          t.bump("spark.task_wait_s", math.max(0L, e.taskInfo.launchTime - submitted) / 1e3)
        }
        Option(e.taskMetrics).foreach { m =>
          t.bump("spark.task_run_s", m.executorRunTime / 1e3)
          t.bump("spark.task_cpu_s", m.executorCpuTime / 1e9)
          t.bump("spark.gc_s", m.jvmGCTime / 1e3)
          t.bump("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          t.bump("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          t.bump("spark.spill_mb", m.diskBytesSpilled / 1e6)
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        def ms(k: String): Double = Option(pr.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        t.bump("streaming.batches", 1)
        t.bump("streaming.input_rows", pr.numInputRows.toDouble)
        t.bump("streaming.add_batch_s", ms("addBatch"))
        t.bump("streaming.query_planning_s", ms("queryPlanning"))
        t.bump("streaming.wal_commit_s", ms("walCommit"))
        // state held at the query's latest batch, summed over queries
        val run = pr.runId.toString
        stateRows(run) = pr.stateOperators.map(_.numRowsTotal).sum
        stateBytes(run) = pr.stateOperators.map(_.memoryUsedBytes).sum
      case _ =>
    }

    def stateTotals: (Double, Double) =
      (stateRows.values.sum.toDouble, stateBytes.values.sum / 1e6)
  }

  /** Write actions: the ops write inside `build`, before the action the
    * harness times, so only a QueryExecutionListener sees them. */
  final class Writes(t: Tracer) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ns = PlanStats.nodes(qe.executedPlan)
      val file = ns.collect {
        case d: DataWritingCommandExec => d: SparkPlan
        case c: ExecutedCommandExec if c.cmd.isInstanceOf[SaveIntoDataSourceCommand] => c
      }
      val dsv2 = ns.collect { case w: V2TableWriteExec => w: SparkPlan }
      if (file.nonEmpty || dsv2.nonEmpty) {
        def m(ps: Seq[SparkPlan], k: String) =
          ps.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
        t.bump("sink.write_actions", 1)
        t.bump(if (file.nonEmpty) "sink.file_write_s" else "sink.dsv2_write_s", durationNs / 1e9)
        t.bump("sink.output_mb", m(file ++ dsv2, "numOutputBytes") / 1e6)
        t.bump("sink.output_rows", m(file ++ dsv2, "numOutputRows"))
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
