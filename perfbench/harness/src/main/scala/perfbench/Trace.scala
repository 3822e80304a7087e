package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, fed only by listeners this class
  * registers: Catalyst phases from each action's `QueryExecution.tracker`,
  * task and stage metrics from a `SparkListener`, micro-batch progress from
  * a `StreamingQueryListener`, and codegen compiles from `CodegenMetrics`
  * (count) and the code generator's own per-compile timing line (time).
  *
  * Counters only grow; a caller takes [[snapshot]]s around a region and
  * subtracts them. */
final class Trace(spark: SparkSession) {
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageBatch = mutable.Map.empty[Int, String]
  private val batchTasks = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = qe.tracker.phases.foreach {
      case ("analysis", p) => add("plan.analysis_ms", p.durationMs.toDouble)
      case ("optimization", p) => add("plan.optimization_ms", p.durationMs.toDouble)
      case ("planning", p) => add("plan.planning_ms", p.durationMs.toDouble)
      case _ =>
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      Option(e.properties).foreach { p =>
        val q = p.getProperty("sql.streaming.queryId")
        val b = p.getProperty("streaming.sql.batchId")
        if (q != null && b != null) counters.synchronized {
          e.stageIds.foreach(s => stageBatch(s) = s"$q/$b")
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      counters.synchronized { stageBatch.get(e.stageId).foreach(k => batchTasks(k) += 1) }
      val m = e.taskMetrics
      if (m != null) {
        add("exec.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.executor_run_ms", m.executorRunTime.toDouble)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      counters.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val codegenLine = "Code generated in ([0-9.]+) ms".r.unanchored
  private val codegenLogger = LogManager.getLogger(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").asInstanceOf[CoreLogger]
  private val codegenAppender =
    new AbstractAppender("perfbench-codegen", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case codegenLine(ms) => add("codegen.compile_ms", ms.toDouble)
        case _ =>
      }
    }

  def start(): Unit = {
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(execListener)
    spark.streams.addListener(streamListener)
    codegenAppender.start()
    codegenLogger.addAppender(codegenAppender)
    codegenLogger.setAdditive(false)
    codegenLogger.setLevel(Level.INFO)
  }

  /** Every counter, after all events posted so far have been delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counters.synchronized {
      counters.toMap + ("codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
    }
  }

  /** Progress reports received so far, in arrival order. */
  def batches(): Seq[StreamingQueryProgress] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counters.synchronized(progress.toList)
  }

  /** Tasks run by each micro-batch seen so far, keyed "queryId/batchId". */
  def tasksPerBatch(): Map[String, Int] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    counters.synchronized(batchTasks.toMap)
  }
}

object Trace {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
