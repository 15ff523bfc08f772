package migbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters for the traced run: a `SparkListener` (jobs,
  * stages, tasks, executor time, shuffle, spill and written records) and
  * a `QueryExecutionListener` (analysis + optimization + planning time).
  * `snapshot` drains the listener bus first.
  */
final class SparkCounters(spark: SparkSession) {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong(0L)).addAndGet(v)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (!e.taskInfo.successful) add("spark.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_ms", m.executorRunTime)
        add("spark.executor_cpu_ns", m.executorCpuTime)
        add("spark.jvm_gc_ms", m.jvmGCTime)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.records_written", m.outputMetrics.recordsWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      add("spark.planning_ms", ms)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
  }

  def snapshot(): Map[String, Long] = {
    org.apache.spark.migbench.BusDrain(spark.sparkContext)
    c.map { case (k, v) => k -> v.get }.toMap
  }
}
