package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counter surface ≅ the reference's TaskCounter service
  * (tez-api/src/main/java/org/apache/tez/common/counters/TaskCounter.java:25
  * — REDUCE_INPUT_GROUPS:34, SPILLED_RECORDS:57, SHUFFLE_BYTES:154):
  * aggregated task metrics from a SparkListener over a bracketed scope.
  */
object Counters {

  /** `jobs` counts the Spark jobs started in the scope — the per-call job
    * contract the iterative operators are pinned to. `taskRunMs` sums the
    * executor run time of the scope's tasks: set against the wall time it
    * tells scheduling overhead (many jobs, little task time) from executor
    * compute.
    */
  final case class Snapshot(
      jobs: Long,
      tasks: Long,
      taskRunMs: Long,
      inputRecords: Long,
      inputBytes: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spilledBytes: Long,
      outputRecords: Long)

  /** Run `body` and return (result, aggregated task counters observed
    * during it). Listener-based — zero cost on the data path, works for
    * any query shape, exactly how the reference surfaces counters to
    * DAGClient.
    */
  def track[T](spark: SparkSession)(body: => T): (T, Snapshot) = {
    val acc = new TaskAccumulator
    spark.sparkContext.addSparkListener(acc)
    try {
      val r = body
      // listener bus is async; drain before reading
      org.apache.spark.graftaccess.ListenerBusAccess.drain(spark.sparkContext)
      (r, acc.snapshot)
    } finally spark.sparkContext.removeSparkListener(acc)
  }

  /** Named data-path counters via `Dataset.observe` — the reference's
    * user-defined counter surface (`TezCounters` incremented inside a
    * Processor) re-expressed the Spark-idiomatic way: observed metrics
    * ride the query itself (codegen'd aggregates, no second job, exact
    * even under retries), and land in QueryExecutionListener /
    * StreamingQueryProgress. Returns the observed row for a batch query
    * after `action` runs it.
    */
  def observed[T](spark: SparkSession, name: String,
      df: org.apache.spark.sql.DataFrame,
      metrics: Seq[org.apache.spark.sql.Column])(
      action: org.apache.spark.sql.DataFrame => T): (T, org.apache.spark.sql.Row) = {
    @volatile var captured: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val m = qe.observedMetrics.get(name)
        if (m.isDefined) captured = m
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = action(df.observe(name, metrics.head, metrics.tail: _*))
      org.apache.spark.graftaccess.ListenerBusAccess.drain(spark.sparkContext)
      var waited = 0
      while (captured.isEmpty && waited < 5000) { Thread.sleep(50); waited += 50 }
      (r, captured.getOrElse(throw new IllegalStateException("observed metrics not delivered")))
    } finally spark.listenerManager.unregister(listener)
  }

  private final class TaskAccumulator extends SparkListener {
    private val m = mutable.Map.empty[String, Long].withDefaultValue(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      m("jobs") += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val tm = e.taskMetrics
      if (tm != null) {
        m("tasks") += 1
        m("taskRunMs") += tm.executorRunTime
        m("inputRecords") += tm.inputMetrics.recordsRead
        m("inputBytes") += tm.inputMetrics.bytesRead
        m("shuffleReadBytes") += tm.shuffleReadMetrics.totalBytesRead
        m("shuffleWriteBytes") += tm.shuffleWriteMetrics.bytesWritten
        m("spilledBytes") += tm.diskBytesSpilled
        m("outputRecords") += tm.outputMetrics.recordsWritten
      }
    }
    def snapshot: Snapshot = synchronized {
      Snapshot(m("jobs"), m("tasks"), m("taskRunMs"), m("inputRecords"),
        m("inputBytes"), m("shuffleReadBytes"), m("shuffleWriteBytes"),
        m("spilledBytes"), m("outputRecords"))
    }
  }
}
