package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's recorder. Spans are taken by the benchmark around its
  * own calls into each layer; Spark listener events give jobs, stages,
  * tasks and the call site of every SQL execution; a sampler thread times
  * `graft.Tables.table` on the op thread. Everything stays in memory until
  * [[record]] writes it out. A disabled trace records nothing and adds no
  * listener.
  */
final class Trace(val on: Boolean, spark: SparkSession) extends SparkListener {
  private val t0 = System.nanoTime()
  def now(): Double = (System.nanoTime() - t0) / 1e9

  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var stack: List[Int] = Nil
  @volatile private var op: Int = -1

  private val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stages = new ConcurrentHashMap[String, mutable.Map[String, Any]]()
  private val stageTasks = new ConcurrentHashMap[String, Array[Double]]()
  private val execFrames = new ConcurrentHashMap[Long, Seq[String]]()

  private val opThread = Thread.currentThread()
  private val samples, tableSamples = new AtomicLong()
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    while (sampling) {
      val st = opThread.getStackTrace
      samples.incrementAndGet()
      if (st.exists(f => f.getClassName == "graft.Tables" && f.getMethodName == "table"))
        tableSamples.incrementAndGet()
      Thread.sleep(1)
    }
  }, "perfbench-sampler")

  if (on) {
    spark.sparkContext.addSparkListener(this)
    sampler.setDaemon(true)
    sampler.start()
  }

  /** Marks the op (index into the run's op list) that later jobs belong to. */
  def beginOp(index: Int): Unit = if (on) {
    op = index
    spark.sparkContext.setLocalProperty("perfbench.op", index.toString)
  }

  /** Runs `body` as a span named `name`, a child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val start = now()
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "op" -> op,
        "start" -> start, "end" -> start)
      stack = id :: stack
      spark.sparkContext.setLocalProperty("perfbench.span", name)
      try body
      finally {
        spans(id) = spans(id).updated("end", now())
        stack = stack.tail
        spark.sparkContext.setLocalProperty("perfbench.span",
          stack.headOption.map(spans(_)("name").toString).orNull)
      }
    }

  /** Share of sampler ticks, since the last call, that found the op thread
    * inside `graft.Tables.table`.
    */
  def takeTablesShare(): Double = {
    val n = samples.getAndSet(0); val h = tableSamples.getAndSet(0)
    if (n == 0) 0.0 else h.toDouble / n
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, mutable.Map("job" -> e.jobId,
      "op" -> prop("perfbench.op").map(_.toInt).getOrElse(-1),
      "span" -> prop("perfbench.span"),
      "exec" -> prop("spark.sql.execution.id").map(_.toLong),
      "site" -> e.stageInfos.maxBy(_.stageId).name,
      "stages" -> e.stageInfos.map(_.stageId),
      "start" -> (e.time / 1e3)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j("end") = e.time / 1e3
      j("ok") = e.jobResult == JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val si = e.stageInfo
    stages.put(s"${si.stageId}.${si.attemptNumber()}", mutable.Map(
      "stage" -> si.stageId, "name" -> si.name,
      "op" -> prop("perfbench.op").map(_.toInt).getOrElse(-1),
      "span" -> prop("perfbench.span"),
      "exec" -> prop("spark.sql.execution.id").map(_.toLong)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageTasks.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}",
      _ => new Array[Double](2))
    val m = e.taskMetrics
    val info = e.taskInfo
    acc.synchronized {
      if (info.failed || info.killed) acc(0) += 1
      if (m != null)
        acc(1) += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val key = s"${si.stageId}.${si.attemptNumber()}"
    val s = stages.computeIfAbsent(key, _ => mutable.Map("stage" -> si.stageId,
      "name" -> si.name, "op" -> -1, "span" -> None, "exec" -> None))
    val tasks = Option(stageTasks.get(key)).getOrElse(new Array[Double](2))
    s ++= Map(
      "submit" -> si.submissionTime.map(_ / 1e3),
      "complete" -> si.completionTime.map(_ / 1e3),
      "tasks" -> si.numTasks,
      "tasks_failed" -> tasks(0).toLong,
      "sched_delay_s" -> tasks(1))
    if (m != null) s ++= Map(
      "run_s" -> m.executorRunTime / 1e3,
      "cpu_s" -> m.executorCpuTime / 1e9,
      "gc_s" -> m.jvmGCTime / 1e3,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
      "spill_disk_bytes" -> m.diskBytesSpilled,
      "input_bytes" -> m.inputMetrics.bytesRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // the long call site is the stack of the thread that ran the action;
      // keep the program's own frames, innermost first, for module attribution
      execFrames.put(s.executionId, s.details.split("\n").toSeq
        .map(_.trim).filter(f => f.startsWith("graft.") || f.startsWith("perfbench.")))
    case _ =>
  }

  /** Everything recorded, as JSON-ready maps. */
  def record(): Map[String, Any] = {
    if (!on) return Map.empty
    sampling = false
    sampler.join()
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    Map(
      "epoch_offset" -> (System.currentTimeMillis() / 1e3 - now()),
      "spans" -> spans.toList,
      "jobs" -> jobs.values.asScala.toList.sortBy(_("job").asInstanceOf[Int]).map(_.toMap),
      "stages" -> stages.values.asScala.toList.map(_.toMap),
      "exec_frames" -> execFrames.asScala.map { case (k, v) => k.toString -> v }.toMap)
  }
}
