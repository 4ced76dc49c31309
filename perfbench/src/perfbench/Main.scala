package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Runs one benchmark workload in one JVM and writes the raw run record
  * (`record.json` in the output directory); `perfbench/run.py` turns the
  * record into metrics.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), data
  * (input table directory), out (output directory), cores, and for
  * index_store cells (IVF cells; the inputs' initial slice holds every id
  * below it).
  */
object Main extends AdaptiveSparkPlanHelper {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, cores: Int,
      cells: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"), kv("cores").toInt,
      kv.get("cells").map(_.toInt).getOrElse(0))
    val spark = graft.Engine
      .configure(SparkSession.builder().master(s"local[${a.cores}]")
        .appName("perfbench"), a.cores)
      .getOrCreate()
    graft.functions.install(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Trace(a.trace, spark)
    def make(a: Args): Workload = a.workload match {
      case "relational" => new QueryWorkload(spark, a, tr, QueryWorkload.Relational)
      case "curation"   => new QueryWorkload(spark, a, tr, QueryWorkload.Curation)
      case "index_store" => new IndexStoreWorkload(spark, a, tr)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val sessionS = uptimeS()
    val w = make(a)
    // check references that need only the inputs are computed beside the
    // warm-up; one untimed pass over the inputs compiles and JIT-warms every
    // plan shape the timed passes run (a pass over smaller inputs left the
    // first timed pass about 30% slower than the later ones)
    val prepared = concurrent(w.prepare())
    make(a.copy(out = s"${a.out}/warm")).warmUp()
    prepared()
    graft.CacheScope.drain()
    spark.catalog.clearCache()
    val warmS = uptimeS() - sessionS
    log("warm-up done")
    val rec = w.run()
    val out = rec ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "session_jvm_s" -> sessionS, "warm_up_s" -> warmS,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList,
      "vm_hwm_mb" -> vmHwmMb(),
      "trace" -> tr.record())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out, "record.json"), Json(out))
    log("record written")
    spark.stop()
    log("session stopped")
  }

  /** Starts `body` on its own thread; the returned function waits for it
    * and rethrows what it threw.
    */
  def concurrent(body: => Unit): () => Unit = {
    var failure: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => failure = e })
    t.start()
    () => { t.join(); if (failure != null) throw failure }
  }

  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def log(msg: String): Unit = System.err.println(f"[perfbench jvm ${uptimeS()}%7.2fs] $msg")

  /** Restarts VmHWM at the current resident set (Linux clear_refs 5). */
  def resetVmHwm(): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  /** Plan node count, exchange count and files scanned of an executed
    * query, through adaptive stages and subqueries.
    */
  def planShape(df: DataFrame): (Int, Int, Long) = {
    val plan = df.queryExecution.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }.size
    val exchanges = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    (nodes, exchanges, filesScanned(df))
  }

  def filesScanned(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

/** A workload: set-up (the constructor), timed passes, checks. */
abstract class Workload(spark: SparkSession, a: Main.Args, tr: Trace) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcS = gcBeans.map(_.getCollectionTime).sum / 1e3
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Ops of one pass, in the order the pass runs them. */
  def pass(n: Int): Seq[Op]
  /** The untimed warm-up pass. */
  def warmUp(): Unit = Loop.run(-1, pass(-1), () => 0.0)
  /** Check work that needs only the inputs; runs beside the warm-up. */
  def prepare(): Unit = ()
  /** Check work after the timed phase. */
  def finish(): Unit = ()
  /** Expected digest of an op, known once [[prepare]] and [[finish]] have
    * run.
    */
  def expected(r: OpResult): Option[String]
  /** Per-op layer numbers (the traced run's, and the store layout). */
  def opExtras(index: Int): Map[String, Any]
  /** Workload-level numbers (store layout, streaming progress). */
  def extras(): Map[String, Any] = Map.empty
  /** Runs the timed interval `f` of an op; what it adds stays outside
    * the op's timing.
    */
  def around(pass: Int, i: Int, op: Op)(f: () => Unit): Unit
  def opIndex(pass: Int, i: Int): Int = pass * 10000 + i

  /** Timed passes, one after another, as many whole passes as fit in
    * `seconds` at the pace of the passes so far (at least [[Workload.MinPasses]],
    * so the pass wall time is not a single sample), then the output checks.
    */
  def run(): Map[String, Any] = {
    Main.log("set-up done")
    // the memory peaks cover the timed passes only: collect what set-up and
    // warm-up left behind, then restart the peak counters
    System.gc()
    Main.resetVmHwm()
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcS
    val firstOpJvmS = Main.uptimeS()
    val t0 = tr.now()
    val results = scala.collection.mutable.ArrayBuffer[(Seq[OpResult], Double)]()
    while (results.size < Workload.MinPasses ||
        (tr.now() - t0) * (results.size + 1) / results.size <= a.seconds) {
      val p = results.size
      val ops = pass(p)
      val ps = tr.now()
      val outs = Loop.run(p, ops, () => tr.now(), (i, op) => around(p, i, op))
      val wall = tr.now() - ps
      // digests are checks, not program work: outside the pass wall time
      // and booked to no op in the trace
      tr.beginOp(-1)
      results += ((Loop.digest(ops, outs), wall))
    }
    Main.log(s"timed phase done: ${results.size} passes")
    val gc = gcS - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tr.beginOp(-1)
    finish()
    val checked = Loop.check(results.toSeq.flatMap(_._1), expected)
    Main.log("checks done")
    Map(
      "first_op_jvm_s" -> firstOpJvmS,
      "pass_wall_s" -> results.map(_._2),
      "ops" -> checked.map { r =>
        Map("pass" -> r.pass, "index" -> r.index, "kind" -> r.kind, "name" -> r.name,
          "start_s" -> r.startS, "dur_s" -> r.durS, "error" -> r.error) ++
          opExtras(opIndex(r.pass, r.index))
      },
      "jvm_gc_s" -> gc,
      "heap_used_peak_mb" -> heapPeakMb) ++ extras()
  }

  protected def seeded[A](xs: Seq[A], salt: Long): Seq[A] =
    new scala.util.Random(a.seed * 1000003L + salt).shuffle(xs)
}

object Workload {
  val MinPasses = 2
}

object QueryWorkload {
  /** The reference's example DAG shapes plus the TPC-H-shaped joins. */
  val Relational = Seq("q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08",
    "q09", "q10", "q11", "q19", "q41", "q51", "q52", "q60", "q66", "q89")
  /** The curation-to-shards family. */
  val Curation = Seq("q222", "q230")
}

/** Queries from `graft.SparkEntry`: each op builds the query's DataFrame and
  * collects every row and column of it. A query's first timed output is
  * written out for the DuckDB oracle, and every later execution of the
  * query must produce the same rows.
  */
final class QueryWorkload(spark: SparkSession, a: Main.Args, tr: Trace,
    prefixes: Seq[String]) extends Workload(spark, a, tr) {

  private val all = graft.SparkEntry.queries
  private val names = prefixes.map(p => all.keys.find(_.startsWith(p + "_"))
    .getOrElse(throw new IllegalArgumentException(s"no query $p")))
  private val reference = scala.collection.mutable.Map[String, String]()
  private val firstOutput = scala.collection.mutable.Map[String, (Array[Row], DataFrame)]()
  private val extrasByOp = scala.collection.mutable.Map[Int, Map[String, Any]]()
  private var current: DataFrame = _

  private def op(name: String): Op = Op("query", name, () => {
    val df = tr.span("queries.construct")(all(name)(spark, a.data))
    current = df
    val rows = tr.span("exec.action")(df.collect())
    if (!firstOutput.contains(name)) firstOutput(name) = (rows, df)
    rows
  }, rows => {
    val d = Loop.digestRows(rows.asInstanceOf[Array[Row]])
    reference.getOrElseUpdate(name, d)
    d
  })

  def pass(n: Int): Seq[Op] = seeded(names, n).map(op)

  override def finish(): Unit = {
    val dump = java.nio.file.Paths.get(a.out, "oracle")
    java.nio.file.Files.createDirectories(dump)
    firstOutput.foreach { case (n, (rows, df)) =>
      spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.parquet(dump.resolve(n).toString)
    }
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(dump.resolve("oracle_sql.json"), Json(sql))
  }

  private def drain(): Unit = {
    graft.CacheScope.drain()
    spark.catalog.clearCache()
  }

  private def filesDiscovered: Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  override def around(pass: Int, i: Int, op: Op)(f: () => Unit): Unit = {
    tr.beginOp(opIndex(pass, i))
    tr.takeTablesShare()
    val files0 = filesDiscovered
    val t0 = tr.now()
    f()
    val opS = tr.now() - t0
    if (tr.on) {
      val tablesShare = tr.takeTablesShare()
      val files = filesDiscovered - files0
      val storage = spark.sparkContext.getRDDStorageInfo
      val cat = Option(current).map { df =>
        val ph = df.queryExecution.tracker.phases
        val (nodes, exchanges, scanFiles) = Main.planShape(df)
        Map("analysis_s" -> ph.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0),
          "optimization_s" -> ph.get("optimization").map(_.durationMs / 1e3).getOrElse(0.0),
          "planning_s" -> ph.get("planning").map(_.durationMs / 1e3).getOrElse(0.0),
          "plan_nodes" -> nodes, "exchanges" -> exchanges, "scan_files" -> scanFiles)
      }.getOrElse(Map.empty)
      extrasByOp(opIndex(pass, i)) = cat ++ Map(
        "tables_resolve_s" -> tablesShare * opS,
        "files_discovered" -> files,
        "cache_blocks" -> storage.map(_.numCachedPartitions.toLong).sum,
        "cache_bytes" -> storage.map(s => s.memSize + s.diskSize).sum)
    }
    current = null
    tr.span("cachescope.drain")(drain())
  }

  def expected(r: OpResult): Option[String] = reference.get(r.name)

  override def opExtras(index: Int): Map[String, Any] = extrasByOp.getOrElse(index, Map.empty)

}
