package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainUtils, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.{Engine, SparkEntry}

/** Dumps the FULL formatted physical plan of selected queries to files —
  * the optimization-round evidence artifact (`plans/r<N>/`), where
  * PLANS.md keeps only the abridged headline dumps.
  *
  * The dump is deterministic, so two dumps of the same code diff empty:
  *  - every adaptive plan prints as its initial (pre-AQE) plan, also
  *    inside the cached relations a query's construction already ran,
  *    whose final plans (e.g. a broadcast build side) depend on stage
  *    timing;
  *  - expression ids, lambda-variable suffixes, `plan_id`s, RDD ids,
  *    closure objects (a `MapPartitions` function), source line numbers
  *    (the `localCheckpoint` call sites), the [[graft.RunCache]]
  *    directory's name and the sequence number ending each artifact's
  *    name in it are masked, so a dump does not depend on which queries
  *    ran before it.
  *
  * Usage: sbt "runMain graft.tools.PlanSnap <outDir> <suffix> <q1,q2,...>"
  * (one query per number, [[QuerySelect]]) with SPARK_GRAFT_SF_DIR
  * selecting the data directory (default sf0.1 — the benchmark's scale
  * factor, so plan shapes match what the bench times).
  * Writes `<outDir>/<query>_<suffix>.txt` per query.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      s"usage: PlanSnap <outDir> <suffix> <q1,q2,...> (got ${args.length} args)")
    val Array(outDir, suffix, list) = args
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(appName = "plansnap")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (name <- QuerySelect(list)) {
      val df = SparkEntry.queries(name)(spark, dir)
      val out = new StringBuilder("== Physical Plan ==\n")
      ExplainUtils.processPlan(initial(df.queryExecution.executedPlan),
        (s: String) => out.append(s))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        masked(out.toString))
      println(s"[plansnap] $outDir/${name}_$suffix.txt")
      graft.CacheScope.drain()
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** `plan` with every adaptive plan replaced by its initial plan, in
    * subqueries and cached relations too.
    */
  private def initial(plan: SparkPlan): SparkPlan =
    plan.transformUpWithSubqueries {
      case a: AdaptiveSparkPlanExec => initial(a.initialPlan)
      case s: InMemoryTableScanExec =>
        val b = s.relation.cacheBuilder
        s.copy(relation = s.relation.copy(
          cacheBuilder = b.copy(cachedPlan = initial(b.cachedPlan))))
    }

  private val masks = Seq(
    "#\\d+" -> "#N", // expression ids
    "\\b(lambda \\w+?)_\\d+" -> "$1_N", // lambda-variable suffixes
    "plan_id=\\d+" -> "plan_id=N",
    "RDD\\[\\d+\\]" -> "RDD[N]",
    "\\$Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+" -> "\\$Lambda\\$N", // closures
    "graft_run_\\d+" -> "graft_run_N", // the per-JVM artifact cache dir
    "(graft_run_N/[^/\\s]*)_\\d+" -> "$1_N", // an artifact's sequence number
    "(\\w+\\.(?:scala|java)):\\d+" -> "$1:N") // call-site lines

  private def masked(plan: String): String =
    masks.foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }
}
