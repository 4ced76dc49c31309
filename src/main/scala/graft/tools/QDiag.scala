package graft.tools

import graft.{Counters, Engine}

/** Per-query diagnostic (read-only — never on a query path): runs the
  * named queries with a full-output action — a `noop` write of every
  * column, so Catalyst cannot prune the scoring columns the way it can
  * under `count()` — and prints wall time (construction plus action), job
  * count and summed task time per rep ([[Counters.track]]), so a slow row
  * can be attributed to scheduling overhead (many jobs, little task time)
  * vs executor compute (task time ≈ wall × cores) vs stragglers (wall ≫
  * task time / cores). Whole-query attribution of the composed rows (e.g.
  * `QDiag q238,q150`); the stage-level findings behind their last
  * optimizations are in OPTIMIZATION_r17.md.
  *
  * Usage: sbt "runMain graft.tools.QDiag <q1,q2,...> [reps]" (one query
  * per number, [[QuerySelect]]) with SPARK_GRAFT_SF_DIR selecting the
  * data directory (default sf0.1).
  */
object QDiag {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QDiag <q1,q2,...> [reps]")
    val reps = if (args.length > 1) args(1).toInt else 3
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(appName = "qdiag")
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- QuerySelect(args(0)); rep <- 1 to reps) {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val (_, c) = Counters.track(spark)(
        fn(spark, dir).write.format("noop").mode("overwrite").save())
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[qdiag] $name%-34s rep$rep $dt%8.3f s" +
        f"  jobs=${c.jobs}%3d taskTime=${c.taskRunMs / 1e3}%8.2f s")
      graft.CacheScope.drain()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
