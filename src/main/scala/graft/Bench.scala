package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Each query is forced with a
  * count() action; the first query's session warms codegen + file listing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // 1-min system load average BEFORE the session spins up — once the
    // warm loop saturates local[32] the load reflects the bench itself,
    // so only the start-of-process sample isolates EXTERNAL load. This
    // box has shown host stalls that inflate timings 3-20× (the round-6
    // driver run recorded 61s for a 48.6s suite); load_start ≳ 1 marks a
    // contaminated record. load_end (bench + external) is recorded for
    // completeness.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.defaultCores
    val spark = Engine
      .configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    graft.functions.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed pre-warm at the smallest SF (≅ the reference's session
    // pre-warm, PreWarmVertex.java:54): running every query shape once
    // compiles its generated classes and JITs the hot paths, so the timed
    // loop measures steady-state engine throughput instead of first-run
    // janino/JIT storms (which at sf0.1 dominate the heavy dedup queries).
    // two-stage warm: sf0.001 compiles every query shape cheaply; sf0.01
    // additionally triggers the AQE plan variants (join-strategy switches)
    // that only appear past broadcast thresholds, so the timed sf0.1 runs
    // don't pay a scale-shift janino/JIT bill on their first pass
    // Dev filter: SPARK_GRAFT_ONLY=q61,q62 times a subset (driver runs
    // without it → full suite; the bucketed rows are skipped when filtered)
    val only = tools.QuerySelect.fromEnv()
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    for (warmDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
      spark.catalog.clearCache()
    }
    val (results, failed) = timeQueries(selected.toSeq.sortBy(_._1).map {
      case (name, fn) => name -> (() => { fn(spark, sfDir).count(); () })
    }) { () =>
      // operators that persist reused subplans (minhash/jaccard) would
      // otherwise accumulate cached blocks across queries and skew later
      // timings with eviction/GC pressure; drain() also empties the
      // CacheScope registry so it can't grow across the suite
      CacheScope.drain()
      spark.catalog.clearCache()
    }
    val all = results ++
      (if (only.isEmpty) bucketedComparison(spark, sfDir) else Nil)
    // Per-query values rounded to ms and the total placed LAST: the
    // harness stores only the final ~2KB of output, so with the map first
    // a truncated capture still ends with ...,"metric":"total","value":N}
    // (round 2 lost the total to exactly this truncation).
    def ms(v: Double): String = // locale-proof: '.' decimal sep always
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = if (all.nonEmpty) all.map(_._2).sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadEnd = osBean.getSystemLoadAverage
    // contamination self-label as a FIELD, not just prose: load_start > 1
    // means external load polluted the timings, and a record that says so
    // in-band can't be mistaken for (or committed as) an idle run
    val contaminated = loadStart > 1.0
    val line =
      s"""{"queries":$qs,"failed":$failedJson,"sf":"$sfDir","load_start":${ms(loadStart)},"load_end":${ms(loadEnd)},"contaminated":$contaminated,"unit":"sec","metric":"total","value":${ms(total)}}"""
    println(line)
    // The full one-line record above is ~8KB (264 per-query entries) while
    // the driver stores only the final ~2KB of stdout — BENCH_r13..r16 all
    // recorded parsed: null because the captured tail starts mid-map and
    // strict JSON parse fails. Measurement-capture fix (additions-only,
    // guide §1 / OPTIMIZATION_r17.md): ALSO print a compact summary line,
    // LAST, that always fits the tail window; same "metric"/"value"/"unit"/
    // "sf" fields the driver extracts, with the full per-query map in
    // BENCH_LOCAL.json (pointed to by "detail"). The full line stays
    // printed first so a truncated capture still shows the final rows.
    val compact =
      s"""{"sf":"$sfDir","cpus":$cpus,"n_queries":${all.size},"failed":$failedJson,"load_start":${ms(loadStart)},"load_end":${ms(loadEnd)},"contaminated":$contaminated,"detail":"BENCH_LOCAL.json","unit":"sec","metric":"total","value":${ms(total)}}"""
    println(compact)
    // also persist to a file: the harness stores only the final ~2KB of
    // stdout, which has tail-truncated the per-query map two rounds in a
    // row — the file copy always carries all rows
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
    // exit HARD once the record is written: Spark session stop + sbt
    // teardown take 10-30s on this suite, and the round-14 driver run
    // was killed (rc=124) in exactly that window — AFTER the JSON line
    // had printed — which voided the whole artifact. The JVM owns no
    // state worth unwinding here (BENCH_LOCAL.json is already on disk,
    // the run's artifact cache is deleted below), so halt(0) makes
    // the process exit 0 inside the wrapper's budget with the JSON
    // line as the LAST stdout line (what the driver parses).
    // halt skips shutdown hooks AND buffered-stream draining: flush both
    // std streams explicitly (log4j writes to stderr via console appender,
    // already line-flushed). halt(0) must remain the LAST statement of
    // main — code added after it will silently never run.
    RunCache.delete() // halt skips the cache's own shutdown hook
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Time each query as the best of three passes (five when the best of
    * three is over 2 s). Single-shot timings on this box are polluted by
    * sporadic multi-second host stalls, measured on trivial queries too
    * (BENCH_LOCAL.md); min-of-3 reports the engine's steady-state cost with
    * two chances to dodge a stall, and the two extra passes keep a stall
    * that spans all three (a 0.7 s query once recorded 22 s) from
    * masquerading as engine cost.
    *
    * A query that throws in any pass is failed: it is returned by name,
    * with no time, so it can never count as a fast row. `cleanup` runs
    * after every pass, outside the timed region.
    *
    * @return (name, seconds) of the queries that ran, and the failed names
    */
  private[graft] def timeQueries(queries: Seq[(String, () => Unit)])(
      cleanup: () => Unit): (Seq[(String, Double)], Seq[String]) = {
    def pass(run: () => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      val t =
        try { run(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      cleanup()
      t
    }
    val timed = queries.map { case (name, run) =>
      var ts = (1 to 3).map(_ => pass(run))
      if (ts.forall(_.exists(_ > 2.0))) ts ++= (1 to 2).map(_ => pass(run))
      name -> (if (ts.forall(_.isDefined)) Some(ts.flatten.min) else None)
    }
    (timed.collect { case (n, Some(t)) => n -> t },
      timed.collect { case (n, None) => n })
  }

  /** Measured bucketed-vs-shuffled join rows — the repeated-workload story
    * (the reference's biggest practical win over MR was container/session
    * reuse across a workload; Spark's equivalent for a repeatedly-joined
    * table is bucketing: pay the partitioning once at write time, then
    * every join on the bucket key plans ZERO exchanges). Same data, same
    * join, broadcast disabled for both so the only difference is the
    * exchange; table setup is outside the timed region.
    */
  private def bucketedComparison(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sfDir)
    Seq("graft_cmp_orders", "graft_cmp_orders_bkt",
      "graft_cmp_lineitem", "graft_cmp_lineitem_bkt").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      // the default catalog is in-memory per JVM: a previous run's table
      // DIRECTORY survives while its catalog entry doesn't, and
      // saveAsTable refuses an existing location — clear it on disk too
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), n)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    t.orders.write.saveAsTable("graft_cmp_orders")
    t.lineitem.write.saveAsTable("graft_cmp_lineitem")
    t.orders.write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_cmp_orders_bkt")
    t.lineitem.write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_cmp_lineitem_bkt")
    def q(o: String, l: String): Long = spark.table(o)
      .join(spark.table(l), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("c"))
      .count()
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      q("graft_cmp_orders", "graft_cmp_lineitem") // warm both shapes
      q("graft_cmp_orders_bkt", "graft_cmp_lineitem_bkt")
      def best2(f: => Long): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      Seq(
        "xb_join_shuffled" -> best2(q("graft_cmp_orders", "graft_cmp_lineitem")),
        "xb_join_bucketed" -> best2(q("graft_cmp_orders_bkt", "graft_cmp_lineitem_bkt")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
  }
}
