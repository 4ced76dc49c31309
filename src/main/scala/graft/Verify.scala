package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // sample the 1-min load BEFORE Spark starts — the same self-labeling
    // Bench records: load_start ≳ 1 marks a run whose timings (and any
    // timing-based anomaly triage) are contaminated by external load
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cpus = Engine.defaultCores
    val spark = Engine
      .configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    graft.functions.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev filter (same contract as Bench): SPARK_GRAFT_ONLY=q91,q92 dumps a
    // subset; the driver runs without it → full suite
    val only = tools.QuerySelect.fromEnv()
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release intra-query persists (CacheScope contract) so 120+ dumps
      // don't accumulate cached frames in one session
      CacheScope.drain()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (n, _) => only.forall(_(n)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // String.format(Locale.ROOT, ...) like Bench: the f-interpolator uses
    // the JVM default locale, and a comma-decimal locale would emit
    // {"load_start":4,267} — invalid JSON
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    Files.writeString(Paths.get(s"$outDir/run_info.json"),
      s"""{"load_start":${ms(loadStart)},"load_end":${ms(loadEnd)},"n_queries":${selected.size}}""")
    spark.stop()
  }
}
