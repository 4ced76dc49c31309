package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{RunCache, Tables}

/** Text/CSV/JSON source-format parity. The reference's primary input is
  * line-oriented text through MRInput (tez-mapreduce/.../input/MRInput.java:84;
  * WordCount.java:140-195 reads TextInputFormat), with any other format a
  * pluggable InputFormat away. The harness publishes parquet only, so each
  * non-parquet format is materialized ONCE per scale-factor directory and
  * JVM ([[graft.RunCache]]) as a faithful derivation of the parquet
  * table, and every read then goes through the real Spark file source —
  * schema application, split planning, and (for CSV/JSON) per-format parsing
  * are all exercised, and the DuckDB oracle checks the round-trip by
  * computing the same result from the original parquet.
  *
  * Round-trip exactness: only ints, strings, and doubles cross the text
  * boundary. `Double.toString` is round-trip exact by contract, so the
  * re-parsed values are bit-identical and the shared decimal-sum convention
  * (Relational scaladoc) applies unchanged.
  */
object FileFormats {

  /** nation as '|'-joined text lines — the TextInputFormat shape. */
  def nationTextPath(t: Tables): String =
    RunCache.dir(t.dir, "nation_text") { p =>
      t.nation
        .select(concat_ws("|",
          col("n_nationkey"), col("n_name"), col("n_regionkey")))
        .write.mode(SaveMode.Overwrite).text(p)
    }

  val customerCsvSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** customer as headered CSV; read back with an explicit schema (schema
    * inference would be an extra full scan at 100 TB).
    */
  def customerCsv(t: Tables): DataFrame = {
    val p = RunCache.dir(t.dir, "customer_csv") { path =>
      t.customer.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    }
    t.spark.read.schema(customerCsvSchema).option("header", "true").csv(p)
  }

  val ordersJsonSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  /** orders as JSON lines (o_orderdate excluded: JSON's default timestamp
    * rendering is millisecond-precision, which would silently truncate the
    * µs values — the other five columns round-trip exactly).
    */
  def ordersJson(t: Tables): DataFrame = {
    val p = RunCache.dir(t.dir, "orders_json") { path =>
      t.orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .write.mode(SaveMode.Overwrite).json(path)
    }
    t.spark.read.schema(ordersJsonSchema).json(p)
  }
}
