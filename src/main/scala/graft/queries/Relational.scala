package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.SecondarySort

/** Relational parity queries — one per operator row of SURVEY.md §2, each
  * with a DuckDB oracle (SparkEntry.oracleSql).
  *
  * Numeric-determinism convention: every double aggregate is computed as
  * `sum(cast(x as decimal(18,2)))` then cast back to double. The source money
  * columns are exact 2-decimal values, so the decimal sum is exact in both
  * engines and the final double is bit-identical — no tolerance needed for
  * the driver's hash compare. Scalar double arithmetic (no aggregation) is
  * IEEE-deterministic and left in double.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** Exact 2-dp decimal sum surfaced as double (see scaladoc above). */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  // ---------------------------------------------------------------------
  // q01 — partitioned group-agg with map-side combine (WordCount SumProcessor
  // + Combiner parity: tez-examples/.../WordCount.java:113-138). TPC-H Q1
  // shape; Catalyst plans partial+final HashAggregate = Tez combiner.
  private def q01(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount")).cast(DecimalType(18, 2))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // q02 — tokenize + count: TokenProcessor flat-map → scatter-gather edge →
  // SumProcessor (tez-examples/.../WordCount.java:73-138).
  private def q02(t: Tables): DataFrame =
    t.documents
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  private val q02Sql =
    """SELECT word, COUNT(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents) t
      |WHERE length(word) > 0
      |GROUP BY word""".stripMargin

  // q03 — OrderedWordCount: adds the ordered funnel
  // (tez-examples/.../OrderedWordCount.java:103-165). Spark range-partitions
  // the global sort instead of funneling to one reducer.
  private def q03(t: Tables): DataFrame =
    q02(t).orderBy(desc("cnt"), asc("word"))

  private val q03Sql = q02Sql + "\nORDER BY cnt DESC, word"

  // q04 — broadcast hash join (HashJoinExample broadcast variant,
  // tez-examples/.../HashJoinExample.java:216-246).
  private def q04(t: Tables): DataFrame =
    t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))

  private val q04Sql =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // q05 — shuffled (repartition) hash join
  // (tez-examples/.../HashJoinExample.java:141-260).
  private def q05(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n_items"))

  private val q05Sql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // q06 — sort-merge join (tez-examples/.../SortMergeJoinExample.java:144-310).
  private def q06(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))

  private val q06Sql =
    """SELECT o_orderstatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus""".stripMargin

  // q07 — semi join (HashJoinExample doBroadcast=false leftSemi semantics).
  private def q07(t: Tables): DataFrame =
    t.orders
      .join(t.lineitem.filter(col("l_quantity") > 45), col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))

  private val q07Sql =
    """SELECT o_orderkey, o_totalprice
      |FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)""".stripMargin

  // q08 — anti join: JoinValidate's missing-key check
  // (tez-examples/.../JoinValidate.java:131-210). The rhs is filtered to
  // urgent orders so the anti-join has real survivors (every customer has
  // SOME order in this data, which would make the unfiltered form empty).
  private def q08(t: Tables): DataFrame =
    t.customer
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  private val q08Sql =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin

  // q09 — VertexGroup union feeding one aggregation
  // (tez-tests/.../examples/UnionExample.java:70-230).
  private def q09(t: Tables): DataFrame =
    t.orders.select(col("o_custkey").as("key"))
      .union(t.customer.select(col("c_custkey").as("key")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"))

  private val q09Sql =
    """SELECT key, COUNT(*) AS cnt
      |FROM (SELECT o_custkey AS key FROM orders UNION ALL SELECT c_custkey AS key FROM customer) t
      |GROUP BY key""".stripMargin

  // q10 — group-by + order-by MRR chain
  // (tez-tests/.../examples/GroupByOrderByMRRTest.java:99-252).
  private def q10(t: Tables): DataFrame =
    t.events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("event_type"))

  private val q10Sql =
    """SELECT event_type, COUNT(*) AS cnt
      |FROM events GROUP BY event_type
      |ORDER BY cnt DESC, event_type""".stripMargin

  // q11 — secondary sort (tez-tests/.../examples/SecondarySort.java:60-229):
  // first event per user under (ts, event_id) secondary order, implemented
  // with the reference's physical plan (hash-partition + composite sort +
  // streaming group iteration), not a window function.
  private def q11(t: Tables): DataFrame =
    SecondarySort
      .firstRowPerGroup(t.events, Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("ts").as("first_ts"), col("event_type").as("first_type"))

  private val q11Sql =
    """SELECT user_id, ts AS first_ts, event_type AS first_type
      |FROM (SELECT user_id, ts, event_type,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |      FROM events) t
      |WHERE rn = 1""".stripMargin

  // q12 — global ordered funnel → top-k (OrderedWordCount single-reducer
  // shape, upgraded to TakeOrderedAndProject). Unique-key tiebreak keeps the
  // selected set deterministic.
  private def q12(t: Tables): DataFrame =
    t.orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)

  private val q12Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  // q13 — distinct (Catalyst capability beyond reference, SURVEY §2.5).
  private def q13(t: Tables): DataFrame =
    t.customer.select(col("c_nationkey"), col("c_mktsegment")).distinct()

  private val q13Sql = "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"

  // q14/q15 — set ops (SURVEY §2.7; JoinValidate is except-shaped).
  private def q14(t: Tables): DataFrame =
    t.orders.select(col("o_custkey").as("custkey"))
      .intersect(t.customer.filter(col("c_acctbal") > 0).select(col("c_custkey").as("custkey")))

  private val q14Sql =
    """SELECT o_custkey AS custkey FROM orders
      |INTERSECT
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0""".stripMargin

  // rhs filtered to high-value orders so the difference is non-empty (see
  // q08 note: every customer has some order).
  private def q15(t: Tables): DataFrame =
    t.customer.select(col("c_custkey").as("custkey"))
      .except(t.orders.filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("custkey")))

  private val q15Sql =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000""".stripMargin

  // ===== q160 bag (multiset) set operations ==============================
  // The ALL variants of q14/q15's set ops (SURVEY §2.7): EXCEPT ALL
  // subtracts MULTIPLICITY — lineitem's orderkey bag minus orders'
  // leaves each key (lineitem-count − 1) times, i.e. the per-order extra
  // line multiplicity — and INTERSECT ALL keeps min(multiplicity) per
  // side. Both are Dataset.exceptAll/intersectAll, which Catalyst plans
  // as a single hash aggregate over tagged counts (no join); grouped
  // counts keep the gate row small and the duplicates observable.
  private def q160(t: Tables): DataFrame = {
    val li = t.lineitem.filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey").as("k"))
    val o = t.orders.filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("k"))
    li.exceptAll(o).groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .select(lit("except_all").as("op"), col("k"), col("cnt"))
      .unionByName(
        li.intersectAll(o).groupBy(col("k")).agg(count(lit(1)).as("cnt"))
          .select(lit("intersect_all").as("op"), col("k"), col("cnt")))
  }

  private val q160Sql =
    """WITH li AS (SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey % 100 = 0),
      |o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 100 = 0),
      |ea AS (SELECT k FROM li EXCEPT ALL SELECT k FROM o),
      |ia AS (SELECT k FROM li INTERSECT ALL SELECT k FROM o)
      |SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS cnt FROM ea GROUP BY k
      |UNION ALL
      |SELECT 'intersect_all' AS op, k, CAST(count(*) AS BIGINT) AS cnt FROM ia GROUP BY k""".stripMargin

  // ===== q161 data-quality expectations ==================================
  // The publish gate a pipeline runs before a dataset ships
  // (operators.Expectations): declarative contract rules compiled into
  // ONE aggregation pass per table — null checks, ranges, accepted
  // values, regex shape, tuple uniqueness (count − distinct inside the
  // same aggregate). All-integer outputs; two real violations surface on
  // this fixture (discounts above 0.05, and the synthetic lineitem's
  // duplicate (orderkey, linenumber) pairs — 14,168 surplus rows the
  // uniqueness rule catches, exactly what such a gate exists to catch).
  private def q161(t: Tables): DataFrame = {
    import graft.operators.Expectations._
    val li = check(t.lineitem, Seq(
      NotNull("l_orderkey"),
      InRange("l_discount", 0.0, 0.05),
      InRange("l_quantity", 1.0, 50.0),
      AcceptedValues("l_returnflag", Seq("A", "N", "R")),
      Unique(Seq("l_orderkey", "l_linenumber"))))
      .select(lit("lineitem").as("tbl"), col("rule"), col("violations"), col("pass"))
    val docs = check(t.documents, Seq(
      NotNull("text"),
      MatchesRegex("lang", "^[a-z]{2}$")))
      .select(lit("documents").as("tbl"), col("rule"), col("violations"), col("pass"))
    li.unionByName(docs)
  }

  private val q161Sql =
    """SELECT 'lineitem' AS tbl, 'not_null(l_orderkey)' AS rule,
      |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
      |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass FROM lineitem
      |UNION ALL
      |SELECT 'lineitem', 'in_range(l_discount)',
      |  CAST(sum(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.05) THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.05) THEN 1 ELSE 0 END) = 0 FROM lineitem
      |UNION ALL
      |SELECT 'lineitem', 'in_range(l_quantity)',
      |  CAST(sum(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1 ELSE 0 END) = 0 FROM lineitem
      |UNION ALL
      |SELECT 'lineitem', 'accepted_values(l_returnflag)',
      |  CAST(sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) = 0 FROM lineitem
      |UNION ALL
      |SELECT 'lineitem', 'unique(l_orderkey,l_linenumber)',
      |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
      |  count(*) - count(DISTINCT (l_orderkey, l_linenumber)) = 0 FROM lineitem
      |UNION ALL
      |SELECT 'documents', 'not_null(text)',
      |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) = 0 FROM documents
      |UNION ALL
      |SELECT 'documents', 'matches_regex(lang)',
      |  CAST(sum(CASE WHEN lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS BIGINT),
      |  sum(CASE WHEN lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) = 0 FROM documents""".stripMargin

  // ===== q165 cross-table expectations (referential integrity) ===========
  // The Great-Expectations staple q161 lacked: FK containment across
  // tables — one anti-join count per rule (the rule's inherent cost; the
  // reference key distinct-projects and broadcasts when dimension-sized),
  // composable into the same (tbl, rule, violations, pass) report. Two
  // healthy FKs (lineitem→orders on orderkey, orders→customer on custkey
  // — the fixture's TPC-H lineage guarantees containment, so PASSING is
  // the informative assertion) and one deliberately broken reference
  // (suppliers restricted to s_suppkey % 3 == 0) that surfaces real
  // violation counts — exactly what the gate exists to catch.
  private def q165(t: Tables): DataFrame = {
    import graft.operators.Expectations._
    val orders = check(t.orders, Seq(
        NotNull("o_custkey"),
        ForeignKey("o_custkey", "customer", "c_custkey")),
      Map("customer" -> t.customer))
      .select(lit("orders").as("tbl"), col("rule"), col("violations"), col("pass"))
    val li = check(t.lineitem, Seq(
        ForeignKey("l_orderkey", "orders", "o_orderkey"),
        ForeignKey("l_suppkey", "supplier_third", "s_suppkey")),
      Map("orders" -> t.orders,
        "supplier_third" -> t.supplier.filter(col("s_suppkey") % 3 === 0)))
      .select(lit("lineitem").as("tbl"), col("rule"), col("violations"), col("pass"))
    orders.unionByName(li)
  }

  private val q165Sql =
    """SELECT 'orders' AS tbl, 'not_null(o_custkey)' AS rule,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
      |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass FROM orders
      |UNION ALL
      |SELECT 'orders', 'foreign_key(o_custkey -> customer.c_custkey)',
      |  CAST(count(*) AS BIGINT), count(*) = 0 FROM orders o
      |  WHERE o.o_custkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'lineitem', 'foreign_key(l_orderkey -> orders.o_orderkey)',
      |  CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
      |  WHERE l.l_orderkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'lineitem', 'foreign_key(l_suppkey -> supplier_third.s_suppkey)',
      |  CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
      |  WHERE l.l_suppkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM supplier s
      |                    WHERE s.s_suppkey % 3 = 0 AND s.s_suppkey = l.l_suppkey)""".stripMargin

  // q16 — rollup, q22 — cube (SURVEY §2.5 "free via Catalyst" extensions).
  private def q16(t: Tables): DataFrame =
    t.lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))

  private val q16Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS cnt
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  // q17 — window rank per group (grouped-iteration upgrade).
  private def q17(t: Tables): DataFrame =
    t.customer
      .withColumn("rnk",
        rank().over(Window.partitionBy(col("c_nationkey")).orderBy(desc("c_acctbal"), asc("c_custkey"))).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"), col("rnk"))

  private val q17Sql =
    """SELECT c_nationkey, c_custkey, c_acctbal, rnk
      |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
      |        rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |      FROM customer) t
      |WHERE rnk <= 3""".stripMargin

  // q18 — FilterLinesByWord (tez-tests/.../FilterLinesByWord.java:82): filter
  // by a word pushed to all tasks; here the predicate is pushed to the scan.
  private def q18(t: Tables): DataFrame =
    t.documents
      .filter(col("text").like("%spark%"))
      .select(col("doc_id"), col("source"), col("lang"))

  private val q18Sql =
    "SELECT doc_id, source, lang FROM documents WHERE text LIKE '%spark%'"

  // q19 — flagship multi-join (TPC-H Q5 shape): exercises join reordering,
  // dimension broadcast, partial agg — the plan Tez would need 6 vertices for.
  private def q19(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(t.nation, col("s_nationkey") === col("n_nationkey"))
      .join(t.region, col("n_regionkey") === col("r_regionkey") && col("r_name") === lit("ASIA"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(18, 2))).cast("double").as("revenue"))

  private val q19Sql =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey AND r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  // q20 — exact distinct aggregation (Catalyst expand-based count distinct).
  private def q20(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"))

  private val q20Sql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // q21 — tumbling event-time window (batch form of the Structured Streaming
  // query in graft.streaming; events extension per SURVEY §2.9).
  private def q21(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("sum_value"))

  private val q21Sql =
    """SELECT time_bucket(INTERVAL 1 DAY, ts) AS ws, event_type,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  private def q22(t: Tables): DataFrame =
    t.orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))

  private val q22Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  // q23 — scalar expression surface (SURVEY §2.8): date parts, CASE,
  // substring, all codegen'd Catalyst expressions.
  private def q23(t: Tables): DataFrame =
    t.orders
      .select(
        year(col("o_orderdate")).as("yr"),
        when(col("o_totalprice") > 200000, lit("big")).otherwise(lit("small")).as("bucket"),
        substring(col("o_orderpriority"), 1, 1).as("prio"),
        col("o_totalprice"))
      .groupBy(col("yr"), col("bucket"), col("prio"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))

  private val q23Sql =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS bucket,
      |  substring(o_orderpriority, 1, 1) AS prio,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY 1, 2, 3""".stripMargin

  // q24 — ONE_TO_ONE narrow edge + processor (SURVEY §2.2):
  // per-partition imperative pass with no shuffle, the Tez
  // ForwardingProcessor/MapProcessor shape. Scalar double math is
  // IEEE-identical in both engines (no aggregation), so no decimal detour.
  private def q24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables(s, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
    src
      .mapPartitions(_.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2) * (1 - r.getDouble(3)))))
      .toDF("l_orderkey", "l_linenumber", "net_price")
  }

  private val q24Sql =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS net_price
      |FROM lineitem""".stripMargin

  // q25 — semi-structured props extraction (events extension).
  private def q25(t: Tables): DataFrame =
    t.events
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("k"))

  private val q25Sql =
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events"

  // q26+ live in Pipeline.scala; q39+ below extend the Catalyst-native
  // aggregation/expression surface (SURVEY §2.5/§2.8 "free via Catalyst").

  // q39 — explicit grouping sets (beyond rollup/cube).
  private def q39(t: Tables): DataFrame =
    t.lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))

  private val q39Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  // q40 — exact interpolated percentiles (median/p95) per group.
  private def q40(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))

  private val q40Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // q41 — full outer join with unmatched rows on both sides.
  private def q41(t: Tables): DataFrame = {
    val bigCust = t.customer.filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_name"))
    val bigOrders = t.orders.filter(col("o_totalprice") > 150000)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big_orders"))
    bigCust.join(bigOrders, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_custkey"), col("n_big_orders"))
  }

  private val q41Sql =
    """SELECT c_custkey, c_name, o_custkey, n_big_orders
      |FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000) c
      |FULL JOIN (SELECT o_custkey, COUNT(*) AS n_big_orders
      |           FROM orders WHERE o_totalprice > 150000 GROUP BY o_custkey) o
      |  ON c_custkey = o_custkey""".stripMargin

  // q42 — scalar string/math surface (SURVEY §2.8: the functions library IS
  // the engine's expression capability; all codegen'd).
  private def q42(t: Tables): DataFrame =
    t.part.select(
      col("p_partkey"),
      upper(substring(col("p_name"), 1, 5)).as("up5"),
      replace(col("p_type"), lit(" "), lit("_")).as("tp"),
      lpad(col("p_size").cast("string"), 4, "0").as("sz"),
      concat_ws("|", col("p_brand"), col("p_type")).as("bt"),
      length(trim(col("p_name"))).cast("long").as("nlen"),
      round(sqrt(col("p_retailprice")), 4).as("sq"),
      round(log(col("p_retailprice") + 1), 4).as("lg"),
      abs(col("p_size") - 25).as("ab"),
      ceil(col("p_retailprice") / 100).cast("long").as("ce"))

  private val q42Sql =
    """SELECT p_partkey,
      |  upper(substring(p_name, 1, 5)) AS up5,
      |  replace(p_type, ' ', '_') AS tp,
      |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS sz,
      |  concat_ws('|', p_brand, p_type) AS bt,
      |  CAST(length(trim(p_name)) AS BIGINT) AS nlen,
      |  round(sqrt(p_retailprice), 4) AS sq,
      |  round(ln(p_retailprice + 1), 4) AS lg,
      |  abs(p_size - 25) AS ab,
      |  CAST(ceil(p_retailprice / 100) AS BIGINT) AS ce
      |FROM part""".stripMargin

  // q43 — date/time expression surface over orders.
  private def q43(t: Tables): DataFrame =
    t.orders.select(
      col("o_orderkey"),
      date_trunc("month", col("o_orderdate")).as("mon"),
      year(col("o_orderdate")).as("yr"),
      quarter(col("o_orderdate")).as("qtr"),
      dayofweek(col("o_orderdate")).as("dow"),
      date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
      datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date")).as("days_left"))

  private val q43Sql =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
      |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
      |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_left
      |FROM orders""".stripMargin

  // q46 — pivot (crosstab): linestatus columns per returnflag.
  private def q46(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_returnflag"))
      .pivot(col("l_linestatus"), Seq("F", "O"))
      .agg(count(lit(1)))
      .withColumnRenamed("F", "cnt_f").withColumnRenamed("O", "cnt_o")
      .na.fill(0L, Seq("cnt_f", "cnt_o"))

  private val q46Sql =
    """SELECT l_returnflag,
      |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS cnt_f,
      |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS cnt_o
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // q47 — generator with ordinality (posexplode ≅ the reference's flat-map
  // processors with positional output).
  private def q47(t: Tables): DataFrame =
    t.documents
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(lower(col("text")), """\s+""")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("word"))

  private val q47Sql =
    """SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.word
      |FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS words
      |      FROM documents WHERE doc_id < 50) w,
      |  unnest(list_transform(generate_series(1, len(words)), i -> {'pos': i - 1, 'word': words[i]})) AS t(u)""".stripMargin

  // q48 — scalar subquery: orders above the global average price.
  private def q48(t: Tables): DataFrame = {
    val avgPrice = t.orders.agg(avg(col("o_totalprice")).as("g_avg"))
    t.orders
      .join(broadcast(avgPrice), col("o_totalprice") > col("g_avg"))
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  private val q48Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin

  // q49 — array expression surface, stringified for stable comparison.
  private def q49(t: Tables): DataFrame = {
    val words = split(lower(col("text")), """\s+""")
    t.documents.select(
      col("doc_id"),
      concat_ws(",", sort_array(array_distinct(slice(words, 1, 8)))).as("first8_sorted"),
      array_contains(words, "the").as("has_the"),
      size(array_distinct(words)).cast("long").as("n_distinct"))
  }

  private val q49Sql =
    """SELECT doc_id,
      |  array_to_string(list_sort(list_distinct(list_slice(regexp_split_to_array(lower(text), '\s+'), 1, 8))), ',') AS first8_sorted,
      |  list_contains(regexp_split_to_array(lower(text), '\s+'), 'the') AS has_the,
      |  CAST(len(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT) AS n_distinct
      |FROM documents""".stripMargin

  // q50 — hopping (sliding) event-time window: 1-day windows every 12h;
  // each event lands in exactly width/slide = 2 windows.
  private def q50(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))

  private val q50Sql =
    """SELECT ws, event_type, COUNT(*) AS cnt
      |FROM (
      |  SELECT event_type,
      |    time_bucket(INTERVAL 12 HOUR, ts) - k * INTERVAL 12 HOUR AS ws
      |  FROM events, unnest([0, 1]) AS t(k))
      |GROUP BY ws, event_type""".stripMargin

  // q51 — TPC-H Q3 shape: top-10 highest-revenue urgent orders not yet
  // shipped (3-way join + agg + ordered top-k).
  private def q51(t: Tables): DataFrame =
    t.customer.filter(col("c_mktsegment") === "BUILDING")
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp") &&
        col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)

  private val q51Sql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // q52 — TPC-H Q10 shape: customers ranked by returned-item revenue.
  private def q52(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem.filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount")).cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("c_custkey"))
      .limit(20)

  private val q52Sql =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  // q53 — semi-structured: parse props JSON to a typed struct (from_json),
  // aggregate over an extracted field.
  private def q53(t: Tables): DataFrame =
    t.events
      .withColumn("p", from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)))))
      .groupBy(col("event_type"), col("p.k").as("k"))
      .agg(count(lit(1)).as("cnt"))

  private val q53Sql =
    """SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, COUNT(*) AS cnt
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  // q57 — text-format scan through the Hadoop InputFormat adapter (MRInput
  // parity: MRInput.java:84 roots a DAG on TextInputFormat; WordCount.java:
  // 140-195 is the canonical consumer). Lines are parsed and aggregated;
  // the oracle recomputes from the parquet original, checking the
  // write→TextInputFormat-read round-trip end to end.
  private def q57(t: Tables): DataFrame =
    graft.sources.HadoopInput
      .textLines(t.spark, graft.sources.FileFormats.nationTextPath(t))
      .select(split(col("value"), "\\|").as("f"))
      .select(
        element_at(col("f"), 2).as("n_name"),
        element_at(col("f"), 3).cast("long").as("n_regionkey"))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))

  private val q57Sql =
    """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, COUNT(*) AS n_nations,
      |  min(n_name) AS first_name
      |FROM nation GROUP BY 1""".stripMargin

  // q58 — CSV source scan (MROutput/MRInput adapt any format; CSV is the
  // ubiquitous text table shape). Explicit schema — no inference scan.
  private def q58(t: Tables): DataFrame =
    graft.sources.FileFormats.customerCsv(t)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        dsum(col("c_acctbal")).as("sum_acctbal"),
        max(col("c_name")).as("max_name"))

  private val q58Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
      |  max(c_name) AS max_name
      |FROM customer GROUP BY 1""".stripMargin

  // q59 — JSON-lines source scan with explicit schema.
  private def q59(t: Tables): DataFrame =
    graft.sources.FileFormats.ordersJson(t)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))

  private val q59Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  // q60 — correlated EXISTS through the SQL surface: Catalyst decorrelates
  // (RewritePredicateSubquery) into the same semi join q07 declares
  // directly — the subquery-shaped face of §2.4's semi-join row.
  private def q60(t: Tables): DataFrame = {
    t.registerViews()
    t.spark.sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 350000)""".stripMargin)
  }

  private val q60Sql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 350000)""".stripMargin

  // q66 — TPC-H Q18 shape: HAVING over an aggregate + IN-subquery
  // (decorrelated to a semi join) + top-k. Covers the aggregate-filter and
  // IN-subquery surfaces in one realistic query.
  private def q66(t: Tables): DataFrame = {
    val bigOrders = t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    t.orders
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  private val q66Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, sum_qty
      |FROM orders JOIN (
      |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300
      |) ON o_orderkey = l_orderkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // q67 — running-total window frame (ROWS UNBOUNDED PRECEDING → CURRENT):
  // the frame-based window surface beside q17's rank-based one.
  private def q67(t: Tables): DataFrame =
    t.orders
      .filter(col("o_custkey") < 50)
      .withColumn("running_spend",
        round(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))

  private val q67Sql =
    """SELECT o_custkey, o_orderkey,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_spend
      |FROM orders WHERE o_custkey < 50""".stripMargin

  /** The as-of queries' inputs (q68/q163/q82/q94): the clicks
    * (event_id, user_id, ts) and the purchases, one row per (user, ts)
    * with its max value (user_id, pts, pts_val, pvalue).
    */
  private def asOfInputs(t: Tables): (DataFrame, DataFrame) = {
    val ev = t.events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max(col("value")).as("pvalue"))
      .select(col("user_id"), col("pts"), col("pts").as("pts_val"), col("pvalue"))
    (clicks, purchases)
  }

  /** The as-of oracles' click and purchase CTEs, q68/q163/q94. */
  private val AsOfCtes =
    """c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts AS pts, max(value) AS pvalue
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)""".stripMargin

  // q68 — backward AS-OF join (an operator Spark lacks natively): each
  // click is annotated with the user's most recent purchase at-or-before
  // it. Union/carry-forward implementation — one exchange, no range
  // explosion (operators/TemporalJoins.asOfBackward); DuckDB oracles it
  // with its native ASOF LEFT JOIN.
  private def q68(t: Tables): DataFrame = {
    val (clicks, purchases) = asOfInputs(t)
    graft.operators.TemporalJoins
      .asOfBackward(clicks, purchases, "user_id", "ts", "pts", Seq("pts_val", "pvalue"))
      .select(col("event_id"), col("user_id"),
        col("pts_val").as("last_purchase_ts"), col("pvalue").as("last_purchase_value"))
  }

  private val q68Sql =
    s"""WITH $AsOfCtes
      |SELECT c.event_id, c.user_id, p.pts AS last_purchase_ts,
      |       p.pvalue AS last_purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.pts <= c.ts""".stripMargin

  // q163 — q68's as-of with a STALENESS TOLERANCE (merge_asof semantics
  // neither Spark nor DuckDB has natively): a purchase older than 2 hours
  // does not annotate the click — too-stale context is no context, never
  // "the next one". Thin carried-timestamp post-filter over the pinned
  // asOfBackward (TemporalJoins.asOfBackwardTolerance); the oracle is
  // DuckDB's native ASOF with the identical freshness CASE on top.
  private val AsOfTolSeconds = 7200L

  private def q163(t: Tables): DataFrame = {
    val (clicks, purchases) = asOfInputs(t)
    graft.operators.TemporalJoins
      .asOfBackwardTolerance(clicks, purchases, "user_id", "ts", "pts",
        Seq("pts_val", "pvalue"), AsOfTolSeconds)
      .select(col("event_id"), col("user_id"),
        col("pts_val").as("last_purchase_ts"), col("pvalue").as("last_purchase_value"))
  }

  private val q163Sql =
    s"""WITH $AsOfCtes
       |SELECT c.event_id, c.user_id,
       |  CASE WHEN p.pts IS NOT NULL AND c.ts - p.pts <= INTERVAL $AsOfTolSeconds SECONDS
       |       THEN p.pts END AS last_purchase_ts,
       |  CASE WHEN p.pts IS NOT NULL AND c.ts - p.pts <= INTERVAL $AsOfTolSeconds SECONDS
       |       THEN p.pvalue END AS last_purchase_value
       |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.pts <= c.ts""".stripMargin

  // q82 — the SAME as-of query through the native Catalyst operator
  // (plans/AsOfJoin.scala: logical node → planner strategy → merge exec) —
  // the full custom-operator ladder sitting behind the DuckDB ASOF oracle,
  // not just its unit spec. One exchange + sort per side, O(|L|+|R|) merge.
  private def q82(t: Tables): DataFrame = {
    val (clicks, purchases) = asOfInputs(t)
    graft.plans.AsOfJoin
      .asOfNative(clicks, purchases, "user_id", "ts", "pts", Seq("pts_val", "pvalue"))
      .select(col("event_id"), col("user_id"),
        col("pts_val").as("last_purchase_ts"), col("pvalue").as("last_purchase_value"))
  }

  // q94 — FORWARD as-of join (nearest purchase at-or-AFTER each click),
  // completing the as-of direction pair: the native operator runs on
  // negated epoch-micros (plans/AsOfJoin.asOfForward), DuckDB oracles it
  // with ASOF LEFT JOIN on pts >= ts.
  private def q94(t: Tables): DataFrame = {
    val (clicks, purchases) = asOfInputs(t)
    graft.plans.AsOfJoin
      .asOfForward(clicks, purchases, "user_id", "ts", "pts", Seq("pts_val", "pvalue"))
      .select(col("event_id"), col("user_id"),
        col("pts_val").as("next_purchase_ts"), col("pvalue").as("next_purchase_value"))
  }

  private val q94Sql =
    s"""WITH $AsOfCtes
      |SELECT c.event_id, c.user_id, p.pts AS next_purchase_ts,
      |       p.pvalue AS next_purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.pts >= c.ts""".stripMargin

  // q69 — point-in-interval range join via time-bin equi-join (the second
  // temporal operator Spark lacks): every (purchase, click-in-the-prior-
  // hour) pair, candidates from the bin grid, exact BETWEEN filter.
  private def q69(t: Tables): DataFrame = {
    val ev = t.events
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
      .withColumn("wstart", col("pts") - expr("INTERVAL 1 HOUR"))
    graft.operators.TemporalJoins
      .pointInInterval(clicks, purchases, "user_id", "ts", "wstart", "pts", 3600L)
      .select(col("purchase_id"), col("click_id"))
  }

  private val q69Sql =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin

  // q77 — unpivot/melt (wide → long): lineitem's three measures become
  // (metric, value) rows. Plans as a single Expand — a narrow 3× flat-map
  // (the reference's TokenProcessor shape over columns instead of words),
  // no shuffle.
  private def q77(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_orderkey") < 1000)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value")

  private val q77Sql =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
      |FROM lineitem WHERE l_orderkey < 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |FROM lineitem WHERE l_orderkey < 1000
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |FROM lineitem WHERE l_orderkey < 1000""".stripMargin

  // q78 — lag/lead analytic windows: per-user event deltas (value change
  // and seconds since the previous event). One hash exchange on user_id +
  // per-partition sort; no global ordering anywhere.
  private def q78(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events.select(
      col("event_id"), col("user_id"),
      round(col("value") - lag(col("value"), 1).over(w), 4).as("d_value"),
      // integer µs on both engines: DuckDB's double→BIGINT cast ROUNDS
      // while Spark's timestamp→long cast truncates — epoch_us/unix_micros
      // sidesteps the fractional-second mismatch entirely
      (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .as("gap_us"),
      (lead(col("event_id"), 1).over(w)).as("next_id"))
  }

  private val q78Sql =
    """SELECT event_id, user_id,
      |  round(value - lag(value, 1) OVER w, 4) AS d_value,
      |  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us,
      |  lead(event_id, 1) OVER w AS next_id
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  // ---------------------------------------------------------------------
  // q85 — single-pass grouped argmax: each customer's highest-value order
  // via ONE hash aggregate carrying O(1) state (max of a (price, -key)
  // struct — ties break to the smallest orderkey deterministically). The
  // classic two-pass form (max per group, join back, re-aggregate) — which
  // the oracle uses — costs an extra shuffle and a join; the struct-max is
  // the plan you want at 100 TB. Grouped-agg parity row: SURVEY §2.5.
  private def q85(t: Tables): DataFrame =
    t.orders.groupBy(col("o_custkey"))
      .agg(max(struct(col("o_totalprice"), (-col("o_orderkey")).as("__nk"))).as("m"))
      .select(col("o_custkey"), col("m.o_totalprice").as("top_price"),
        (-col("m.__nk")).as("top_order"))

  private val q85Sql =
    """WITH m AS (SELECT o_custkey, max(o_totalprice) AS top_price
      |           FROM orders GROUP BY o_custkey)
      |SELECT o.o_custkey, m.top_price, min(o.o_orderkey) AS top_order
      |FROM orders o JOIN m ON o.o_custkey = m.o_custkey AND o.o_totalprice = m.top_price
      |GROUP BY o.o_custkey, m.top_price""".stripMargin

  // ---------------------------------------------------------------------
  // q86 — Bloom-pruned semi-join (BloomPrune.semiJoin): the big side is
  // filtered by a Catalyst BloomFilterAggregate sketch (scalar subquery,
  // codegen'd might_contain probe inside the scan's codegen span) BEFORE
  // the exact semi-join, so at scale the corpus-side shuffle carries only
  // probable matches. False positives are removed by the exact join — the
  // result equals the plain semi-join, which is exactly what the oracle
  // checks.
  private def q86(t: Tables): DataFrame = {
    val urgent = t.orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.operators.BloomPrune.semiJoin(t.lineitem, "l_orderkey", urgent, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
  }

  private val q86Sql =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag""".stripMargin

  /** q87/q101's inputs: the customer base and its update batch — revised
    * balances for custkey ≡ 3 mod 7 plus inserted NEW- rows.
    */
  private def upsertInputs(t: Tables): (DataFrame, DataFrame) = {
    val base = t.customer.select(col("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"))
    val revised = base.filter(col("c_custkey") % 7 === 3)
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
    val inserts = base.filter(col("c_custkey") % 11 === 5)
      .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
        concat(lit("NEW-"), col("c_name")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"))
    (base, revised.unionByName(inserts))
  }

  /** q87/q101's oracle CTEs: the customer base and the update batch. */
  private val UpsertCtes =
    """base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer),
      |upd AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal
      |  FROM base WHERE c_custkey % 7 = 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, 'NEW-' || c_name, c_nationkey, c_acctbal
      |  FROM base WHERE c_custkey % 11 = 5)""".stripMargin

  // ---------------------------------------------------------------------
  // q87 — keyed MERGE/upsert (Merge.upsert): an update batch (revised
  // balances for custkey ≡ 3 mod 7, plus inserted NEW- rows) applied onto
  // the customer base as updates ∪ (base anti-join update-keys). The
  // anti-join broadcasts the batch's key set, so the base never shuffles
  // (pinned in MergeSpec). The +100.0 is IEEE-exact in both engines (no
  // rounding needed).
  private def q87(t: Tables): DataFrame = {
    val (base, batch) = upsertInputs(t)
    graft.operators.Merge.upsert(base, batch, "c_custkey")
  }

  private val q87Sql =
    s"""WITH $UpsertCtes
      |SELECT * FROM upd
      |UNION ALL
      |SELECT * FROM base b
      |WHERE b.c_custkey NOT IN (SELECT c_custkey FROM upd)""".stripMargin

  // ---------------------------------------------------------------------
  // q88 — window FRAME variants beside q17 (rank) / q67 (running sum) /
  // q78 (lead/lag): a bounded sliding ROWS frame (last 4 events) and a
  // cumulative frame per user. min/max/count are exact value-picks, so
  // the doubles pass through bit-identically on both engines.
  private def q88(t: Tables): DataFrame = {
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w4 = ord.rowsBetween(-3, 0)
    val wc = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events.select(col("event_id"), col("user_id"),
      min(col("value")).over(w4).as("min4"),
      max(col("value")).over(w4).as("max4"),
      count(lit(1)).over(w4).as("cnt4"),
      max(col("value")).over(wc).as("cummax"))
  }

  private val q88Sql =
    """SELECT event_id, user_id,
      |  min(value) OVER w4 AS min4,
      |  max(value) OVER w4 AS max4,
      |  count(*) OVER w4 AS cnt4,
      |  max(value) OVER wc AS cummax
      |FROM events
      |WINDOW
      |  w4 AS (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
      |  wc AS (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------------
  // q89 — manual salted join on the correctness gate (the operator was
  // previously only spec-pinned): the fact side's hot keys are spread
  // across `salt` sub-partitions, the dim side replicated ×salt, so one
  // hot user can never funnel a single join task even with AQE off. The
  // salt column is dropped before the aggregate; the result equals the
  // plain join, which is what the oracle checks.
  private def q89(t: Tables): DataFrame = {
    val dim = t.customer.select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.operators.Sampling.saltedEquiJoin(t.events, dim, "user_id", salt = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        max(col("value")).as("max_value"))
  }

  private val q89Sql =
    """SELECT c_mktsegment, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users, max(value) AS max_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q91 — strictly-ordered funnel (view → later click → later purchase):
  // each stage is a min-timestamp aggregate joined to the previous stage
  // with a range predicate — three partial-agg aggregates + two equi-joins
  // on user_id, entirely window-free. The classic sequence-analytics shape
  // every event warehouse runs; at scale each stage's frame shrinks, so
  // the joins get cheaper as the funnel deepens.
  private def q91(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.agg(lit("1_view").as("stage"), count(lit(1)).as("n_users"))
      .unionByName(c.agg(lit("2_click").as("stage"), count(lit(1)).as("n_users")))
      .unionByName(p.agg(lit("3_purchase").as("stage"), count(lit(1)).as("n_users")))
  }

  private val q91Sql =
    """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
      |      JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
      |      WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
      |      JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
      |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_purchase', count(*) FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // q92 — retention cohorts: users grouped by first-active week, counted
  // per week-offset they return. distinct(user, week) → min-week cohort →
  // offset aggregate: three shuffles on bounded keys, no window. Both
  // engines truncate weeks to Monday, so offsets are exact multiples of
  // 7 days and the /7 division is exact.
  private def q92(t: Tables): DataFrame = {
    val uw = t.events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    uw.join(cohort, "user_id")
      .select(col("cohort").cast("date").as("cohort_week"),
        (datediff(col("wk"), col("cohort")) / lit(7)).cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  private val q92Sql =
    """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
      |ch AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id)
      |SELECT CAST(cohort AS DATE) AS cohort_week,
      |  date_diff('day', cohort, wk) // 7 AS week_offset,
      |  count(*) AS n_users
      |FROM uw JOIN ch ON uw.user_id = ch.user_id
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q93 — Z-order (Morton) layout key over two filter columns: the native
  // codegen'd z_value16 kernel that Compaction.zOrderParquet sorts by for
  // two-dimensional data skipping. The oracle replays the interleave
  // bit-by-bit in SQL, pinning the kernel's exact semantics.
  private def q93(t: Tables): DataFrame =
    t.lineitem.select(col("l_orderkey"), col("l_linenumber"),
      graft.functions.z_value16(col("l_partkey"), col("l_suppkey")).as("z"))

  private val q93Sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
      |    (((l_partkey >> i) & 1) << (2*i)) + (((l_suppkey >> i) & 1) << (2*i + 1))))
      |    AS BIGINT) AS z
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------------
  // q96 — script transform: rows piped through an EXTERNAL PROCESS
  // (`tr a-z A-Z`), Spark's `SELECT TRANSFORM ... USING` in no-serde mode.
  // This is the Hive-on-Tez ScriptOperator surface — the reference's
  // "arbitrary per-task user code" escape hatch beyond JVM Processors
  // (SURVEY §2.10) — kept narrow: one forked process per task, rows
  // streamed through stdin/stdout, no shuffle. The oracle replays the
  // uppercase in SQL.
  private def q96(t: Tables): DataFrame = {
    // TRANSFORM needs SQL text, so the input goes through a temp view —
    // UUID-named (concurrent invocations in one session must not collide)
    // and dropped IMMEDIATELY: spark.sql analyzes eagerly, so the returned
    // DataFrame has already resolved the view into its plan and stays
    // valid after the drop. No catalog leak, and the events read still
    // goes through the Tables scan layer like every other query.
    val view = s"graft_q96_in_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    t.events.select(col("event_id"), col("event_type"))
      .createOrReplaceTempView(view)
    try t.spark.sql(
      s"""SELECT CAST(event_id AS BIGINT) AS event_id, event_type
         |FROM (SELECT TRANSFORM(event_id, event_type) USING 'tr a-z A-Z'
         |      AS (event_id STRING, event_type STRING) FROM $view)""".stripMargin)
    finally t.spark.catalog.dropTempView(view)
  }

  private val q96Sql =
    "SELECT event_id, upper(event_type) AS event_type FROM events"

  // ---------------------------------------------------------------------
  // q97 — time-series gap fill / resample: every (user, day) cell of the
  // observation month gets a row, zero-filled where no events exist — the
  // dense-grid completion every metrics/training-curve pipeline needs
  // before windowed models. The day dimension is a broadcast 30-row
  // explode (narrow ×30 multiplier, not a shuffle); the sparse counts are
  // one partial aggregate; the left join is AQE-managed. Output size =
  // the grid, which is the point.
  private def q97(t: Tables): DataFrame = {
    val counts = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
    val days = t.spark.range(1).select(explode(expr(
      "sequence(to_date('2024-01-01'), to_date('2024-01-30'), interval 1 day)")).as("day"))
    val users = t.events.select(col("user_id")).distinct()
    users.crossJoin(broadcast(days))
      .join(counts, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  private val q97Sql =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |d AS (SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
      |                                         INTERVAL 1 DAY)) AS DATE) AS day),
      |c AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
      |      FROM events GROUP BY 1, 2)
      |SELECT u.user_id, d.day, coalesce(c.n, 0) AS n
      |FROM u CROSS JOIN d
      |LEFT JOIN c ON u.user_id = c.user_id AND d.day = c.day""".stripMargin

  // ---------------------------------------------------------------------
  // q98 — the remaining analytic-window family in one query: ntile
  // buckets, percent_rank / cume_dist (exact integer ratios → identical
  // doubles in both engines), dense_rank, and first/last_value over a
  // bounded frame. Total order inside each partition is made unique by
  // the (n_chars, doc_id) tiebreak, so every function is deterministic.
  private def q98(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    t.documents.select(col("doc_id"), col("lang"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      dense_rank().over(w).as("drank"),
      first_value(col("doc_id")).over(w.rowsBetween(-2, 0)).as("first_in3"),
      last_value(col("doc_id")).over(w.rowsBetween(-2, 0)).as("last_in3"))
  }

  private val q98Sql =
    """SELECT doc_id, lang,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drank,
      |  first_value(doc_id) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS first_in3,
      |  last_value(doc_id) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS last_in3
      |FROM documents
      |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // q99 — interval × interval overlap join (the third temporal primitive
  // beside as-of and point-in-interval): purchase attention windows
  // [ts, ts+1h] × error windows [ts, ts+30m] per user. Bin-grid equi-join
  // with the canonical-bin dedup (TemporalJoins.intervalOverlap) — a hash
  // join, no nested loop, no distinct over candidates.
  private def q99(t: Tables): DataFrame = {
    val ev = t.events
    val a = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_id"), col("user_id"),
        col("ts").as("a_start"), (col("ts") + expr("INTERVAL 1 HOUR")).as("a_end"))
    val b = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("b_id"), col("user_id"),
        col("ts").as("b_start"), (col("ts") + expr("INTERVAL 30 MINUTE")).as("b_end"))
    graft.operators.TemporalJoins
      .intervalOverlap(a, b, "user_id", "a_start", "a_end", "b_start", "b_end", 1800L)
      .select(col("a_id"), col("b_id"))
  }

  private val q99Sql =
    """SELECT p.event_id AS a_id, e.event_id AS b_id
      |FROM events p JOIN events e ON p.user_id = e.user_id
      |WHERE p.event_type = 'purchase' AND e.event_type = 'error'
      |  AND p.ts <= e.ts + INTERVAL 30 MINUTE
      |  AND e.ts <= p.ts + INTERVAL 1 HOUR""".stripMargin

  // ---------------------------------------------------------------------
  // q101 — SCD-2 history-keeping MERGE (Merge.upsertHistory): q87's update
  // batch applied so superseded rows survive flagged is_current = false —
  // the slowly-changing-dimension shape warehouse history tables need.
  // Same batch-broadcast plan as q87 plus one semi-join for the
  // superseded set.
  private def q101(t: Tables): DataFrame = {
    val (base, batch) = upsertInputs(t)
    graft.operators.Merge.upsertHistory(base, batch, "c_custkey")
  }

  private val q101Sql =
    s"""WITH $UpsertCtes
      |SELECT *, TRUE AS is_current FROM upd
      |UNION ALL
      |SELECT *, TRUE AS is_current FROM base b
      |WHERE b.c_custkey NOT IN (SELECT c_custkey FROM upd)
      |UNION ALL
      |SELECT *, FALSE AS is_current FROM base b
      |WHERE b.c_custkey IN (SELECT c_custkey FROM upd)""".stripMargin

  // ---------------------------------------------------------------------
  // q102 — Bloom-short-circuited ANTI join (BloomPrune.antiJoin), q86's
  // complement and the blocklist/decontamination shape: rows the sketch
  // rules out keep without touching the join; only the might-match sliver
  // pays the exact anti-join. Oracled as a plain NOT IN.
  private def q102(t: Tables): DataFrame = {
    val urgent = t.orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.operators.BloomPrune.antiJoin(t.lineitem, "l_orderkey", urgent, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
  }

  private val q102Sql =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // q104 — equi-width histogram: events.value binned into fixed 5-unit
  // buckets with per-bin count and exact bounds — the numeric-profiling
  // companion to q100's categorical report. One partial+final aggregate
  // on the bin key; integer bin arithmetic (floor of an IEEE-exact
  // division by a power-of-two-free constant is deterministic in both
  // engines since the inputs are identical doubles).
  private def q104(t: Tables): DataFrame =
    t.events
      .select(floor(col("value") / lit(5.0)).cast("long").as("bin"), col("value"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))

  private val q104Sql =
    """SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS n,
      |  min(value) AS lo, max(value) AS hi
      |FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q108 — exponentially weighted moving average per user over the last
  // 16 events (α = 0.5, powers of two → IEEE-exact weights): the smoothed
  // metric every drift/latency dashboard computes. BOUNDED window frame
  // (16 rows of O(1) state per row, per-user partitions — never a whole
  // group in one buffer); the weighted fold runs left-to-right in both
  // engines over the identical frame order, so doubles agree bit-for-bit
  // before the final round.
  private def q108(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-15, 0)
    t.events
      .select(col("user_id"), col("event_id"),
        collect_list(col("value")).over(w).as("lst"))
      .select(col("user_id"), col("event_id"),
        expr(
          """aggregate(zip_with(lst, sequence(size(lst)-1, 0, -1),
            |          (x, k) -> x * pow(0.5, k)), 0D, (a, b) -> a + b)""".stripMargin)
          .as("ewma"))
    // no round(): the weights are powers of two (x·2⁻ᵏ is exact), the
    // fold is left-to-right in both engines over the same frame order, so
    // the raw doubles are bit-identical — rounding would only ADD
    // cross-engine tie-break noise (round-half at the 4th decimal is
    // where DuckDB's scaled-multiply and the JVM's BigDecimal disagree)
  }

  private val q108Sql =
    """SELECT user_id, event_id,
      |  list_reduce(list_transform(generate_series(1, len(lst)),
      |          i -> lst[i] * pow(0.5, len(lst) - i)), (a, b) -> a + b) AS ewma
      |FROM (SELECT user_id, event_id,
      |        list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst
      |      FROM events)""".stripMargin

  // ---------------------------------------------------------------------
  // q109 — per-user anomaly flags: |z-score| ≥ 2 against the user's own
  // mean/σ. Two passes (stats aggregate, then join+filter) — both shuffle
  // on user_id so AQE plans one exchange reuse; no window. Determinism
  // across engines: sums run in exact DECIMAL (value has 2 decimals,
  // value² has 4), so mean/σ derive from order-independent numbers and
  // the z expression is a single identical double computation.
  private def q109(t: Tables): DataFrame = {
    val stats = t.events.groupBy(col("user_id"))
      .agg(
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("s"),
        sum((col("value") * col("value")).cast(DecimalType(28, 4))).cast("double").as("ss"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .withColumn("variance",
        (col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1))
      .filter(col("variance") > 0)
    t.events.join(stats, "user_id")
      .withColumn("z",
        round((col("value") - col("s") / col("n")) / sqrt(col("variance")), 4))
      .filter(abs(col("z")) >= 2.0)
      .select(col("user_id"), col("event_id"), col("value"), col("z"))
  }

  private val q109Sql =
    """WITH st AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
      |    CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS ss,
      |    count(*) AS n
      |  FROM events GROUP BY user_id),
      |v AS (SELECT *, (ss - s * s / n) / (n - 1) AS variance FROM st
      |      WHERE n > 1 AND (ss - s * s / n) / (n - 1) > 0)
      |SELECT e.user_id, e.event_id, e.value,
      |  round((e.value - s / n) / sqrt(variance), 4) AS z
      |FROM events e JOIN v ON e.user_id = v.user_id
      |WHERE abs(round((e.value - s / n) / sqrt(variance), 4)) >= 2.0""".stripMargin

  // ---------------------------------------------------------------------
  // q110 — CDC changelog apply: a stream of I/U/D operations keyed by
  // user collapses to the final state (last op wins, deletes drop the
  // key) — the snapshot-from-changelog step of any replication pipeline.
  // Single-pass struct-max per key (the q85 argmax shape: partial+final
  // aggregate, O(1) state, no window, no join), so a hot key costs its
  // combiner one struct, not a sorted group.
  private def q110(t: Tables): DataFrame =
    t.events
      .select(col("user_id"),
        when(col("event_type") === "error", lit("D"))
          .when(col("event_type") === "click", lit("U"))
          .otherwise(lit("I")).as("op"),
        col("value"), col("ts"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("op"), col("value"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(col("user_id"), col("m.op").as("op"), col("m.value").as("value"))

  private val q110Sql =
    """SELECT user_id, op, value FROM (
      |  SELECT user_id,
      |    CASE WHEN event_type = 'error' THEN 'D'
      |         WHEN event_type = 'click' THEN 'U' ELSE 'I' END AS op,
      |    value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1 AND op <> 'D'""".stripMargin

  // ---------------------------------------------------------------------
  // q111 — event-type transition matrix (first-order Markov): bigram
  // counts over each user's event sequence with per-source transition
  // probabilities — the session-model / anomalous-flow profile. lead()
  // runs in per-user partitions (no global sort); the two aggregates are
  // partial+final on bounded keys (|types|² rows).
  private def q111(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t.events
      .select(col("user_id"), col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
    val cnt = pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy(col("src")).agg(sum(col("cnt")).as("tot"))
    cnt.join(tot, "src")
      .select(col("src"), col("dst"), col("cnt"),
        round(col("cnt") / col("tot"), 4).as("prob"))
  }

  private val q111Sql =
    """WITH pairs AS (
      |  SELECT src, dst FROM (
      |    SELECT event_type AS src,
      |      lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      |    FROM events)
      |  WHERE dst IS NOT NULL),
      |c AS (SELECT src, dst, count(*) AS cnt FROM pairs GROUP BY src, dst),
      |t AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY src)
      |SELECT c.src, c.dst, c.cnt, round(c.cnt / t.tot, 4) AS prob
      |FROM c JOIN t ON c.src = t.src""".stripMargin

  // ---------------------------------------------------------------------
  // q112 — exact equi-depth (equal-frequency) histogram of lineitem
  // prices: q104's companion for skewed metrics where fixed-width bins
  // collapse into one bar. Crucially NOT ntile-over-a-global-sort (one
  // task owns the table): distinct-value counts → distributed prefix sum
  // (range partition + local scan + subtotal cumulation over scanParts
  // rows) → integer bucket id → bucket aggregate. See Profiling.equiDepth.
  private val DepthK = 10

  private def q112(t: Tables): DataFrame =
    graft.operators.Profiling.equiDepth(t.lineitem, col("l_extendedprice"), DepthK)

  private val q112Sql =
    s"""WITH c AS (SELECT l_extendedprice AS v, count(*) AS c
       |           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
       |cum AS (SELECT v, c,
       |          CAST(coalesce(sum(c) OVER (ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |        FROM c)
       |SELECT CAST((cb * $DepthK) // n AS BIGINT) AS bucket,
       |  min(v) AS lo, max(v) AS hi, CAST(sum(c) AS BIGINT) AS cnt
       |FROM cum, n GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q115 — exact quantiles at scale: Spark's built-in exact `percentile`
  // buffers EVERY value of a group in one aggregation buffer (executor
  // OOM at corpus scale — fine for q40's small groups, fatal for a global
  // quantile over 10¹² rows). Profiling.exactQuantiles reuses q112's
  // distributed prefix-sum scan and selects each probability's value with
  // a broadcast join of |probs| rows: exact type-1 quantiles, no global
  // sort, no per-group value arrays. Oracle replays rank selection
  // directly.
  private val QuantPs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  private def q115(t: Tables): DataFrame =
    graft.operators.Profiling.exactQuantiles(
      t.lineitem, col("l_extendedprice"), QuantPs)

  private val q115Sql =
    s"""WITH c AS (SELECT l_extendedprice AS v, count(*) AS c
       |           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
       |cum AS (SELECT v, c,
       |          CAST(coalesce(sum(c) OVER (ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |        FROM c),
       |p AS (SELECT CAST(unnest([${QuantPs.mkString(", ")}]) AS DOUBLE) AS prob)
       |SELECT p.prob, v AS value
       |FROM cum, n, p
       |WHERE cb < greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT))
       |  AND greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT)) <= cb + c""".stripMargin

  // ---------------------------------------------------------------------
  // q117 — per-group exact quantiles: q115's grouped sibling. The window
  // runs over DISTINCT (group, value) rows inside each group's partition
  // (O(1) running-sum state, groups in parallel) — never a buffered value
  // array per group like Spark's exact percentile, never a global sort.
  // l_quantity has ~50 distinct values per flag, so the heavy-multiplicty
  // tie path is exercised for real.
  private def q117(t: Tables): DataFrame =
    graft.operators.Profiling.groupedQuantiles(
      t.lineitem, col("l_returnflag"), col("l_quantity"), QuantPs)

  private val q117Sql =
    s"""WITH c AS (SELECT l_returnflag AS grp, l_quantity AS v, count(*) AS c
       |           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
       |cum AS (SELECT grp, v, c,
       |          CAST(coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
       |          CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
       |        FROM c),
       |p AS (SELECT CAST(unnest([${QuantPs.mkString(", ")}]) AS DOUBLE) AS prob)
       |SELECT grp AS "group", p.prob, v AS value
       |FROM cum, p
       |WHERE cb < greatest(1, CAST(ceil(p.prob * n - 1e-6) AS BIGINT))
       |  AND greatest(1, CAST(ceil(p.prob * n - 1e-6) AS BIGINT)) <= cb + c""".stripMargin

  // ---------------------------------------------------------------------
  // q147 — approximate quantiles ON the gate via their guarantee (the
  // q121 idea applied to Spark's built-in GK sketch): percentile_approx
  // with accuracy A guarantees the returned element's rank is within n/A
  // of the target rank. The raw sketch VALUES are merge-order-dependent
  // (vary with partitioning), so they can't be hashed; the GUARANTEE
  // can: join each returned value against exact rank counts and check
  // both sides of the band in EXACT integer arithmetic (probs are
  // hundredths, so multiply through by 100·A and compare longs; ±one
  // rank unit absorbs the sketch's floor-vs-ceil target convention
  // without weakening the n/A band). The oracle is pure exact SQL
  // asserting TRUE — a violated bound is a hash MISMATCH. At 100 TB the
  // sketch is ONE pass with O(A·log n) state; the exact scan (q115)
  // stays the right tool when distinct values are shuffle-affordable.
  private val AqAcc = 100 // rank error ≤ n/AqAcc
  private val AqPcs = Seq(25, 50, 75, 90) // probabilities in exact hundredths

  private def q147(t: Tables): DataFrame = {
    import graft.CacheScope.ScopedPersist
    // feeds the sketch pass AND the exact-rank pass
    val vals = t.lineitem.select(col("l_extendedprice").cast("double").as("v"))
      .filter(col("v").isNotNull).persistScoped()
    val aggs = AqPcs.map(pc => percentile_approx(col("v"),
      lit(pc / 100.0), lit(AqAcc)).as(s"av_$pc"))
    val probes = vals.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(AqPcs.map(pc =>
        struct(lit(pc).cast("long").as("pc"), col(s"av_$pc").as("av"))): _*)).as("p"))
      .select(col("p.pc"), col("p.av")) // |probs| rows
    val ranks = vals.crossJoin(broadcast(probes))
      .groupBy(col("pc"), col("av"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("av"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("v") <= col("av"), 1L).otherwise(0L)).as("le"))
    // v attains some rank r ∈ [lt+1, le]; the guarantee needs r within
    // [pc·n/100 − n/A, pc·n/100 + n/A] — over longs, ×(100·A):
    val d = lit(100L * AqAcc)
    ranks.select(
      (col("pc").cast("double") / 100).as("prob"),
      (col("le") * d >= col("pc") * lit(AqAcc.toLong) * col("n") - lit(100L) * col("n") - d &&
        (col("lt") + 1) * d <= col("pc") * lit(AqAcc.toLong) * col("n") + lit(100L) * col("n") + d)
        .as("in_bounds"))
  }

  private val q147Sql =
    s"""SELECT CAST(unnest([${AqPcs.mkString(", ")}]) AS DOUBLE) / 100 AS prob,
       |  TRUE AS in_bounds""".stripMargin

  // ---------------------------------------------------------------------
  // q150 — the SHARED-SCAN robust profile on the gate: everything q115 +
  // q126 + q136 compute (exact quantiles, winsorized moments, MAD
  // outlier screen) from ONE distinct-value prefix-sum scan
  // (Profiling.robustProfile) instead of three. The quantile array is
  // exploded back to rows and the 1-row stats ride along on every row,
  // so the driver hashes the whole combined result; the oracle re-derives
  // all of it from scratch with the q115/q126/q136 SQL fused over one cum
  // CTE — proving scan-sharing changed the cost, not the answers.
  private def q150(t: Tables): DataFrame =
    graft.operators.Profiling.robustProfile(
        t.lineitem, col("l_extendedprice"), QuantPs)
      .select(explode(col("quantiles")).as("q"), col("n_rows"),
        col("w_mean"), col("w_std"), col("med"), col("mad"), col("n_outliers"))
      .select(col("q.prob").as("prob"), col("q.value").as("value"),
        col("n_rows"), col("w_mean"), col("w_std"), col("med"), col("mad"),
        col("n_outliers"))

  /** The MAD oracles' CTEs (q150/q136) over dev(ad): the exact median of
    * `ad` by the cumulative-count rule.
    */
  private val MadCtes =
    """dc AS (SELECT ad, count(*) AS c FROM dev GROUP BY 1),
      |dn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dc),
      |dcum AS (SELECT ad, c,
      |           CAST(coalesce(sum(c) OVER (ORDER BY ad
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |         FROM dc),
      |mad AS (SELECT ad AS mad FROM dcum, dn
      |        WHERE cb < greatest(1, CAST(ceil(0.5 * dn.n - 1e-6) AS BIGINT))
      |          AND greatest(1, CAST(ceil(0.5 * dn.n - 1e-6) AS BIGINT)) <= cb + c)""".stripMargin

  private val q150Sql =
    s"""WITH c AS (SELECT l_extendedprice AS v, count(*) AS c
       |           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
       |cum AS (SELECT v, c,
       |          CAST(coalesce(sum(c) OVER (ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |        FROM c),
       |p AS (SELECT CAST(unnest([${QuantPs.mkString(", ")}]) AS DOUBLE) AS prob),
       |sel AS (SELECT p.prob, v AS value
       |        FROM cum, n, p
       |        WHERE cb < greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT))
       |          AND greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT)) <= cb + c),
       |cuts AS (SELECT min(CASE WHEN prob = 0.01 THEN value END) AS lo,
       |                max(CASE WHEN prob = 0.99 THEN value END) AS hi,
       |                min(CASE WHEN prob = 0.5 THEN value END) AS med
       |         FROM sel),
       |wt AS (SELECT least(greatest(l_extendedprice, lo), hi) AS w
       |       FROM lineitem, cuts WHERE l_extendedprice IS NOT NULL),
       |m AS (SELECT count(*) AS n_rows,
       |        CAST(sum(CAST(w AS DECIMAL(38,2))) AS DOUBLE) AS s,
       |        CAST(sum(CAST(w * w AS DECIMAL(38,4))) AS DOUBLE) AS ss
       |      FROM wt),
       |mo AS (SELECT n_rows, round(s / n_rows, 4) AS w_mean,
       |         round(sqrt((ss - s * s / n_rows) / (n_rows - 1)), 4) AS w_std
       |       FROM m),
       |dev AS (SELECT abs(l_extendedprice - med) AS ad
       |        FROM lineitem, cuts WHERE l_extendedprice IS NOT NULL),
       |$MadCtes,
       |o AS (SELECT CAST(sum(CASE WHEN ad > 4.4478 * mad THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_outliers,
       |        min(mad) AS mad
       |      FROM dev, mad)
       |SELECT sel.prob, sel.value, mo.n_rows, mo.w_mean, mo.w_std,
       |  cuts.med, o.mad, o.n_outliers
       |FROM sel, mo, cuts, o""".stripMargin

  // ---------------------------------------------------------------------
  // q114 — incremental aggregate maintenance (materialized-view refresh):
  // a pre-aggregated base partition (orders before the cutoff) merges
  // with a freshly aggregated delta by re-aggregating the PARTIAL states
  // (sum-of-sums, sum-of-counts; avg derived at the end) — the base raw
  // data is never rescanned. At 100 TB the base agg is a stored table and
  // each refresh costs O(|delta| + |distinct keys|). The oracle is the
  // full recompute over all raw rows: the gate proves merged partials
  // equal the from-scratch answer. Sums run in exact DECIMAL so the
  // base/delta split cannot perturb float addition order.
  private def q114(t: Tables): DataFrame = {
    val cutoff = lit("1997-01-01").cast("timestamp")
    def part(df: DataFrame): DataFrame = df
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"),
        count(lit(1)).as("c"))
    val base = part(t.orders.filter(col("o_orderdate") < cutoff))
    val delta = part(t.orders.filter(col("o_orderdate") >= cutoff))
    base.unionByName(delta)
      .groupBy(col("o_custkey"))
      .agg(sum(col("s")).as("sd"), sum(col("c")).as("n_orders"))
      .select(col("o_custkey"),
        col("sd").cast("double").as("total_spend"),
        col("n_orders"),
        // raw double quotient: numerator is an exact DECIMAL sum, so both
        // engines divide the same two numbers — identical IEEE result;
        // round() would re-introduce tie-break differences
        (col("sd").cast("double") / col("n_orders")).as("avg_spend"))
  }

  private val q114Sql =
    """SELECT o_custkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_spend
      |FROM orders GROUP BY o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q123 — per-column data-quality profile: the schema-drift / null-rate
  // scan run on every new data drop before anything downstream trusts
  // it. ONE aggregate over ONE scan (exact distincts via a single Expand
  // — the ×|cols| row multiplier is the price of exactness); the 1-row
  // wide result melts to per-column rows on the driver side of the
  // plan (narrow explode of ONE row). Numeric min/max surface as
  // doubles and string min/max as strings — typed slots, so no
  // cross-engine number formatting enters the hash.
  private def q123(t: Tables): DataFrame =
    graft.operators.Profiling.columnProfile(t.orders,
      numericCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
      stringCols = Seq("o_orderstatus", "o_orderpriority"))

  private val q123Sql = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  min($c) AS min_str, max($c) AS max_str
         |FROM orders""".stripMargin
    (Seq("o_orderkey", "o_custkey", "o_totalprice").map(num) ++
      Seq("o_orderstatus", "o_orderpriority").map(str))
      .mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // q124 — Pearson correlation matrix over the lineitem measures: the
  // feature-redundancy scan before fitting anything on tabular data.
  // One partial+final aggregate computes every moment (n, Σx, Σx², Σxy)
  // in ONE pass. Correlation is invariant under linear rescaling, so
  // values are scaled to exact integer cents first and the moments are
  // exact integer sums (DECIMAL(38,0) on Spark, HUGEINT-widened BIGINT
  // sums in the oracle) — order-independent AND on the compact-long fast
  // path (the double→DECIMAL(38,s) cast's per-row string conversion made
  // the first cut of this query the most expensive row in the bench).
  // Spark's built-in corr() aggregates in doubles — statistically fine,
  // but its partial-sum ORDER would make the hash gate flaky; exact
  // moments make the matrix reproducible bit-for-bit.
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def q124(t: Tables): DataFrame =
    graft.operators.Profiling.corrMatrix(t.lineitem, CorrCols, inputDecimals = 2)

  private val q124Sql = {
    // cent-scaled exact integer moments (see Profiling.corrMatrix):
    // corr is scale-invariant, so no rescale appears anywhere
    def cc(c: String) = s"CAST(round($c * 100) AS BIGINT)"
    val ms = (CorrCols.map(c =>
      s"CAST(sum(${cc(c)}) AS DOUBLE) AS s_$c") ++
      CorrCols.map(c =>
        s"CAST(sum(${cc(c)} * ${cc(c)}) AS DOUBLE) AS ss_$c") ++
      CorrCols.combinations(2).toSeq.map { case Seq(a, b) =>
        s"CAST(sum(${cc(a)} * ${cc(b)}) AS DOUBLE) AS sp_${a}_$b" })
      .mkString(",\n  ")
    val rows = CorrCols.combinations(2).toSeq.map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  round((CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b)
         |    / sqrt(CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)
         |    / sqrt(CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b), 4) AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH m AS (SELECT count(*) AS n,\n  $ms\nFROM lineitem)\n$rows"
  }

  // ---------------------------------------------------------------------
  // q126 — winsorized moment statistics: l_extendedprice clamped to its
  // exact [p01, p99] quantiles (Profiling.winsorize — the distributed
  // prefix-sum scan, never a global sort), then per-returnflag n/mean/
  // stddev from exact DECIMAL moments of the CLAMPED values (clamping
  // preserves the 2-dp grid, so the q109 determinism trick still
  // applies). The outlier-trim-then-moments shape every heavy-tailed
  // metric pipeline runs; at 100 TB both passes are scans.
  private def q126(t: Tables): DataFrame = {
    val w = graft.operators.Profiling.winsorize(
      t.lineitem.select(col("l_returnflag"), col("l_extendedprice")),
      col("l_extendedprice"), 0.01, 0.99, "w")
    w.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("w").cast(DecimalType(38, 2))).cast("double").as("s"),
        sum((col("w") * col("w")).cast(DecimalType(38, 4))).cast("double").as("ss"))
      .select(col("l_returnflag"), col("n"),
        round(col("s") / col("n"), 4).as("w_mean"),
        round(sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1)), 4)
          .as("w_std"))
  }

  private val q126Sql =
    """WITH c AS (SELECT l_extendedprice AS v, count(*) AS c
      |           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      |cum AS (SELECT v, c,
      |          CAST(coalesce(sum(c) OVER (ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |        FROM c),
      |p AS (SELECT CAST(unnest([0.01, 0.99]) AS DOUBLE) AS prob),
      |q AS (SELECT p.prob, v AS value
      |      FROM cum, n, p
      |      WHERE cb < greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT))
      |        AND greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT)) <= cb + c),
      |cuts AS (SELECT min(CASE WHEN prob = 0.01 THEN value END) AS lo,
      |                max(CASE WHEN prob = 0.99 THEN value END) AS hi
      |         FROM q),
      |wt AS (SELECT l_returnflag, least(greatest(l_extendedprice, lo), hi) AS w
      |       FROM lineitem, cuts),
      |m AS (SELECT l_returnflag, count(*) AS n,
      |        CAST(sum(CAST(w AS DECIMAL(38,2))) AS DOUBLE) AS s,
      |        CAST(sum(CAST(w * w AS DECIMAL(38,4))) AS DOUBLE) AS ss
      |      FROM wt GROUP BY 1)
      |SELECT l_returnflag, n, round(s / n, 4) AS w_mean,
      |  round(sqrt((ss - s * s / n) / (n - 1)), 4) AS w_std
      |FROM m""".stripMargin

  // ---------------------------------------------------------------------
  // q132 — one-pass deterministic Poisson bootstrap: 16 resampled means
  // of l_extendedprice whose spread is the mean's sampling distribution
  // (percentile these 16 rows → the CI, no second pass). NO explode —
  // all 32 weighted sums run in ONE partial+final aggregate over ONE
  // scan (Sampling.bootstrapMeans); weights are integers from the
  // engine-neutral md5 hash, sums in exact integer cents, so the oracle
  // reproduces every mean bit-for-bit.
  private val BsR = 16

  private def q132(t: Tables): DataFrame =
    graft.operators.Sampling.bootstrapMeans(
      t.lineitem,
      concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")),
      col("l_extendedprice"), replicates = BsR)

  private val q132Sql = {
    val id = "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
    val rows = (0 until BsR).map { r =>
      val w = graft.operators.Sampling.bootstrapWeightSql(id, r)
      s"""SELECT $r AS replicate, CAST(sum($w) AS BIGINT) AS n_eff,
         |  round(CAST(sum($w * CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
         |    / CAST(sum($w) AS BIGINT) / 100.0, 4) AS mean
         |FROM lineitem""".stripMargin
    }
    rows.mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // q133 — incremental JOIN view maintenance: q114's sibling for the
  // two-sided case. The orders⋈lineitem revenue view splits both inputs
  // at a cutoff (base A₀/B₀ vs delta ΔA/ΔB) and refreshes by the delta
  // algebra ΔV = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — the base join A₀⋈B₀ is the
  // stored aggregate; the three delta joins each touch only one stored
  // side plus a delta. Partial states (counts, integer quantity sums)
  // re-aggregate exactly; the oracle is the FULL recompute, so the gate
  // proves the delta algebra ≡ a from-scratch join at the hash level.
  private val IvmCut = "1995-01-01"

  private def q133(t: Tables): DataFrame = {
    val cut = lit(IvmCut).cast("date")
    val a0 = t.orders.filter(col("o_orderdate") < cut)
    val da = t.orders.filter(col("o_orderdate") >= cut)
    val b0 = t.lineitem.filter(col("l_shipdate") < cut)
    val db = t.lineitem.filter(col("l_shipdate") >= cut)
    def part(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast("long")).as("__q"))
    part(a0, b0).unionByName(part(da, b0))
      .unionByName(part(a0, db)).unionByName(part(da, db))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("__n")).as("n_rows"), sum(col("__q")).as("sum_qty"))
  }

  private val q133Sql =
    s"""SELECT o_orderpriority, count(*) AS n_rows,
       |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // q134 — OHLC downsampling: per (user, hour) open/high/low/close bars
  // over the event stream — the classic time-series reduction. Open and
  // close come from single-pass struct-min/max (the q85/q110 argmax
  // shape: partial+final aggregate, O(1) state, no window, no self-join;
  // ties broken by event_id — a total order, so deterministic). The
  // oracle replays selection with rank windows — naive is fine for an
  // oracle; the ENGINE plan is the one that must scale.
  private def q134(t: Tables): DataFrame =
    t.events
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("hour"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n_events"))

  private val q134Sql =
    """WITH x AS (SELECT user_id, date_trunc('hour', ts) AS hour, ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |                       ORDER BY ts, event_id) AS ro,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rc
      |  FROM events)
      |SELECT user_id, hour,
      |  max(CASE WHEN ro = 1 THEN value END) AS open,
      |  max(value) AS high, min(value) AS low,
      |  max(CASE WHEN rc = 1 THEN value END) AS close,
      |  count(*) AS n_events
      |FROM x GROUP BY user_id, hour""".stripMargin

  // ---------------------------------------------------------------------
  // q136 — MAD-based robust outlier screen: median and the median
  // absolute deviation both from Profiling.exactQuantiles (distributed
  // prefix-sum scan — no global sort, no value buffering), then one
  // narrow count of values beyond 3·1.4826·MAD. Robust to the heavy
  // tails that wreck z-score screens (q109's σ is itself inflated by
  // the outliers it is supposed to find). Three scans total at any
  // scale; the cutoff derivation is two 1-row broadcasts.
  private def q136(t: Tables): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val v = t.lineitem.select(col("l_extendedprice").as("v"))
    // the 1-row cut frames persist (scoped): every downstream consumer
    // would otherwise re-derive the whole quantile scan pipeline — the
    // deviation pass and the final count each re-running the median scan
    val med1 = graft.operators.Profiling.exactQuantiles(v, col("v"), Seq(0.5))
      .agg(min(col("value")).as("med")).persistScoped()
    val dev = v.crossJoin(broadcast(med1))
      .select(col("v"), col("med"), abs(col("v") - col("med")).as("ad"))
    val mad1 = graft.operators.Profiling.exactQuantiles(dev, col("ad"), Seq(0.5))
      .agg(min(col("value")).as("mad")).persistScoped()
    dev.crossJoin(broadcast(mad1))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("ad") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        min(col("med")).as("med"), min(col("mad")).as("mad"))
  }

  private val q136Sql =
    s"""WITH c AS (SELECT l_extendedprice AS v, count(*) AS c
      |           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      |cum AS (SELECT v, c,
      |          CAST(coalesce(sum(c) OVER (ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |        FROM c),
      |med AS (SELECT v AS med FROM cum, n
      |        WHERE cb < greatest(1, CAST(ceil(0.5 * n.n - 1e-6) AS BIGINT))
      |          AND greatest(1, CAST(ceil(0.5 * n.n - 1e-6) AS BIGINT)) <= cb + c),
      |dev AS (SELECT l_extendedprice AS v, med, abs(l_extendedprice - med) AS ad
      |        FROM lineitem, med),
      |$MadCtes
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN ad > 4.4478 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  min(med) AS med, min(mad) AS mad
      |FROM dev, mad""".stripMargin

  // ---------------------------------------------------------------------
  // q137 — per-group ordinary least squares (price on quantity by return
  // flag): slope/intercept/r² from exact integer-cent moments in ONE
  // partial+final aggregate — q124's regression sibling. The built-in
  // regr_slope aggregates in doubles (partial-sum order → flaky hash
  // gate); cent moments are exact, and slope is scale-invariant while
  // the intercept rescales by a power of ten at the end.
  private def q137(t: Tables): DataFrame = {
    def cents(c: Column): Column = round(c * 100, 0).cast("long")
    val m = t.lineitem
      .select(col("l_returnflag"),
        cents(col("l_quantity")).as("x"), cents(col("l_extendedprice")).as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(38, 0))).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(38, 0))).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 0))).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(38, 0))).cast("double").as("syy"))
    val nn = col("n").cast("double")
    val cov = nn * col("sxy") - col("sx") * col("sy")
    val vx = nn * col("sxx") - col("sx") * col("sx")
    val vy = nn * col("syy") - col("sy") * col("sy")
    m.select(col("l_returnflag"), col("n"),
      round(cov / vx, 6).as("slope"),
      round((col("sy") - cov / vx * col("sx")) / nn / 100.0, 4).as("intercept"),
      round(cov / sqrt(vx) / sqrt(vy) * (cov / sqrt(vx) / sqrt(vy)), 6).as("r2"))
  }

  private val q137Sql = {
    def cc(c: String) = s"CAST(round($c * 100) AS BIGINT)"
    s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
       |    CAST(sum(${cc("l_quantity")}) AS DOUBLE) AS sx,
       |    CAST(sum(${cc("l_extendedprice")}) AS DOUBLE) AS sy,
       |    CAST(sum(${cc("l_quantity")} * ${cc("l_extendedprice")}) AS DOUBLE) AS sxy,
       |    CAST(sum(${cc("l_quantity")} * ${cc("l_quantity")}) AS DOUBLE) AS sxx,
       |    CAST(sum(${cc("l_extendedprice")} * ${cc("l_extendedprice")}) AS DOUBLE) AS syy
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, n,
       |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
       |    / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
       |  round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
       |    / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n AS DOUBLE) / 100.0, 4)
       |    AS intercept,
       |  round((CAST(n AS DOUBLE) * sxy - sx * sy)
       |      / sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
       |      / sqrt(CAST(n AS DOUBLE) * syy - sy * sy)
       |    * ((CAST(n AS DOUBLE) * sxy - sx * sy)
       |      / sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
       |      / sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q139 — percentile-rank (quantile-normalization) transform: every
  // distinct o_totalprice mapped to its mid-rank percentile — the rank
  // feature of tabular ML preprocessing. One prefix-sum scan over the
  // distinct values; the raw table is never globally sorted, and joining
  // the tiny (value, pct_rank) map back onto raw rows is a plain hash
  // join. All arithmetic derives from exact integer cumulative counts,
  // so the doubles are identical in every engine — no rounding needed.
  private def q139(t: Tables): DataFrame =
    graft.operators.Profiling.percentileRank(t.orders, col("o_totalprice"))

  private val q139Sql =
    """WITH c AS (SELECT o_totalprice AS v, count(*) AS c
      |           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      |cum AS (SELECT v, c,
      |          CAST(coalesce(sum(c) OVER (ORDER BY v
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |        FROM c)
      |SELECT v AS value,
      |  (CAST(cb AS DOUBLE) + CAST(c AS DOUBLE) / 2) / n AS pct_rank
      |FROM cum, n""".stripMargin

  // ---------------------------------------------------------------------
  // q140 — join-key skew report: for each candidate join column, row
  // count, distinct keys, the hottest key's frequency and the skew
  // factor (max_freq · n_distinct / n_rows ≈ hottest key vs the average
  // key). This is the advisor every large join consults first: skew > a
  // few means AQE skew-split or a salted join (q89), broadcast thresholds
  // need the distinct count, and a hot NULL/default key shows up as
  // max_freq. One counts-aggregate + one 4-way summary per column; the
  // per-column pipelines union (three scans — column-independent
  // aggregates over different grouping keys can't share one).
  private val SkewCols = Seq("l_orderkey", "l_partkey", "l_suppkey")

  private def q140(t: Tables): DataFrame =
    SkewCols.map { c =>
      t.lineitem.groupBy(col(c).as("k")).agg(count(lit(1)).as("f"))
        .agg(sum(col("f")).as("n_rows"), count(lit(1)).as("n_distinct"),
          max(col("f")).as("max_freq"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_distinct"),
          col("max_freq"),
          round(col("max_freq").cast("double") * col("n_distinct")
            / col("n_rows"), 4).as("skew_factor"))
    }.reduce(_.unionByName(_))

  private val q140Sql = SkewCols.map { c =>
    s"""SELECT '$c' AS col_name, CAST(sum(f) AS BIGINT) AS n_rows,
       |  count(*) AS n_distinct, CAST(max(f) AS BIGINT) AS max_freq,
       |  round(CAST(max(f) AS DOUBLE) * count(*) / CAST(sum(f) AS BIGINT), 4)
       |    AS skew_factor
       |FROM (SELECT $c, count(*) AS f FROM lineitem GROUP BY $c)""".stripMargin
  }.mkString("\nUNION ALL\n")

  // ---------------------------------------------------------------------

  private def wrap(f: Tables => DataFrame): Q = (s, dir) => f(Tables(s, dir))

  val defs: Map[String, Q] = Map(
    "q01_group_agg" -> wrap(q01),
    "q02_wordcount" -> wrap(q02),
    "q03_ordered_wordcount" -> wrap(q03),
    "q04_broadcast_hash_join" -> wrap(q04),
    "q05_shuffled_hash_join" -> wrap(q05),
    "q06_sort_merge_join" -> wrap(q06),
    "q07_semi_join" -> wrap(q07),
    "q08_anti_join" -> wrap(q08),
    "q09_union_agg" -> wrap(q09),
    "q10_groupby_orderby" -> wrap(q10),
    "q11_secondary_sort" -> wrap(q11),
    "q12_topk" -> wrap(q12),
    "q13_distinct" -> wrap(q13),
    "q14_intersect" -> wrap(q14),
    "q15_except" -> wrap(q15),
    "q16_rollup" -> wrap(q16),
    "q17_window_rank" -> wrap(q17),
    "q18_filter_project" -> wrap(q18),
    "q19_multijoin_revenue" -> wrap(q19),
    "q20_count_distinct" -> wrap(q20),
    "q21_tumbling_window" -> wrap(q21),
    "q22_cube" -> wrap(q22),
    "q23_scalar_exprs" -> wrap(q23),
    "q24_one_to_one_map" -> (q24 _),
    "q25_json_extract" -> wrap(q25),
    "q39_grouping_sets" -> wrap(q39),
    "q40_percentiles" -> wrap(q40),
    "q41_full_outer_join" -> wrap(q41),
    "q42_scalar_string_math" -> wrap(q42),
    "q43_date_functions" -> wrap(q43),
    "q46_pivot" -> wrap(q46),
    "q47_posexplode" -> wrap(q47),
    "q48_scalar_subquery" -> wrap(q48),
    "q49_array_ops" -> wrap(q49),
    "q50_hopping_window" -> wrap(q50),
    "q51_tpch_q3_shape" -> wrap(q51),
    "q52_tpch_q10_shape" -> wrap(q52),
    "q53_json_struct" -> wrap(q53),
    "q57_text_scan" -> wrap(q57),
    "q58_csv_scan" -> wrap(q58),
    "q59_json_scan" -> wrap(q59),
    "q60_correlated_exists" -> wrap(q60),
    "q66_having_topk" -> wrap(q66),
    "q67_running_window" -> wrap(q67),
    "q68_asof_join" -> wrap(q68),
    "q82_asof_native" -> wrap(q82),
    "q69_range_join" -> wrap(q69),
    "q77_unpivot" -> wrap(q77),
    "q78_lead_lag" -> wrap(q78),
    "q85_argmax_group" -> wrap(q85),
    "q86_bloom_semi_join" -> wrap(q86),
    "q87_merge_upsert" -> wrap(q87),
    "q88_window_frames" -> wrap(q88),
    "q89_salted_join" -> wrap(q89),
    "q91_funnel" -> wrap(q91),
    "q92_retention" -> wrap(q92),
    "q93_zorder_key" -> wrap(q93),
    "q94_asof_forward" -> wrap(q94),
    "q96_script_transform" -> wrap(q96),
    "q97_gap_fill" -> wrap(q97),
    "q98_rank_family" -> wrap(q98),
    "q99_interval_join" -> wrap(q99),
    "q101_scd2_history" -> wrap(q101),
    "q102_bloom_anti_join" -> wrap(q102),
    "q104_histogram" -> wrap(q104),
    "q108_ewma" -> wrap(q108),
    "q109_anomaly_zscore" -> wrap(q109),
    "q110_cdc_apply" -> wrap(q110),
    "q111_bigram_transitions" -> wrap(q111),
    "q112_equidepth_histogram" -> wrap(q112),
    "q114_incremental_agg" -> wrap(q114),
    "q115_exact_quantiles" -> wrap(q115),
    "q117_grouped_quantiles" -> wrap(q117),
    "q123_column_profile" -> wrap(q123),
    "q124_corr_matrix" -> wrap(q124),
    "q126_winsorized_stats" -> wrap(q126),
    "q132_bootstrap_ci" -> wrap(q132),
    "q133_join_ivm" -> wrap(q133),
    "q134_ohlc_bars" -> wrap(q134),
    "q136_mad_outliers" -> wrap(q136),
    "q137_grouped_regression" -> wrap(q137),
    "q139_percentile_rank" -> wrap(q139),
    "q140_skew_report" -> wrap(q140),
    "q147_approx_quantile_guarantee" -> wrap(q147),
    "q150_robust_profile" -> wrap(q150),
    "q160_bag_set_ops" -> wrap(q160),
    "q161_expectations" -> wrap(q161),
    "q163_asof_tolerance" -> wrap(q163),
    "q165_expectations_fk" -> wrap(q165)
  )

  val oracles: Map[String, String] = Map(
    "q01_group_agg" -> q01Sql,
    "q02_wordcount" -> q02Sql,
    "q03_ordered_wordcount" -> q03Sql,
    "q04_broadcast_hash_join" -> q04Sql,
    "q05_shuffled_hash_join" -> q05Sql,
    "q06_sort_merge_join" -> q06Sql,
    "q07_semi_join" -> q07Sql,
    "q08_anti_join" -> q08Sql,
    "q09_union_agg" -> q09Sql,
    "q10_groupby_orderby" -> q10Sql,
    "q11_secondary_sort" -> q11Sql,
    "q12_topk" -> q12Sql,
    "q13_distinct" -> q13Sql,
    "q14_intersect" -> q14Sql,
    "q15_except" -> q15Sql,
    "q16_rollup" -> q16Sql,
    "q17_window_rank" -> q17Sql,
    "q18_filter_project" -> q18Sql,
    "q19_multijoin_revenue" -> q19Sql,
    "q20_count_distinct" -> q20Sql,
    "q21_tumbling_window" -> q21Sql,
    "q22_cube" -> q22Sql,
    "q23_scalar_exprs" -> q23Sql,
    "q24_one_to_one_map" -> q24Sql,
    "q25_json_extract" -> q25Sql,
    "q39_grouping_sets" -> q39Sql,
    "q40_percentiles" -> q40Sql,
    "q41_full_outer_join" -> q41Sql,
    "q42_scalar_string_math" -> q42Sql,
    "q43_date_functions" -> q43Sql,
    "q46_pivot" -> q46Sql,
    "q47_posexplode" -> q47Sql,
    "q48_scalar_subquery" -> q48Sql,
    "q49_array_ops" -> q49Sql,
    "q50_hopping_window" -> q50Sql,
    "q51_tpch_q3_shape" -> q51Sql,
    "q52_tpch_q10_shape" -> q52Sql,
    "q53_json_struct" -> q53Sql,
    "q57_text_scan" -> q57Sql,
    "q58_csv_scan" -> q58Sql,
    "q59_json_scan" -> q59Sql,
    "q60_correlated_exists" -> q60Sql,
    "q66_having_topk" -> q66Sql,
    "q67_running_window" -> q67Sql,
    "q68_asof_join" -> q68Sql,
    "q82_asof_native" -> q68Sql,
    "q69_range_join" -> q69Sql,
    "q77_unpivot" -> q77Sql,
    "q78_lead_lag" -> q78Sql,
    "q85_argmax_group" -> q85Sql,
    "q86_bloom_semi_join" -> q86Sql,
    "q87_merge_upsert" -> q87Sql,
    "q88_window_frames" -> q88Sql,
    "q89_salted_join" -> q89Sql,
    "q91_funnel" -> q91Sql,
    "q92_retention" -> q92Sql,
    "q93_zorder_key" -> q93Sql,
    "q94_asof_forward" -> q94Sql,
    "q96_script_transform" -> q96Sql,
    "q97_gap_fill" -> q97Sql,
    "q98_rank_family" -> q98Sql,
    "q99_interval_join" -> q99Sql,
    "q101_scd2_history" -> q101Sql,
    "q102_bloom_anti_join" -> q102Sql,
    "q104_histogram" -> q104Sql,
    "q108_ewma" -> q108Sql,
    "q109_anomaly_zscore" -> q109Sql,
    "q110_cdc_apply" -> q110Sql,
    "q111_bigram_transitions" -> q111Sql,
    "q112_equidepth_histogram" -> q112Sql,
    "q114_incremental_agg" -> q114Sql,
    "q115_exact_quantiles" -> q115Sql,
    "q117_grouped_quantiles" -> q117Sql,
    "q123_column_profile" -> q123Sql,
    "q124_corr_matrix" -> q124Sql,
    "q126_winsorized_stats" -> q126Sql,
    "q132_bootstrap_ci" -> q132Sql,
    "q133_join_ivm" -> q133Sql,
    "q134_ohlc_bars" -> q134Sql,
    "q136_mad_outliers" -> q136Sql,
    "q137_grouped_regression" -> q137Sql,
    "q139_percentile_rank" -> q139Sql,
    "q140_skew_report" -> q140Sql,
    "q147_approx_quantile_guarantee" -> q147Sql,
    "q150_robust_profile" -> q150Sql,
    "q160_bag_set_ops" -> q160Sql,
    "q161_expectations" -> q161Sql,
    "q163_asof_tolerance" -> q163Sql,
    "q165_expectations_fk" -> q165Sql
  )
}
