package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the optimizations the engine's design
  * depends on must actually fire (SURVEY §4 — these are exactly the
  * capabilities the reference lacks and Catalyst grants for free; a
  * regression here is a silent 10-100× at scale).
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private lazy val dir = {
    // small parquet fixtures on disk so scans go through the real v1 file
    // source (pushdown/pruning paths), not LocalRelation
    val d = Files.createTempDirectory("planshape").toString
    (1 to 1000).map(i => (i.toLong, i % 7, s"name_$i", i * 1.5))
      .toDF("id", "grp", "name", "v").write.mode("overwrite").parquet(s"$d/fact")
    (0 until 7).map(i => (i, s"g$i")).toDF("gid", "gname")
      .write.mode("overwrite").parquet(s"$d/dim")
    d
  }

  test("filter + projection push into the parquet scan") {
    val q = spark.read.parquet(s"$dir/fact").filter($"grp" === 3).select("id", "grp")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(grp), EqualTo(grp,3)]"), p)
    assert(p.contains("ReadSchema: struct<id:bigint,grp:int>"), p)
  }

  test("small dimension joins broadcast; no shuffle of the fact side") {
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim")
    val p = plan(fact.join(dim, $"grp" === $"gid"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("group-by aggregation is partial (map-side combine ≅ Tez Combiner)") {
    val q = spark.read.parquet(s"$dir/fact").groupBy("grp").agg(sum("v"))
    val p = plan(q)
    // two HashAggregates around the exchange: partial then final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("hashpartitioning(grp"), p)
  }

  test("orderBy().limit() plans as TakeOrderedAndProject, not a global sort") {
    val q = spark.read.parquet(s"$dir/fact").orderBy(desc("v")).limit(5)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    val wh = Files.createTempDirectory("warehouse").toString
    // getOrCreate returns the suite-shared session and APPLIES these
    // configs to it — capture and restore them below, or every later
    // suite in the JVM silently runs with broadcast disabled and 4
    // shuffle partitions (this bit MergeSpec when suite order changed)
    val prev = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.get(k))
    val s2 = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .getOrCreate()
    import s2.implicits._
    try {
      (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "a")
        .write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_a")
      (1 to 1000).map(i => (i.toLong, i * 3.0)).toDF("k", "b")
        .write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_b")
      val j = s2.table("bkt_a").join(s2.table("bkt_b"), "k")
      val p = j.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("Exchange"), p) // bucketing pre-partitioned both sides
      assert(j.count() == 1000)
    } finally {
      s2.sql("DROP TABLE IF EXISTS bkt_a")
      s2.sql("DROP TABLE IF EXISTS bkt_b")
      prev.foreach { case (k, v) => s2.conf.set(k, v) }
    }
  }

  test("vector top-k plans as a bounded aggregate, not a rank window") {
    // TopKByScore replaces row_number().over(partitionBy(q_id)): the plan
    // must show partial+final ObjectHashAggregate and NO Window operator —
    // the window would shuffle every scored row and sort whole groups.
    val queries = (1 to 3).map(i => (i.toLong, Array.fill(8)(i * 0.1f)))
      .toDF("q_id", "q_vec")
    val corpus = (1 to 100).map(i => (i.toLong, Array.fill(8)(1.0f / i)))
      .toDF("vec_id", "embedding")
    val q = graft.operators.Similarity.bruteForceTopK(queries, corpus, 5)
    val p = plan(q)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("domain cap plans as a bounded aggregate, not a rank window") {
    // Same contract as vector top-k: a hot domain must not funnel its full
    // row set through one task's window sort — TopKByScore keeps O(k)
    // state per domain through partial+final ObjectHashAggregate.
    val docs = (1 to 100).map(i => (i.toLong, s"src${i % 4}", i * 10L))
      .toDF("doc_id", "source", "n_chars")
    val q = graft.operators.Curation.domainCap(
      docs, col("source"), col("doc_id"), col("n_chars").cast("double"), 5)
    val p = plan(q)
    assert(!p.contains("Window"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("as-of join plans as exchange + sort + window — no nested loop") {
    val left = (1 to 100).map(i => (i.toLong, i % 5, new java.sql.Timestamp(i * 1000L)))
      .toDF("event_id", "k", "ts")
    val right = (1 to 50).map(j => (j % 5, new java.sql.Timestamp(j * 1700L), j * 1.0))
      .toDF("k", "rts", "v")
      .select($"k", $"rts", $"v")
    val q = graft.operators.TemporalJoins.asOfBackward(left, right, "k", "ts", "rts", Seq("v"))
    val p = plan(q)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("corpus dedup exact stage is an aggregate + semi-join, not a window-min") {
    // A hot text hash (boilerplate duplicated 10⁹×) must cost O(1) combiner
    // state per partition, never a windowed sort of the whole group in one
    // task: the plan must be window-free end to end.
    val docs = (1 to 60).map(i => (i.toLong, s"body text ${i % 12} repeated"))
      .toDF("id", "text")
    val p = plan(graft.operators.Dedup.dedupCorpus(docs))
    assert(!p.contains("Window"), p)
  }

  test("Fanout is a no-op for an already-parallel input — no exchange added") {
    val target = spark.sparkContext.defaultParallelism
    val pre = (1 to 1000).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .repartition(target)
    val out = graft.Fanout(pre)
    assert(out eq pre) // same object: Fanout inserted nothing at all
    // and a single-partition input still spreads to full width
    val single = (1 to 10).map(i => (i.toLong, s"t$i")).toDF("id", "text").coalesce(1)
    assert(graft.Fanout(single).rdd.getNumPartitions == target)
  }

  test("q82 runs through the native AsOfJoinExec — no nested loop, no window") {
    val df = graft.queries.Relational.defs("q82_asof_native")(
      spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("AsOfJoin"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("Window"), p)
  }

  test("grouped argmax is one partial+final aggregate — no window, no join") {
    // q85's struct-max: the naive forms (rank window, or max-then-join)
    // either funnel hot groups through one sort task or double the
    // shuffles; the single-pass aggregate must survive as the plan.
    val df = graft.queries.Relational.defs("q85_argmax_group")(
      spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // struct-valued max isn't hash-aggregable, so Catalyst plans
    // SortAggregate — still partial+final (map-side combine, O(1) state
    // per group) with exactly one exchange
    assert("partial_max".r.findAllIn(p).size >= 1, p)
    assert("""\(\d+\) (Sort|Hash)Aggregate""".r.findAllIn(p).size == 2, p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
  }

  test("duplicate passages plan is window-free with partial aggregation") {
    val df = graft.queries.Pipeline.defs("q84_duplicate_passages")(
      spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("rank<=k window filter plans a WindowGroupLimit below the shuffle") {
    // users who write the natural row_number()-then-filter form still get
    // a bounded plan: Catalyst's InferWindowGroupLimit inserts a per-map-
    // partition top-k (WindowGroupLimit) BEFORE the exchange, so a hot
    // partition ships at most k rows per mapper instead of its whole
    // group — the built-in cousin of our TopKByScore aggregate
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"grp").orderBy($"v".desc)
    val q = spark.read.parquet(s"$dir/fact")
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
    val p = plan(q)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // THE 100 TB scan feature for date/domain-partitioned tables: a filter
    // on the dim side becomes a runtime subquery predicate on the fact's
    // PARTITION column, so the fact scan opens only matching directories —
    // without DPP a 1000-partition fact is read in full for a 3-partition
    // join. (Hive-on-Tez ships the same idea as dynamic partition pruning
    // via events; Spark plans it as a DynamicPruning subquery.)
    val d = Files.createTempDirectory("dpp").toString
    (1 to 2000).map(i => (i.toLong, i % 50))
      .toDF("id", "part_key").write.partitionBy("part_key").parquet(s"$d/fact")
    (0 until 50).map(i => (i, s"g${i % 5}")).toDF("gid", "grp")
      .write.parquet(s"$d/dim")
    val fact = spark.read.parquet(s"$d/fact")
    val dim = spark.read.parquet(s"$d/dim").filter($"grp" === "g0")
    val q = fact.join(dim, $"part_key" === $"gid")
    val p = plan(q)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    // and the join result is correct: 10 of 50 part_keys survive
    assert(q.count() == 2000 / 50 * 10)
  }

  test("q86 shape: bloom probe filters the big side BELOW the join exchange") {
    // The whole point of BloomPrune at 100 TB: the might_contain predicate
    // must run BEFORE the shuffle (inside the scan-side codegen span), so
    // the exchange carries only probable matches. If the probe ever
    // migrates above the exchange the operator silently degrades to a
    // plain join plus overhead.
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.{FilterExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val big = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter($"gid" < 3).select($"gid")
      val q = graft.operators.BloomPrune.semiJoin(big, "grp", dim, "gid")
      val exec = q.queryExecution.executedPlan
      def hasProbe(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.exists {
          case f: FilterExec =>
            f.condition.exists(_.isInstanceOf[BloomFilterMightContain])
          case _ => false
        }
      // the probe filter sits under a shuffle exchange (pre-shuffle prune)…
      val exchanges = exec.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.exists(e => hasProbe(e.child)), exec.toString)
      // …and inside a WholeStageCodegen span that also holds the scan
      val codegenWithProbe = exec.collect {
        case w: WholeStageCodegenExec if hasProbe(w.child) => w
      }
      assert(codegenWithProbe.exists(_.exists {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case _ => false
      }), exec.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("q102 shape: definite-no branch joins nothing; anti-join only on might-match side") {
    // antiJoin's short-circuit: the bloom "no" rows must reach the union
    // with NO join in their branch (they are exact by definition), and the
    // exact anti-join must appear exactly once, on the might-match branch.
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val big = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter($"gid" < 3).select($"gid")
      val q = graft.operators.BloomPrune.antiJoin(big, "grp", dim, "gid")
      val exec = q.queryExecution.executedPlan
      val unions = exec.collect { case u: UnionExec => u }
      assert(unions.size == 1, exec.toString)
      val branchJoinCounts = unions.head.children.map(
        _.collect { case j: BaseJoinExec => j }.size)
      assert(branchJoinCounts.sorted == Seq(0, 1), exec.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("q116 wedge + closure joins key on the degree-ordered orientation") {
    // The scale contract of the triangle count: both the wedge hop and the
    // closure join must key on the ORIENTED edge columns (src/dst, directed
    // from the lower-(degree, id) endpoint — out-degree ≤ √(2|E|)), never
    // on the raw id order (a/b), whose fanout on a low-id hub in a dense
    // near-dup cluster approaches |cluster|².
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.queries.Pipeline.defs("q116_triangle_count")(
      spark, "/root/testdata/sf0.001")
    try {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      def keys(j: Join): Seq[(String, String)] = j.condition.toSeq.flatMap(_.collect {
        case EqualTo(a: AttributeReference, b: AttributeReference) => (a.name, b.name)
      })
      val oriented = joins.map(keys).filter(ks =>
        ks.nonEmpty && ks.forall { case (a, b) =>
          Set("src", "dst")(a) && Set("src", "dst")(b) })
      // wedge hop: xy.dst = yz.src
      assert(oriented.exists(ks =>
        ks.contains(("dst", "src")) || ks.contains(("src", "dst"))),
        joins.map(keys).toString)
      // closure: xz.src = xy.src AND xz.dst = yz.dst
      assert(oriented.exists(ks =>
        ks.toSet == Set(("src", "src"), ("dst", "dst"))),
        joins.map(keys).toString)
      // no triangle join keys on the raw undirected ids
      assert(!joins.map(keys).exists(ks =>
        ks.contains(("b", "a")) || ks.contains(("a", "b"))),
        joins.map(keys).toString)
      // and the orientation is derived from a degree aggregate
      assert(plan(df).contains("deg#"), plan(df))
    } finally CacheScope.drain()
  }

  test("q132 bootstrap is ONE aggregate over ONE scan — no explode of data") {
    // the whole point of the one-pass bootstrap: R resamples must NOT
    // multiply the scan (no Generate/Expand over the fact table); the
    // only explode runs on the single-row aggregate result
    val df = graft.queries.Relational.defs("q132_bootstrap_ci")(
      spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size == 2, p) // partial+final
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    // Generate (explode) must sit ABOVE the aggregate, not below it.
    // Formatted plans number nodes leaves-first, so the Generate's node
    // id must exceed both aggregates' ids
    val genId = """Generate \((\d+)\)""".r.findFirstMatchIn(p).get.group(1).toInt
    val aggIds = """HashAggregate \((\d+)\)""".r.findAllMatchIn(p)
      .map(_.group(1).toInt).toSeq
    assert(aggIds.nonEmpty && genId > aggIds.max, p)
  }

  test("q134 OHLC selection is window-free partial+final aggregation") {
    val df = graft.queries.Relational.defs("q134_ohlc_bars")(
      spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
  }

  test("q135 representative selection adds no window to the cluster pipeline") {
    val df = graft.queries.Pipeline.defs("q135_cluster_representatives")(
      spark, "/root/testdata/sf0.001")
    try assert(!plan(df).contains("Window"), plan(df))
    finally CacheScope.drain()
  }

  test("q131 PassJoin: segment candidates equi-join; the only nested loop is the bounded short path") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.Cross
    val df = graft.queries.Pipeline.defs("q131_fuzzy_dedup_editdist")(
      spark, "/root/testdata/sf0.001")
    try {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      // exactly one non-equi join: the both-sides-short pair join over the
      // bounded length<=k key set (everything else — segment candidates and
      // the two verify joins — must carry equi-conditions)
      def isEqui(j: Join): Boolean = j.condition.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.EqualTo => true
        case _ => false
      })
      val nonEqui = joins.filterNot(isEqui).filterNot(_.joinType == Cross)
      assert(nonEqui.size <= 1, joins.map(_.condition).toString)
      assert(!plan(df).contains("CartesianProduct"), plan(df))
    } finally CacheScope.drain()
  }

  test("q153 SNM: the only Windows are the |partitions|-row offset cumulations") {
    // the distributed-scan contract: global ranks come from range
    // partition + per-partition counting, and the ONLY window in the plan
    // is the cross-partition offset cumulation over the per-partition
    // subtotals (|partitions| rows) — a Window whose child carries corpus
    // columns would mean the corpus is funneling through a global-order
    // sort, the exact scale regression this pins against
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // the rank frames persistScope, so the Windows live inside cached
    // plans — descend through InMemoryTableScan / AQE wrappers
    def windows(p: SparkPlan): Seq[WindowExec] =
      p.collect { case w: WindowExec => w } ++
        p.collect { case a: AdaptiveSparkPlanExec => a.inputPlan }.flatMap(windows) ++
        p.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
          .flatMap(windows)
    val df = graft.queries.Pipeline.defs("q153_sorted_neighborhood_dedup")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count() // materialize so cached plans exist
      val wins = windows(df.queryExecution.executedPlan).distinct
      assert(wins.nonEmpty, "expected the offsets windows in the plan")
      wins.foreach { w =>
        val childCols = w.child.output.map(_.name).toSet
        assert(childCols.subsetOf(Set("__pid", "__ptot")),
          s"window runs over non-offset columns: $childCols")
      }
    } finally CacheScope.drain()
  }

  test("q113/q118 candidate join: prefix-exploded probe side only; size filter ON the join") {
    // The 100 TB contract of the two heaviest dedup operators: the
    // candidate join must be (probe-prefix rows) ⋈ (inverted index) —
    // the probe side carries ONLY the slice()'d rarest-first prefix, the
    // index side is the full (un-slice'd) explode — and the |B| ≥ t·|A|
    // size cut must be evaluated AS the join's own predicate on collision
    // rows (its lowest legal position: it references both sides), never
    // re-derived in a filter above the join output.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, Slice}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def hasSlice(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(_.isInstanceOf[Slice])))
    for (q <- Seq("q113_containment_dedup", "q118_decontaminate_containment")) {
      val df = graft.queries.Pipeline.defs(q)(spark, "/root/testdata/sf0.001")
      try {
        val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
        // the candidate join: shingle equality plus the size inequality in
        // ONE condition (the df-ordering join in the prefix derivation also
        // keys on s, but carries no inequality)
        val cand = joins.filter(j => j.condition.exists(c =>
          c.exists {
            case EqualTo(a: AttributeReference, b: AttributeReference) =>
              a.name == "s" && b.name == "s"
            case _ => false
          } && c.exists(_.isInstanceOf[GreaterThanOrEqual])))
        assert(cand.size == 1, joins.map(_.condition).toString)
        // exactly one side is the slice'd prefix (probe); the index side
        // must NOT be prefix-truncated (that would lose pairs)
        assert(hasSlice(cand.head.left) != hasSlice(cand.head.right),
          cand.head.toString)
      } finally CacheScope.drain()
    }
  }

  test("q118 decontamination: probe side broadcasts — the corpus index never shuffles") {
    // containmentAgainst(smallProbe = true) is the decontamination
    // contract: eval suites are thousands of rows against a corpus-sized
    // train side, so every join must broadcast the probe side and STREAM
    // the corpus — a shuffle of the train inverted index (or its sorted
    // shingle arrays) at 100 TB is the regression this pins against.
    // AQE + auto-broadcast are irrelevant: the plan carries explicit
    // hints, so the static plan must already be right.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.queries.Pipeline.defs("q118_decontaminate_containment")(
        spark, "/root/testdata/sf0.001")
      val plans = df.queryExecution.executedPlan.collect { case p => p }
      // every join in the query is a broadcast join (candidate + the two
      // verify joins + the tiny df-order join) — no sort-merge/shuffled-
      // hash join anywhere means the corpus side was never exchanged as
      // join input
      assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]), plans.toString)
      assert(!plans.exists(p => p.isInstanceOf[SortMergeJoinExec] ||
        p.isInstanceOf[ShuffledHashJoinExec] ||
        p.isInstanceOf[BroadcastNestedLoopJoinExec]), plans.toString)
      // the only shuffles permitted are probe-side (prefix derivation: its
      // df aggregate + collect_list) and the final distinct() on the tiny
      // qualifying pairs — none may carry the corpus's sorted shingle
      // arrays (column `sh`)
      val shuffles = plans.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.nonEmpty &&
        shuffles.forall(!_.child.output.exists(_.name == "sh")), plans.toString)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
      CacheScope.drain()
    }
  }

  test("q145 stored-ANN probe: lists scan is dynamically pruned to the probed cells") {
    // probe cost ∝ batch: the cell-partitioned inverted lists must be
    // opened ONLY for cells the query batch probes — the scan's
    // PartitionFilters must carry a dynamicpruning expression on `cell`
    // fed from the broadcast probe side. Without it every probe reads the
    // whole corpus index and the stored index is pointless.
    val df = graft.queries.Pipeline.defs("q145_ann_stored_index")(
      spark, "/root/testdata/sf0.001")
    try {
      val p = plan(df)
      assert(p.toLowerCase.contains("dynamicpruningexpression(cell"), p)
      assert(p.contains("BroadcastHashJoin"), p) // probes broadcast, lists streamed
    } finally CacheScope.drain()
  }

  test("q146 build+append index probe: lists scan keeps the dynamic cell pruning") {
    // the q145 pin covers the pure-build index; the incremental path must
    // not lose the probe economics — after ingestIntoIvfIndex adds batch
    // 1's cell partitions, the probe's lists scan still has to carry the
    // dynamicpruning expression on `cell` (probe cost ∝ batch, only
    // probed cells read, across both build- and ingest-written files)
    val df = graft.queries.Pipeline.defs("q146_ann_index_append")(
      spark, "/root/testdata/sf0.001")
    try {
      val p = plan(df)
      assert(p.toLowerCase.contains("dynamicpruningexpression(cell"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    } finally CacheScope.drain()
  }

  test("q154 stored-BM25 probe: lists scan is dynamically pruned to the probed buckets") {
    // the lexical index-integrity economics mirror q145's: the posting
    // lists are partitioned by term bucket and a probe may only open the
    // buckets its query terms hash into — the scan's PartitionFilters
    // must carry a dynamicpruning expression on `bucket` fed from the
    // broadcast query side. Without it every probe reads the whole
    // posting corpus and the stored index is pointless.
    val df = graft.queries.Pipeline.defs("q154_bm25_stored_index")(
      spark, "/root/testdata/sf0.001")
    try {
      val p = plan(df)
      assert(p.toLowerCase.contains("dynamicpruningexpression(bucket"), p)
      assert(p.contains("BroadcastHashJoin"), p) // queries broadcast, lists streamed
    } finally CacheScope.drain()
  }

  test("versioned (batch-partitioned) ANN index probe keeps the cell pruning") {
    // the replay-safe layout adds `batch` as a second partition level;
    // the probe's cost model (∝ batch, only probed cells read) must
    // survive that — the lists scan's partition filters still need the
    // dynamicpruning expression on `cell` across every batch directory
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("ivf-vers-plan").toString
    try {
      graft.operators.Similarity.writeIvfIndexVersioned(
        emb.filter(col("vec_id") % 2 === 0), dir, 16)
      graft.operators.Similarity.ingestIntoIvfIndex(
        emb.filter(col("vec_id") % 2 === 1), dir, 1L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val p = plan(graft.operators.Similarity
        .ivfTopKAgainstIndex(queries, dir, 2, 10))
      assert(p.toLowerCase.contains("dynamicpruningexpression(cell"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    } finally CacheScope.drain()
  }

  test("PQ index probe: the codes scan keeps the dynamic cell pruning") {
    // the q145/q146 probe economics carried onto the compressed layout:
    // ADC scoring may only scan the probed cells' code partitions — the
    // codes scan's partition filters must carry the dynamicpruning
    // expression on `cell` fed from the broadcast query side
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = Files.createTempDirectory("ivf-pq-plan").toString
    try {
      graft.operators.Similarity.writeIvfIndexVersioned(emb, dir, 16,
        codec = graft.operators.Similarity.IvfCodec.Pq(8, 16))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val p = plan(graft.operators.Similarity
        .ivfTopKAgainstIndex(queries, dir, 2, 10))
      assert(p.toLowerCase.contains("dynamicpruningexpression(cell"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    } finally CacheScope.drain()
  }

  test("residual-PQ index probe: the codes scan keeps the dynamic cell pruning") {
    // the compressed-probe economics carried onto the residual layout —
    // the per-(query, cell) ⟨q,c⟩ term joins on the SAME broadcast probe
    // frame, so the codes scan must still DPP-prune to probed cells
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = Files.createTempDirectory("ivf-pqr-plan").toString
    try {
      graft.operators.Similarity.writeIvfIndexVersioned(emb, dir, 16,
        codec = graft.operators.Similarity.IvfCodec.Pqr(8, 16))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val p = plan(graft.operators.Similarity
        .ivfTopKAgainstIndex(queries, dir, 2, 10))
      assert(p.toLowerCase.contains("dynamicpruningexpression(cell"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    } finally CacheScope.drain()
  }

  test("IVF index build and ingest: the corpus crosses only each write's one rebalance") {
    // the build's scale contract: scan → narrow argmax fold over the
    // broadcast centroid array → ONE rebalance on `cell` → partitioned
    // write. The rebalance moves each vector once so every cell directory
    // gets few files; no join or aggregate exchange may carry the
    // embeddings. The old bestCells assignment (a groupBy per corpus
    // vector, first(embedding) in its buffer) is caught by the type
    // check: the partial-aggregate buffer is named `first`, typed like
    // `embedding`.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vecType = emb.schema("embedding").dataType
    val d1 = Files.createTempDirectory("ivf-noshuffle").toString
    val d2 = Files.createTempDirectory("ivf-noshuffle-v").toString
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.operators.Similarity.writeIvfIndexVersioned(emb, d1, 16)
      graft.operators.Similarity.writeIvfIndexVersioned(
        emb.filter(col("vec_id") % 2 === 0), d2, 16)
      graft.operators.Similarity.ingestIntoIvfIndex(
        emb.filter(col("vec_id") % 2 === 1), d2, 1L)
      org.apache.spark.graftaccess.ListenerBusAccess.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      CacheScope.drain()
    }
    val aqe = new AdaptiveSparkPlanHelper {}
    val plans = qes.asScala.toSeq.map(_.executedPlan)
    def writesLists(p: org.apache.spark.sql.execution.SparkPlan) =
      aqe.collect(p) { case w: DataWritingCommandExec => w.cmd }.exists {
        case c: InsertIntoHadoopFsRelationCommand =>
          c.outputPath.toString.contains("/lists")
        case _ => false
      }
    assert(plans.count(writesLists) == 3, plans.mkString("\n"))
    for (p <- plans) {
      val (rebalance, other) = aqe.collect(p) { case s: ShuffleExchangeExec => s }
        .partition(_.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL)
      assert(other.forall(!_.child.output.exists(a =>
        a.name == "embedding" || a.dataType == vecType)),
        s"a join or aggregate exchange carries the corpus vectors:\n$p")
      assert(rebalance.size == (if (writesLists(p)) 1 else 0), p)
    }
    val cellDirs = Seq(s"$d1/lists/batch=0", s"$d2/lists/batch=0", s"$d2/lists/batch=1")
      .flatMap(d => new java.io.File(d).listFiles().filter(_.getName.startsWith("cell=")))
    assert(cellDirs.nonEmpty)
    for (c <- cellDirs) {
      val files = c.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 2, s"$c holds $files files")
    }
  }

  test("byte-BPE trainer: a fixed job count per call, whatever the round count") {
    // one word-count aggregate collected to the driver; the merge rounds
    // run in driver memory, so 8 rounds cost the jobs 2 rounds do
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def jobs(rounds: Int): Long = Counters.track(spark) {
      graft.operators.TextOps.bpeMerges(docs, col("text"), rounds,
        byteLevel = true)
    }._2.jobs
    val (j2, j8) = (jobs(2), jobs(8))
    assert(j2 == j8, s"rounds = 2 ran $j2 jobs, rounds = 8 ran $j8")
    assert(j8 <= 3, s"the trainer ran $j8 jobs")
  }

  test("store rewrites: compaction jobs hold, deletion drops the emptiness probe, one file per cell") {
    // Pinned against the counts before compaction and deletion shared one
    // rewrite (same setup, local[4]): compactIvfIndex 3 jobs,
    // deleteFromIvfIndex of 10 ids 7 jobs, compactBm25Index 6 jobs,
    // deleteFromBm25Index of 10 ids 9 jobs, 1 file per cell directory.
    // Emptiness is now read off the written output, so a delete no longer
    // runs the anti-join lineage a second time as a probe.
    import graft.operators.{Retrieval, Similarity}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(col("doc_id").as("id"),
      explode(split(lower(col("text")), "\\s+")).as("term"))
    val terms = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .join(toks.groupBy(col("id")).agg(count(lit(1)).as("dl")), "id")
    def jobs(body: => Int): Long = Counters.track(spark)(body)._2.jobs
    val ivf = Files.createTempDirectory("ivf-jobs").toString
    val bm25 = Files.createTempDirectory("bm25-jobs").toString
    try {
      Similarity.writeIvfIndexVersioned(emb.filter(col("vec_id") % 2 === 0), ivf, 4)
      Similarity.ingestIntoIvfIndex(emb.filter(col("vec_id") % 2 === 1), ivf, 1L)
      val compactIvf = jobs(Similarity.compactIvfIndex(spark, ivf))
      val cells = new java.io.File(s"$ivf/lists_e1/batch=0").listFiles()
        .filter(_.getName.startsWith("cell="))
      assert(cells.nonEmpty)
      for (c <- cells)
        assert(c.listFiles().count(_.getName.endsWith(".parquet")) == 1, c)
      val deleteIvf = jobs(Similarity.deleteFromIvfIndex(spark, ivf,
        emb.filter(col("vec_id") < 10)))
      Retrieval.writeBm25IndexVersioned(terms.filter(col("id") % 2 === 0), bm25, 16)
      Retrieval.ingestIntoBm25Index(terms.filter(col("id") % 2 === 1), bm25, 1L)
      val compactBm25 = jobs(Retrieval.compactBm25Index(spark, bm25))
      val deleteBm25 = jobs(Retrieval.deleteFromBm25Index(spark, bm25,
        docs.filter(col("doc_id") < 10).select(col("doc_id").as("id"))))
      assert(compactIvf <= 3, s"compactIvfIndex ran $compactIvf jobs")
      assert(deleteIvf < 7, s"deleteFromIvfIndex ran $deleteIvf jobs")
      assert(compactBm25 <= 6, s"compactBm25Index ran $compactBm25 jobs")
      assert(deleteBm25 < 9, s"deleteFromBm25Index ran $deleteBm25 jobs")
    } finally CacheScope.drain()
  }

  test("streaming sinks: outputSink and storeSink add no job to the operator they run") {
    // A sink call runs exactly the jobs of its operator called directly on
    // the same batch: the combinators add a CacheScope scope and the store
    // batch shift, never a Spark job. The one sink whose plan changed with
    // the combinators is dedupIngest, whose corpus index now goes through
    // Dedup's views: on sf0.01 documents in two 250-doc batches
    // (local[4]) it ran 20 and 31 jobs per call before, 21 and 32 now;
    // the added job is the band view's rebalance, which packs each band=
    // directory into one file instead of four.
    import graft.operators.{Retrieval, Similarity}
    import graft.streaming.EventStreams
    def jobs(body: => Unit): Long = Counters.track(spark)(body)._2.jobs
    val t = Tables(spark, "/root/testdata/sf0.001")
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val terms = t.documents.select(col("doc_id").as("id"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("dl", lit(1L))
    val Seq(ivfA, ivfB, bmA, bmB, out) =
      Seq("ivfA", "ivfB", "bmA", "bmB", "out").map(Files.createTempDirectory(_).toString)
    try {
      for (d <- Seq(ivfA, ivfB))
        Similarity.writeIvfIndexVersioned(emb.filter(col("vec_id") % 2 === 0), d, 4)
      val vecs = emb.filter(col("vec_id") % 2 === 1)
      assert(jobs(EventStreams.annIngest(ivfA)(vecs, 0)) ==
        jobs(Similarity.ingestIntoIvfIndex(vecs, ivfB, 1)))
      for (d <- Seq(bmA, bmB))
        Retrieval.writeBm25IndexVersioned(terms.filter(col("id") % 2 === 0), d, 16)
      val postings = terms.filter(col("id") % 2 === 1)
      assert(jobs(EventStreams.bm25Ingest(bmA)(postings, 0)) ==
        jobs(Retrieval.ingestIntoBm25Index(postings, bmB, 1)))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      def op(q: DataFrame) = Similarity.ivfTopKAgainstIndex(q, ivfB, 2, 10)
      assert(jobs(EventStreams.outputSink(out)(op)(queries, 0)) ==
        jobs(op(queries).write.mode("overwrite").parquet(s"$out/batch=0")))
    } finally CacheScope.drain()
  }

  test("q44 IVF top-k: no exchange ever carries the corpus embeddings") {
    // corpus-side narrowness in the probe path: the inverted-list side is
    // assigned narrowly and joined via broadcast of the probe batch, and
    // the final top-k aggregate exchanges only (q_id, k-bounded structs).
    // Only the (small) query batch's own derivation may shuffle — no
    // exchange output may contain the corpus `embedding` column.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = graft.queries.Pipeline.defs("q44_ann_ivf_topk")(
      spark, "/root/testdata/sf0.001")
    try {
      val plans = df.queryExecution.executedPlan.collect { case p => p }
      val shuffles = plans.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.forall(
        !_.child.output.exists(_.name == "embedding")), plans.toString)
    } finally CacheScope.drain()
  }

  test("q159 recursion: frontier expands through an equi-join — never an OR-predicate nested loop") {
    val df = graft.queries.Pipeline.defs("q159_recursive_reachability")(
      spark, "/root/testdata/sf0.001")
    try {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      val opt = df.queryExecution.optimizedPlan
      // the recursive member (inside UnionLoop) must join the frontier to
      // the directed edge union on a SINGLE equality — hash-joinable. The
      // old `ON r.id = e.id_a OR r.id = e.id_b` was a non-equi condition
      // Catalyst planned as BroadcastNestedLoopJoin of the frontier
      // against the FULL edge set every level.
      val joins = opt.collect { case j: Join => j }
      assert(joins.nonEmpty, opt.toString.take(2000))
      joins.foreach { j =>
        val c = j.condition.map(_.toString).getOrElse("")
        assert(!c.contains(" OR "), s"OR-predicate join in q159 recursion: $c")
      }
      assert(opt.toString.contains("= src#"), opt.toString.take(2000))
    } finally CacheScope.drain()
  }

  test("q159 recursion survives a mass-dup clique: per-level DISTINCT bounds the frontier at |V|") {
    // An m-clique is the adversarial near-dup component (one mass-dup
    // cluster). The old path-enumerating recursion produced ~m^3 rows at
    // 3 hops (m=800 → 5·10^8 — unrunnable here); the per-level DISTINCT
    // frontier is bounded at |V| rows per level by construction, so this
    // completes in seconds AND returns the exact BFS answer.
    val m = 800
    val nodes = spark.range(m).toDF("id")
    val edges = nodes.as("a").join(nodes.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
    edges.createOrReplaceTempView("clique_edges_spec")
    Seq(0L).toDF("doc_id").createOrReplaceTempView("clique_seeds_spec")
    val out = spark.sql("WITH RECURSIVE " +
      graft.queries.Pipeline.reachSql("clique_seeds_spec", "clique_edges_spec"))
      .collect()
    assert(out.length == m)
    assert(out.count(_.getLong(1) == 0L) == 1) // the seed
    assert(out.count(_.getLong(1) == 1L) == m - 1) // everyone else: 1 hop
  }

  test("q169 repetition filter: a pure narrow map — no agg, no window, no join") {
    // both Gopher signal families come from the codegen'd
    // repetition_signals kernel, so the WHOLE operator must stay a
    // project over the scan: any aggregate/window/join in the plan means
    // someone re-introduced the explode + per-(doc,ngram) shape this
    // kernel exists to avoid (≈ corpus-token shuffle rows at 100 TB).
    // The only permitted exchange is Fanout's explicit round-robin
    // spread (test-scale only — skipped entirely at real split counts).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.Pipeline.defs("q169_repetition_filter")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val ps = unwrap(df.queryExecution.executedPlan)
      assert(ps.flatMap(_.collect { case x: BaseAggregateExec => x }).isEmpty)
      assert(ps.flatMap(_.collect { case x: WindowExec => x }).isEmpty)
      assert(ps.flatMap(_.collect { case x: BaseJoinExec => x }).isEmpty)
      val shuffles = ps.flatMap(_.collect { case s: ShuffleExchangeLike => s })
      shuffles.foreach { s =>
        assert(s.outputPartitioning.toString.contains("RoundRobinPartitioning"),
          s"non-Fanout exchange in q169: ${s.outputPartitioning}")
      }
    } finally CacheScope.drain()
  }

  test("q174 hashed classifier: a pure narrow map — hashing-trick serving never joins") {
    // the hashing trick's whole point at corpus scale: no vocabulary
    // join, no per-(doc, feature) shuffle — scoring must stay a project
    // over the scan (weights ride as one array literal)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.Pipeline.defs("q174_quality_classifier")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val ps = unwrap(df.queryExecution.executedPlan)
      assert(ps.flatMap(_.collect { case x: BaseAggregateExec => x }).isEmpty)
      assert(ps.flatMap(_.collect { case x: WindowExec => x }).isEmpty)
      assert(ps.flatMap(_.collect { case x: BaseJoinExec => x }).isEmpty)
      ps.flatMap(_.collect { case s: ShuffleExchangeLike => s }).foreach { s =>
        assert(s.outputPartitioning.toString.contains("RoundRobinPartitioning"),
          s"non-Fanout exchange in q174: ${s.outputPartitioning}")
      }
    } finally CacheScope.drain()
  }

  test("q175 perplexity filter: the LM broadcasts — scoring never shuffle-joins the corpus") {
    // the model tables are bounded (maxV/maxB rows) by construction, so
    // every scoring join must be a broadcast join; a sort-merge/shuffled
    // join here would exchange the corpus's per-(doc, bigram) rows
    // against a model that fits in one broadcast
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val df = graft.queries.Pipeline.defs("q175_perplexity_filter")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val joins = unwrap(df.queryExecution.executedPlan)
        .flatMap(_.collect { case j: BaseJoinExec => j })
      assert(joins.nonEmpty)
      joins.foreach {
        case _: BroadcastHashJoinExec => ()
        case _: BroadcastNestedLoopJoinExec => () // the 1-row stats crossJoin
        case other => fail(s"non-broadcast join in q175 scoring: ${other.nodeName}")
      }
    } finally CacheScope.drain()
  }

  test("q177 boilerplate removal: bp set and per-source counts join via broadcast only") {
    // the boilerplate set is bounded by construction (≤ segments-per-doc
    // / rate per source), so both the nd join and the bp join must
    // BROADCAST — a shuffle join here would exchange the corpus's whole
    // segment explosion a second time
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val df = graft.queries.Pipeline.defs("q177_boilerplate_removal")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val joins = unwrap(df.queryExecution.executedPlan)
        .flatMap(_.collect { case j: BaseJoinExec => j })
      assert(joins.nonEmpty, "expected the nd + bp joins")
      joins.foreach {
        case _: BroadcastHashJoinExec => ()
        case other => fail(s"non-broadcast join in q177: ${other.nodeName}")
      }
    } finally CacheScope.drain()
  }

  test("q171 duplicate spans: every window is partitioned by the document") {
    // the island merge is the only window family in the plan, and each
    // must carry PARTITION BY the doc id — an empty partition spec would
    // be a single-task global sort over every duplicated gram position
    // in the corpus, the exact funnel this operator's design forbids
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.Pipeline.defs("q171_duplicate_spans")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val wins = unwrap(df.queryExecution.executedPlan)
        .flatMap(_.collect { case w: WindowExec => w }).distinct
      assert(wins.nonEmpty, "expected the island-merge windows")
      wins.foreach { w =>
        assert(w.partitionSpec.nonEmpty &&
          w.partitionSpec.exists(_.toString.contains("id")),
          s"window not partitioned by doc: ${w.partitionSpec}")
      }
    } finally CacheScope.drain()
  }

  test("AQE coalesces an over-partitioned shuffle at runtime") {
    val q = spark.read.parquet(s"$dir/fact").repartition(col("grp"))
      .groupBy("grp").count()
    q.collect()
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("AQEShuffleRead") || p.contains("coalesced"), p)
  }

  test("q184 DSIR: the bucket model joins via broadcast; selection is top-k, never a global sort") {
    // the dim-bounded log-ratio table and the 1-row threshold must
    // broadcast (the hashing trick's bounded-model contract), and the
    // top-quota selection must compile to TakeOrdered — a global Sort
    // of per-doc weights would funnel the corpus through one task
    import org.apache.spark.sql.execution.{SparkPlan, SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val df = graft.queries.Pipeline.defs("q184_dsir_selection")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val ps = unwrap(df.queryExecution.executedPlan)
      val joins = ps.flatMap(_.collect { case j: BaseJoinExec => j })
      assert(joins.nonEmpty)
      joins.foreach {
        case _: BroadcastHashJoinExec => ()
        case _: BroadcastNestedLoopJoinExec => () // 1-row totals/threshold
        case other => fail(s"non-broadcast join in q184: ${other.nodeName}")
      }
      assert(ps.flatMap(_.collect {
        case t: TakeOrderedAndProjectExec => t }).nonEmpty,
        "quota selection must be a distributed TakeOrdered")
      assert(ps.flatMap(_.collect { case s: SortExec => s })
        .forall(_.global == false),
        "no global sort may survive in the DSIR plan")
    } finally CacheScope.drain()
  }

  test("q192 perplexity partition: model and boundary table broadcast — no corpus shuffle-join") {
    // the LM is bounded (maxV+maxB rows) and the boundary table is two
    // doubles per source: every join in the plan must broadcast; a
    // shuffle join would exchange the corpus's bigram explosion twice
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val df = graft.queries.Pipeline.defs("q192_ppl_partition")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val joins = unwrap(df.queryExecution.executedPlan)
        .flatMap(_.collect { case j: BaseJoinExec => j })
      assert(joins.nonEmpty, "expected model + boundary joins")
      joins.foreach {
        case _: BroadcastHashJoinExec => ()
        case _: BroadcastNestedLoopJoinExec => () // 1-row model totals
        case other => fail(s"non-broadcast join in q192: ${other.nodeName}")
      }
    } finally CacheScope.drain()
  }

  test("q193 centroid map: one integer aggregate over the corpus, centroids broadcast into the pair cross") {
    // the corpus-side work is the (group × dim) partial-aggregated sum;
    // the |groups|-row centroid table must BROADCAST into the |groups|²
    // cross — and no exchange may ever carry the raw embedding arrays
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    // the raw operator, not the gate row: the gate's Fanout repartitions
    // the INPUT (an array-carrying exchange by design); the pin is that
    // the OPERATOR adds none of its own
    val df = graft.operators.Similarity.groupCentroidCosine(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      org.apache.spark.sql.functions.col("label"),
      org.apache.spark.sql.functions.col("embedding"))
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val ps = unwrap(df.queryExecution.executedPlan)
      ps.flatMap(_.collect { case j: BaseJoinExec => j }).foreach {
        case _: BroadcastHashJoinExec => ()
        case _: BroadcastNestedLoopJoinExec => () // the g_a <= g_b cross
        case other => fail(s"non-broadcast join in q193: ${other.nodeName}")
      }
      // no shuffle carries the embedding array: only (g, d, n, sx) longs
      ps.flatMap(_.collect { case e: ShuffleExchangeExec => e }).foreach { e =>
        val cols = e.output.map(_.name).mkString(",")
        assert(!e.output.exists(_.dataType.typeName.startsWith("array")),
          s"an exchange carries an array column: $cols")
      }
    } finally CacheScope.drain()
  }

  test("q191 pack manifest: the offsets side joins via broadcast; span explode is narrow") {
    // the per-(domain, partition) offsets table is |partitions|-scale and
    // must broadcast back into the scan; the span explode adds no
    // exchange of its own
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val df = graft.queries.Pipeline.defs("q191_pack_manifest")(
      spark, "/root/testdata/sf0.001")
    try {
      df.count()
      def unwrap(p: SparkPlan): Seq[SparkPlan] =
        p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .flatMap(unwrap)
      val joins = unwrap(df.queryExecution.executedPlan)
        .flatMap(_.collect { case j: BaseJoinExec => j })
      assert(joins.nonEmpty, "expected the offsets join")
      joins.foreach {
        case _: BroadcastHashJoinExec => ()
        case other => fail(s"non-broadcast join in q191: ${other.nodeName}")
      }
    } finally CacheScope.drain()
  }

  test("q234/q239 media fingerprints: pure narrow passes — decode once, no agg/window/join") {
    // the fingerprint stage's contract at blob scale: pixels/samples never
    // leave the scan stage — only (hi, lo) halves do. Any aggregate,
    // window or join means someone moved hash derivation off the decode
    // pass; the only permitted exchange is Fanout's round-robin spread.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q234_image_ahash", "q239_audio_fingerprint")) {
      val df = graft.queries.Pipeline.defs(q)(spark, "/root/testdata/sf0.001")
      try {
        df.count()
        def unwrap(p: SparkPlan): Seq[SparkPlan] =
          p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
            .flatMap(unwrap)
        val ps = unwrap(df.queryExecution.executedPlan)
        assert(ps.flatMap(_.collect { case x: BaseAggregateExec => x }).isEmpty, q)
        assert(ps.flatMap(_.collect { case x: WindowExec => x }).isEmpty, q)
        assert(ps.flatMap(_.collect { case x: BaseJoinExec => x }).isEmpty, q)
        ps.flatMap(_.collect { case s: ShuffleExchangeLike => s }).foreach { s =>
          assert(s.outputPartitioning.toString.contains("RoundRobinPartitioning"),
            s"non-Fanout exchange in $q: ${s.outputPartitioning}")
        }
      } finally CacheScope.drain()
    }
  }

  test("q236 stored-fingerprint probe: bands scan partition-pruned to the probe's buckets") {
    // the store's probe economics: the probe's distinct bucket set
    // (bounded by `buckets`, never probe size) must reach the stored
    // bands scan as a static IN partition filter — at a billion stored
    // images a probe opens only candidate bucket directories. Spark's
    // DYNAMIC pruning declines this join (the probe side is a
    // mapPartitions decode with no selective predicate), which is
    // exactly why ahashAgainstIndex pushes the bounded set statically.
    val df = graft.queries.Pipeline.defs("q236_image_index_probe")(
      spark, "/root/testdata/sf0.001")
    try {
      val p = plan(df)
      val pf = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
      assert(pf.exists(l => l.contains("bkt") &&
        (l.contains("INSET") || l.contains(" IN "))),
        s"stored bands scan not bucket-pruned:\n${pf.mkString("\n")}")
    } finally CacheScope.drain()
  }

  test("q235/q240 fingerprint pairs: banded equi-joins only — never a cartesian/nested loop") {
    // the lossless-banding economics: candidates come from band-key
    // equi-joins (pigeonhole), so the executed plan must contain zero
    // CartesianProduct/BroadcastNestedLoop nodes — their presence means
    // the O(n²) scan the banding exists to avoid is back.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    for (q <- Seq("q235_image_neardup_pairs", "q240_audio_neardup_pairs")) {
      val df = graft.queries.Pipeline.defs(q)(spark, "/root/testdata/sf0.001")
      try {
        df.count()
        def unwrap(p: SparkPlan): Seq[SparkPlan] =
          p +: p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
            .flatMap(unwrap)
        val joins = unwrap(df.queryExecution.executedPlan)
          .flatMap(_.collect { case j: BaseJoinExec => j })
        assert(joins.nonEmpty, s"expected the band-key join in $q")
        joins.foreach {
          case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec =>
            fail(s"non-equi join in $q")
          case _ => ()
        }
      } finally CacheScope.drain()
    }
  }
}