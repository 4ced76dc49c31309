package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist

/** Graph analytics over pipeline-derived graphs (near-dup edges, citation
  * links, co-occurrence): operators beyond the connected components of
  * [[Dedup.connectedComponents]].
  *
  * Reference analogue: none — Tez has no graph operators (its closest
  * shape is the iterative DAG re-submission of
  * tez-examples/src/main/java/org/apache/tez/examples/SimpleSessionExample.java,
  * which re-runs a DAG per input); these are additive analytics surface.
  *
  * Scale design: every iteration is (join on node id + partial+final
  * aggregate) — the standard distributed PR shape; no driver-side state,
  * no windows, no collect. Determinism design: ranks are FIXED-POINT
  * BIGINTs (scaled by 1e12). All per-row arithmetic on doubles is
  * IEEE-identical across engines given identical inputs; the ONLY
  * cross-engine nondeterminism in a distributed aggregate is floating
  * SUM ORDER — so the sums here run over integers (order-independent,
  * exact) and every intermediate is floored back to BIGINT. The same
  * unrolled iterations replayed in any SQL engine produce bit-identical
  * ranks, which is what puts PageRank on a hash-compare oracle gate.
  */
object Graph {

  /** Fixed-point PageRank over an UNDIRECTED edge list (id_a, id_b), one
    * row per edge (either orientation, no duplicates). Returns
    * (id, pr_scaled: long) where pr_scaled ≈ rank · 1e12, after `iters`
    * synchronous iterations with damping d = `dampingPct`/100:
    *
    *   pr₀ = ⌊1e12 / N⌋
    *   prᵢ₊₁(v) = ⌊(1−d)·1e12/N⌋ + ⌊d · Σ_{u∈N(v)} (prᵢ(u) DIV deg(u))⌋
    *
    * The contribution sum is a BIGINT sum of integer divisions — exact
    * and order-independent; the damping multiply is one double op on an
    * integer < 2⁵³ (deterministic). Fixed iteration count (not
    * convergence-tested) keeps the plan static and the oracle replayable
    * as unrolled CTEs. Only `dir` and `deg` persist (each is read by
    * every iteration); the per-iteration rank frame is consumed exactly
    * once (the next contribution join), so persisting it would be pure
    * cache-write overhead.
    *
    * 100 TB posture: per iteration one hash join (edges ⋈ ranks on the
    * source id) and one partial+final aggregate on the destination id —
    * shuffle volume O(|E|) rows of two longs; AQE handles hub skew by
    * splitting the hot reduce side. Degree-0 nodes cannot appear (every
    * node comes from an edge endpoint).
    */
  def pageRankFixedPoint(edges: DataFrame, // columns: id_a, id_b
      iters: Int, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct > 0 && dampingPct < 100)
    val d = dampingPct.toDouble / 100.0
    // NOT 1.0 - d: 1.0 - nearest(0.85) = 0.15000000000000002, one ulp off
    // the nearest(0.15) an oracle's literal `0.15` parses to — enough to
    // flip a floor(). 15/100.0 IS nearest(0.15), matching any engine's
    // parsed literal.
    val oneMinusD = (100 - dampingPct).toDouble / 100.0
    // both directions: contribution flows along every incidence
    val dir = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persistScoped()
    val deg = dir.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .persistScoped()
    val n = deg.agg(count(lit(1)).as("n_nodes")) // 1 row, broadcast
    val scale = 1000000000000L // 1e12 fixed-point scale
    var pr = deg.crossJoin(broadcast(n))
      .select(col("id"), col("deg"),
        floor(lit(scale.toDouble) / col("n_nodes")).cast("long").as("pr"))
    for (_ <- 1 to iters) {
      val prev = pr
      val contrib = dir
        .join(prev, dir("src") === prev("id"))
        .groupBy(col("dst"))
        .agg(sum(expr("pr DIV deg")).as("c")) // exact BIGINT sum
      pr = deg.crossJoin(broadcast(n))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"), col("deg"),
          (floor(lit(oneMinusD) * lit(scale.toDouble) / col("n_nodes")).cast("long")
            + floor(lit(d) * coalesce(col("c"), lit(0L)).cast("double")).cast("long"))
            .as("pr"))
    }
    pr.select(col("id"), col("pr").as("pr_scaled"))
  }

  /** Bounded k-core peeling over an UNDIRECTED edge list (id_a, id_b):
    * `rounds` synchronous rounds of "drop every node with degree < k,
    * then drop edges touching dropped nodes". Returns the surviving
    * (id, deg) after the last round (deg = degree within the surviving
    * subgraph of the previous round).
    *
    * A FIXED round count, not peel-to-fixpoint: each round is one
    * degree aggregate + one broadcast-or-shuffle semi-join per side, so
    * the plan stays static and an oracle replays it as unrolled CTEs.
    * The first rounds do the heavy lifting (they remove the long
    * low-degree tail that dominates near-dup graphs); callers needing
    * the exact fixpoint loop this operator with a convergence check —
    * the same localCheckpoint pattern as Dedup.connectedComponents.
    * Dense cores this filter EXTRACTS are exactly the boilerplate /
    * template clusters worth special-casing before pairwise dedup.
    *
    * 100 TB posture: per round O(|E|) shuffle rows of two longs; the
    * edge set only shrinks. No windows, no driver state.
    */
  def kCoreBounded(edges: DataFrame, // columns: id_a, id_b
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = edges.select(col("id_a").as("a"), col("id_b").as("b"))
      .persistScoped()
    var deg: DataFrame = null
    for (_ <- 1 to rounds) {
      deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .persistScoped()
      e = e.join(deg.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(deg.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .persistScoped()
    }
    deg.select(col("v").as("id"), col("deg"))
  }

  /** EXACT k-core: peel to the fixpoint — the maximal subgraph in which
    * every vertex has degree ≥ k. [[kCoreBounded]]'s peeling round looped
    * with a convergence check (the `Dedup.connectedComponents`
    * localCheckpoint pattern): each round's edge set is
    * localCheckpoint'ed, truncating lineage so the plan stays
    * round-sized, and ONE scalar count per round tests convergence (the
    * edge set only shrinks, so an unchanged count IS the fixpoint — no
    * frame diff needed). Same per-round cost as the bounded form;
    * `maxRounds` is a runaway bound for adversarial chains (a path graph
    * peels ~|V|/2 rounds — real near-dup graphs converge in a handful).
    *
    * 100 TB posture: identical to [[kCoreBounded]] per round; the
    * convergence count is one partial+final count on a shrinking edge
    * set. Returns (id, deg) of the exact core (deg = degree WITHIN the
    * core).
    */
  def kCoreExact(edges: DataFrame, k: Int, maxRounds: Int = 200): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    var e = edges.select(col("id_a").as("a"), col("id_b").as("b"))
      .localCheckpoint()
    var nE = e.count()
    var converged = nE == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .persistScoped()
      e = e.join(deg.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(deg.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        // lazy: the convergence count right below materializes it (one
        // job per round instead of two); lineage truncation is identical
        .localCheckpoint(eager = false)
      val n2 = e.count()
      converged = n2 == nE
      nE = n2
    }
    // recompute degrees on the FINAL edge set: at the fixpoint every
    // vertex already has deg >= k, so the filter keeps the whole core
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .select(col("v").as("id"), col("deg"))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 as used in
    * curation pipelines: spread a small labeled seed set over a kNN
    * similarity graph to annotate the whole corpus). `iters` SYNCHRONOUS
    * rounds over an UNDIRECTED edge list (id_a, id_b); `nodes` carries
    * every vertex with a nullable integer `seed_label`.
    *
    * Update rule (deterministic by construction):
    *   - a seed node is CLAMPED to its seed label forever;
    *   - a non-seed node takes the PLURALITY label among its currently
    *     labeled neighbors — ties broken by the SMALLEST label (exact
    *     integer counts, no float voting);
    *   - a node with no labeled neighbor stays null this round.
    * The labeled set is monotone non-decreasing (a labeled node always
    * retains a labeled neighbor by induction), so no keep-previous rule
    * is needed — each round is a pure function of the previous labeling,
    * which is what makes the oracle an unrolled-CTE replay.
    *
    * 100 TB posture: per round ONE hash join (edges ⋈ labels on the
    * source id) and two integer aggregates — the per-(node, label) count
    * partial-aggregates map-side, and the plurality pick is the
    * single-pass struct-max (max count, then smallest label), NOT a
    * window — so shuffle volume is O(|E|) rows of three longs and AQE
    * splits hub skew. Fixed iteration count keeps the plan static; only
    * the edge frame persists (read every round).
    */
  def labelPropagation(edges: DataFrame, // columns: id_a, id_b
      nodes: DataFrame, // columns: id, seed_label (nullable long)
      iters: Int): DataFrame = {
    require(iters >= 1)
    val dir = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persistScoped()
    val base = nodes.select(col("id").cast("long").as("id"),
      col("seed_label").cast("long").as("seed_label"))
    var lab = base.select(col("id"), col("seed_label").as("label"))
    for (_ <- 1 to iters) {
      val pick = voteRound(dir, lab)
      lab = base.join(pick, base("id") === col("dst"), "left")
        .select(base("id"), coalesce(col("seed_label"), col("plab")).as("label"))
    }
    lab.join(base, Seq("id"))
      .select(col("id"), col("label"), col("seed_label").isNotNull.as("is_seed"))
  }

  /** ONE synchronous LP voting round, shared verbatim by all three
    * propagation variants (bounded / exact / frozen — they differ only in
    * how the vote is APPLIED): per currently-labeled source, hash-join the
    * directed edges, count votes per (dst, label) with map-side partial
    * aggregation, and pick the plurality via the single-pass struct-max
    * (max count, ties to the SMALLEST label through the negation) — never
    * a window. Returns (dst, plab).
    */
  private def voteRound(dir: DataFrame, lab: DataFrame): DataFrame = {
    val labeled = lab.filter(col("label").isNotNull)
    dir.join(labeled, dir("src") === labeled("id"))
      .groupBy(col("dst"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("dst"), (-col("m.nl")).as("plab"))
  }

  /** Handle to the RDD a `localCheckpoint` materialized, so iteration
    * loops can unpersist the SUPERSEDED round's checkpoint instead of
    * leaving eviction to GC/ContextCleaner — a 200-round run would
    * otherwise accumulate every intermediate labeling in executor
    * storage. The checkpointed Dataset's plan is a `LogicalRDD` leaf
    * wrapping exactly that RDD.
    */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** EXACT label propagation: [[labelPropagation]]'s synchronous round
    * looped to the fixpoint (the [[kCoreExact]] treatment). A fixed
    * round count silently under-propagates long chains — a path graph
    * with one seeded end needs |V|−1 rounds — so this loops until a
    * round changes NOTHING, tested by ONE scalar count per round: the
    * null-safe (`<=>`) label diff between consecutive labelings, an
    * (id, label) self-join of two long columns. Each round's labeling is
    * localCheckpoint'ed, truncating lineage so the plan stays
    * round-sized. At the fixpoint applying the round reproduces the
    * labeling verbatim. Synchronous plurality RE-voting oscillates in
    * general — not just on adversarial bipartite fixtures: measured on
    * the harness's own LSH-kNN graph (sf0.01, 25% seeds), 28 of 500
    * labels were STILL flipping at round 14 with no downward trend —
    * so `maxRounds` is a real bound, not a formality, and the final
    * labeling is returned as-is. For a GUARANTEED fixpoint use
    * [[labelPropagationFrozen]], the monotone variant production
    * pipelines run.
    *
    * 100 TB posture: per round the same ONE edge-join + two integer
    * aggregates as the bounded form, plus one (id,label)⋈(id,label)
    * equi-join reduced to a single count — all longs, partial-agg'd
    * map-side; the edge frame persists once and is read every round.
    */
  def labelPropagationExact(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 1)
    val dir = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persistScoped()
    val base = nodes.select(col("id").cast("long").as("id"),
      col("seed_label").cast("long").as("seed_label"))
      .persistScoped()
    var lab = base.select(col("id"), col("seed_label").as("label"))
      .localCheckpoint()
    var labRdd = checkpointRdd(lab)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val pick = voteRound(dir, lab)
      val next = base.join(pick, base("id") === col("dst"), "left")
        .select(base("id"), coalesce(col("seed_label"), col("plab")).as("label"))
        // lazy: the diff count below materializes it in the same job
        .localCheckpoint(eager = false)
      val changed = next.as("nx")
        .join(lab.as("ol"), col("nx.id") === col("ol.id"))
        .filter(!(col("nx.label") <=> col("ol.label")))
        .count()
      converged = changed == 0L
      // the diff count was the old labeling's last read — drop its
      // checkpoint now rather than waiting on GC
      labRdd.foreach(_.unpersist(false))
      labRdd = checkpointRdd(next)
      lab = next
    }
    lab.join(base, Seq("id"))
      .select(col("id"), col("label"), col("seed_label").isNotNull.as("is_seed"))
  }

  /** FROZEN-label propagation to the fixpoint — the monotone LP variant
    * (layered seed expansion): a node takes the plurality label of its
    * labeled neighbors the round it FIRST becomes labeled (exact integer
    * counts, ties to the SMALLEST label) and then never changes — unlike
    * [[labelPropagation]]'s re-voting, where an already-labeled node
    * re-votes every round. Freezing makes the labeled set AND every
    * label monotone, so the loop provably converges in ≤ the seed-set
    * eccentricity rounds (the measured harness kNN graph: 2–3), and the
    * fixpoint is exactly "no node gained a label this round" — ONE
    * scalar non-null count per round (monotone, so an unchanged count IS
    * convergence; no frame diff needed), the [[kCoreExact]] treatment.
    * This is the form that can sit on a hash-compare oracle gate: a
    * converged round is idempotent, so an over-unrolled CTE replay
    * reproduces the fixpoint verbatim — synchronous RE-voting cannot
    * (measured: it never converges on the same graph; see
    * [[labelPropagationExact]]).
    *
    * 100 TB posture: identical per-round cost to [[labelPropagation]] —
    * ONE edge hash-join + two integer aggregates — plus one count on the
    * labeling frame; edges persist once; labelings localCheckpoint.
    */
  def labelPropagationFrozen(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 200): DataFrame =
    labelPropagationFrozenRounds(edges, nodes, maxRounds)._1

  /** [[labelPropagationFrozen]] plus the MEASURED round count at which the
    * loop converged (the round whose vote added no label). Callers that
    * gate against a fixed-unroll replay (an oracle CTE unrolled N rounds)
    * use the count to assert N covers the data's actual eccentricity —
    * failing VISIBLY with a message instead of a hash mismatch when a
    * scale/seed-density change pushes convergence past the unroll.
    */
  def labelPropagationFrozenRounds(edges: DataFrame, nodes: DataFrame,
      maxRounds: Int = 200): (DataFrame, Int) = {
    require(maxRounds >= 1)
    val dir = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persistScoped()
    val base = nodes.select(col("id").cast("long").as("id"),
      col("seed_label").cast("long").as("seed_label"))
      .persistScoped()
    var lab = base.select(col("id"), col("seed_label").as("label"))
      .localCheckpoint()
    var labRdd = checkpointRdd(lab)
    var nLabeled = lab.filter(col("label").isNotNull).count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val pick = voteRound(dir, lab)
      val next = lab.join(pick, lab("id") === col("dst"), "left")
        .select(lab("id"), coalesce(lab("label"), col("plab")).as("label"))
        // lazy: the labeled count below materializes it in the same job
        .localCheckpoint(eager = false)
      val n2 = next.filter(col("label").isNotNull).count()
      converged = n2 == nLabeled
      nLabeled = n2
      // next is materialized and counted — the superseded labeling's
      // checkpoint has no further reader; unpersist it eagerly
      labRdd.foreach(_.unpersist(false))
      labRdd = checkpointRdd(next)
      lab = next
    }
    (lab.join(base, Seq("id"))
      .select(col("id"), col("label"), col("seed_label").isNotNull.as("is_seed")),
      round)
  }

  /** kNN classification against a FROZEN labeling — [[labelPropagation]]'s
    * serving form: an incoming vector takes the plurality label of its
    * top-k labeled neighbors from a stored
    * [[Similarity.writeIvfIndexVersioned]] index, with EXACTLY the offline
    * operator's vote semantics (exact integer counts, ties to the
    * SMALLEST label via the negated struct-max, never a window). The
    * labeling is a parquet artifact (id, label) — typically
    * [[labelPropagation]]/[[labelPropagationExact]]'s output written
    * once; labels never update online (drift is a relabel-and-swap, the
    * stored-model discipline of the LM/classifier twins).
    *
    * 100 TB posture: the probe is the index's cell-pruned scan (cost ∝
    * batch · probed cells); the label join is ONE hash join of the
    * bounded top-k frame (≤ |Q|·k rows) against the labeling store; the
    * plurality is the single-pass struct-max. Unlabeled neighbors drop
    * out of the vote (left-semi through the non-null filter) — a query
    * whose every neighbor is unlabeled yields no row, the fail-visible
    * contract (serving layers treat absence as "abstain").
    *
    * @return (q_id, label, votes) one row per query with ≥1 labeled
    *         neighbor
    */
  def knnClassifyAgainstIndex(queries: DataFrame, indexDir: String,
      labelsDir: String, nProbe: Int, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val labels = spark.read.parquet(labelsDir)
      .filter(col("label").isNotNull)
      .select(col("id").as("vec_id"), col("label").cast("long").as("label"))
    Similarity.ivfTopKAgainstIndex(queries, indexDir, nProbe, k)
      .select(col("q_id"), col("vec_id"))
      .join(labels, Seq("vec_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("q_id"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("q_id"), (-col("m.nl")).as("label"), col("m.c").as("votes"))
  }
}
