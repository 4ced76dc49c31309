package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedPersist

import graft.{RunCache, Tables}
import graft.operators.{Dedup, Graph, Html, Multimodal, Retrieval, Similarity, TextOps, Unigram, Warc}

/** Training-data pipeline queries (SURVEY.md §7.2 step 6): dedup, similarity
  * search, text analysis, multimodal plumbing, sessionization.
  *
  * Each op ships with a DuckDB oracle that runs the *identical algorithm*
  * (same md5-derived hash families, same LSH bucketing constants, same
  * rounding), so even the approximate ops get a full hash-match check rather
  * than a rows-only one. The oracle SQL is generated here from the same
  * Scala constants the Spark expressions use — one source of truth.
  */
object Pipeline {

  type Q = (SparkSession, String) => DataFrame

  private def wrap(f: Tables => DataFrame): Q = (s, dir) => f(Tables(s, dir))

  // ===== derived-artifact cache ===========================================
  // Stored indexes and trained models (q83/q145/q154, the tokenizer and
  // LM families, …) are built once per fixture and JVM through
  // [[graft.RunCache.dir]], keyed by (fixture dir, tag), and probed on every
  // later call. The cache lives as long as the JVM: concurrent callers of
  // one tag share one build, a build that throws is retried by the next
  // call, and nothing is reused across processes, so a tag names WHAT is
  // built (family + parameters) and never carries a format version.

  // ===== shared SQL fragments (must mirror the Scala operators exactly) ====

  /** DuckDB mirror of TextOps.shingles over a `words` list column. */
  private def shinglesSql(n: Int): String =
    s"list_distinct(list_transform(generate_series(1, greatest(len(words)-${n - 1}, 0)), " +
      s"i -> array_to_string(words[i:i+${n - 1}], ' ')))"

  private val wordsCte =
    """w AS (SELECT doc_id AS id, regexp_split_to_array(lower(text), '\s+') AS words FROM documents)"""

  // Declared BEFORE every oracle string that interpolates it: object vals
  // initialize in declaration order, so a later-declared Int would read as
  // 0 inside an earlier s-string (the q171 bug this comment commemorates).
  private val PassLen = 8

  /** DuckDB mirror of Similarity.cosine over DOUBLE[] exprs (sequential
    * left-to-right sums = Spark's `aggregate` fold).
    */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_transform(generate_series(1, len($x)), i -> $x[i]*$y[i]), (p,q) -> p+q)"
    def norm(x: String) = s"sqrt(list_reduce(list_transform($x, e -> e*e), (p,q) -> p+q))"
    s"(${dot(a, b)} / (${norm(a)} * ${norm(b)}))"
  }

  private val Dim = 64

  private def planeListSql(j: Int, planes: Int): String =
    (0 until Dim).map(d => Similarity.planeComponent(j, d, Dim).toString)
      .mkString("[", ", ", "]")

  /** DuckDB mirror of Similarity.lshBucket as a CTE pair (planes VALUES +
    * grouped sign-bit sum over `e(vec_id, v)`).
    */
  private def bucketCtesSql(planes: Int): String = {
    val values = (0 until planes).map(j => s"($j, ${planeListSql(j, planes)})").mkString(", ")
    s"""planes AS (SELECT * FROM (VALUES $values) AS t(j, w)),
       |b AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    CAST(sum(CASE WHEN list_reduce(list_transform(generate_series(1, $Dim), i -> v[i]*w[i]), (p,q) -> p+q) >= 0
       |             THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN planes GROUP BY vec_id, v)""".stripMargin
  }

  // ===== q26 exact dedup =================================================

  private def q26(t: Tables): DataFrame =
    Dedup.exactGroups(t.documents, col("text"), col("doc_id"))

  private val q26Sql =
    """SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, min(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text)""".stripMargin

  // ===== q27 token counting ==============================================

  private def q27(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      TextOps.wsTokenCount(col("text")).cast("long").as("n_ws_tokens"),
      TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))

  private val q27Sql =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '${TextOps.bpeTokenPattern}')) AS BIGINT) AS n_bpe_tokens
       |FROM documents""".stripMargin

  // ===== q28 quality scoring =============================================

  private def q28(t: Tables): DataFrame =
    TextOps.qualityFeatures(t.documents, col("text"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("alpha_ratio"), col("punct_ratio"), col("stopword_ratio"), col("avg_token_len"))

  private val q28Sql = {
    val enStop = TextOps.stopwords.head._2
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha_ratio,
       |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio,
       |  round(CAST(len(regexp_extract_all(lower(text), '$enStop')) AS DOUBLE) / len(regexp_extract_all(text, '\\S+')), 4) AS stopword_ratio,
       |  round(CAST(length(text) - (len(regexp_extract_all(text, '\\S+')) - 1) AS DOUBLE) / len(regexp_extract_all(text, '\\S+')), 4) AS avg_token_len
       |FROM documents""".stripMargin
  }

  // ===== q29 language id =================================================

  private def q29(t: Tables): DataFrame =
    t.documents
      .withColumn("pred_lang", TextOps.langId(col("text")))
      .select(col("doc_id"), col("pred_lang"), (col("pred_lang") === col("lang")).as("is_match"))

  private val q29Sql = {
    val scores = ("zh" -> s"3*len(regexp_extract_all(text, '${TextOps.cjkPattern}'))") +:
      TextOps.stopwords.map { case (l, p) => l -> s"len(regexp_extract_all(lower(text), '$p'))" }
    val best = "greatest(" + scores.map(_._1).map(l => s"s_$l").mkString(", ") + ")"
    val cases = scores.map(_._1)
      .map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH s AS (SELECT doc_id, lang, ${scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")} FROM documents),
       |m AS (SELECT doc_id, lang, $best AS best, ${scores.map(_._1).map(l => s"s_$l").mkString(", ")} FROM s)
       |SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang,
       |  (CASE $cases ELSE 'und' END = lang) AS is_match
       |FROM m""".stripMargin
  }

  // ===== q30 fingerprint (rolling hash) ==================================

  private def q30(t: Tables): DataFrame =
    t.documents.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))

  private val q30Sql =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(regexp_extract_all(text, '.'), c -> CAST(ascii(c) AS BIGINT))),
      |    (h, c) -> (h*31 + c) % 1000000007) AS fp
      |FROM documents""".stripMargin

  // ===== q31 MinHash+LSH dedup ===========================================

  private val MinHashes = 64
  private val Bands = 16
  private val JaccardT = 0.7

  /** The MinHashes signature expressions over a hashed-shingle list `xs`,
    * as one DuckDB list (Dedup's hash family, verbatim).
    */
  private def minhashSigSql: String =
    (0 until MinHashes).map { i =>
      s"list_min(list_transform(xs, x -> (${Dedup.hashA(i)}*x + ${Dedup.hashB(i)}) % ${Dedup.P}))"
    }.mkString("[", ", ", "]")

  /** MinHash-LSH oracle CTEs over `w(id, words)`: `d` (3-shingles), `h`
    * (hashed shingles), `sig` (signatures) and `bands` (band keys).
    */
  private def lshBandCtesSql: String = {
    val rows = MinHashes / Bands
    s"""d AS (SELECT id, ${shinglesSql(3)} AS ss FROM w),
       |h AS MATERIALIZED (SELECT id, ss, len(ss) AS n_sh,
       |  list_transform(ss, s -> ${Dedup.SharedHash.hash28Sql("s")}) AS xs FROM d WHERE len(ss) > 0),
       |sig AS MATERIALIZED (SELECT id, ss, n_sh, $minhashSigSql AS sig FROM h),
       |bands AS (SELECT id, t.b AS band,
       |            array_to_string(list_transform(list_slice(sig, t.b*$rows+1, t.b*$rows+$rows), z -> CAST(z AS VARCHAR)), '_') AS key
       |          FROM sig CROSS JOIN generate_series(0, ${Bands - 1}) AS t(b))""".stripMargin
  }

  /** [[lshBandCtesSql]] plus `cand`: the band-colliding pairs, id_a < id_b. */
  private def lshCandCtesSql: String =
    s"""$lshBandCtesSql,
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.id < y.id)""".stripMargin

  /** [[lshCandCtesSql]] plus `v`: each candidate pair's shingle overlap `c`
    * and shingle counts `na`, `nb`.
    */
  private def lshPairCtesSql: String =
    s"""$lshCandCtesSql,
       |v AS (SELECT c.id_a, c.id_b, len(list_intersect(a.ss, b.ss)) AS c,
       |        a.n_sh AS na, b.n_sh AS nb
       |      FROM cand c JOIN sig a ON c.id_a = a.id JOIN sig b ON c.id_b = b.id)""".stripMargin

  private def shingledDocs(t: Tables): DataFrame =
    TextOps.withShingles(
      graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text"))),
      col("text"), 3, "shingles").select(col("id"), col("shingles"))

  private def q31(t: Tables): DataFrame =
    Dedup.minhashLshPairs(
      graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text"))),
      3, MinHashes, Bands, JaccardT)

  private val q31Sql =
    s"""WITH $wordsCte,
       |$lshPairCtesSql
       |SELECT id_a, id_b, round(CAST(c AS DOUBLE)/(na+nb-c), 4) AS jaccard
       |FROM v WHERE round(CAST(c AS DOUBLE)/(na+nb-c), 4) >= $JaccardT""".stripMargin

  // ===== q61 end-to-end corpus dedup =====================================
  // The full pipeline a training-data run executes: exact dedup (keep min
  // id per identical text) → MinHash-LSH near-dup pairs over the exact
  // survivors → drop every doc similar (J ≥ 0.8) to a lower-id doc. The
  // oracle replays the identical two stages.

  private val CorpusT = 0.8

  private def q61(t: Tables): DataFrame =
    Dedup.dedupCorpus(
      graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text"))),
      3, MinHashes, Bands, CorpusT)
      .select(col("id"))

  private val q61Sql =
    s"""WITH ex AS MATERIALIZED (SELECT min(doc_id) AS id, text FROM documents GROUP BY text),
       |w AS (SELECT id, regexp_split_to_array(lower(text), '\\s+') AS words FROM ex),
       |$lshPairCtesSql,
       |drops AS (SELECT DISTINCT id_b FROM v
       |          WHERE round(CAST(c AS DOUBLE)/(na+nb-c), 4) >= $CorpusT)
       |SELECT id FROM ex WHERE id NOT IN (SELECT id_b FROM drops)""".stripMargin

  // ===== q62 near-dup cluster assignment =================================
  // Transitive closure over the near-dup relation: every doc gets the MIN
  // doc id of its connected component in the (MinHash-LSH, J ≥ 0.8) pair
  // graph — the clustering a real pipeline needs when A≈B≈C must yield
  // one survivor even though A≉C directly. Spark: iterative distributed
  // min-label propagation; oracle: recursive-CTE transitive closure.

  private def q62(t: Tables): DataFrame = {
    val docs = graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text")))
    val pairs = Dedup.minhashLshPairs(docs, 3, MinHashes, Bands, CorpusT)
    val labels = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "lid")
    t.documents.select(col("doc_id").as("id"))
      .join(labels, col("id") === col("lid"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  private val q62Sql =
    s"""WITH RECURSIVE $wordsCte,
       |$lshCandCtesSql,
       |v AS (SELECT c.id_a, c.id_b FROM cand c
       |      JOIN sig a ON c.id_a = a.id JOIN sig b ON c.id_b = b.id
       |      WHERE round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
       |                  /(a.n_sh + b.n_sh - len(list_intersect(a.ss, b.ss))), 4) >= $CorpusT),
       |und AS (SELECT id_a AS a, id_b AS b FROM v UNION SELECT id_b, id_a FROM v),
       |reach(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
       |SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
       |FROM documents LEFT JOIN comp c ON doc_id = c.id""".stripMargin

  // ===== q135 cluster representative selection ===========================
  // The step AFTER clustering: every near-dup cluster (q62's connected
  // components) keeps ONE canonical document — here the longest member
  // (max n_chars, ties to the lowest id; swap in any quality score).
  // Selection is the q85 argmax shape: a single-pass struct-max per
  // cluster — O(1) combiner state, no window, no self-join — so a
  // boilerplate cluster with 10⁹ members costs its combiner one struct.
  // The oracle extends q62's recursive-CTE clustering with a rank-window
  // selection (naive is fine for an oracle).
  private def q135(t: Tables): DataFrame =
    q62(t)
      .join(t.documents.select(col("doc_id").as("id"), col("n_chars")), "id")
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("id")).as("nid"), col("id").as("id")))
          .as("m"))
      .select(col("comp"), col("n_members"),
        col("m.id").as("rep_id"), col("m.n_chars").as("rep_chars"))

  private val q135Sql = {
    // the final SELECT of q62's oracle, replaced wholesale below; if q62Sql
    // is ever reworded, replace() would silently no-op and this oracle
    // would degenerate to q62's output — fail loudly at class init instead
    val anchor =
      """SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
        |FROM documents LEFT JOIN comp c ON doc_id = c.id""".stripMargin
    require(q62Sql.contains(anchor), "q135 oracle anchor missing from q62Sql")
    q62Sql.replace(anchor,
    """,cl AS (SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
      |       FROM documents LEFT JOIN comp c ON doc_id = c.id),
      |mm AS (SELECT cl.comp, cl.id, d.n_chars,
      |         row_number() OVER (PARTITION BY cl.comp
      |                            ORDER BY d.n_chars DESC, cl.id) AS rn
      |       FROM cl JOIN documents d ON cl.id = d.doc_id)
      |SELECT comp, count(*) AS n_members,
      |  max(CASE WHEN rn = 1 THEN id END) AS rep_id,
      |  max(CASE WHEN rn = 1 THEN n_chars END) AS rep_chars
      |FROM mm GROUP BY comp""".stripMargin)
  }

  // ===== q162 golden-record survivorship =================================
  // Entity-resolution survivorship over the near-dup clusters: q135 picks
  // ONE representative document; real ER constructs a COMPOSITE golden
  // record with a rule per field — here longest-text doc id (tie: lowest
  // id), modal language (tie: lexicographically smallest), and
  // lexicographically-first source. Every rule is a single-pass struct
  // min/max aggregate (no window over the cluster — a 10^6-member
  // mass-dup cluster costs O(1) combiner state per rule); the modal
  // language needs one extra (cluster, lang) count aggregate first. The
  // oracle reuses q62's cluster derivation via the q135 anchor-replace
  // discipline (fails loudly at init if q62Sql is reworded).
  private def q162(t: Tables): DataFrame = {
    val cl = q62(t)
      .join(t.documents.select(col("doc_id").as("id"), col("n_chars"),
        col("lang"), col("source")), "id")
      .persistScoped() // feeds the field rules AND the modal-lang counts
    val fields = cl.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("id")).as("nid"), col("id").as("id")))
          .as("mt"),
        min(col("source")).as("first_source"))
      .select(col("comp"), col("n_members"),
        col("mt.id").as("longest_text_id"), col("first_source"))
    val modal = cl.groupBy(col("comp"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("comp"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lang").as("lang"))).as("m"))
      .select(col("comp"), col("m.lang").as("modal_lang"))
    fields.join(modal, "comp")
  }

  private val q162Sql = {
    val anchor =
      """SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
        |FROM documents LEFT JOIN comp c ON doc_id = c.id""".stripMargin
    require(q62Sql.contains(anchor), "q162 oracle anchor missing from q62Sql")
    q62Sql.replace(anchor,
    """,cl AS (SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
      |       FROM documents LEFT JOIN comp c ON doc_id = c.id),
      |j AS (SELECT cl.comp, cl.id, d.n_chars, d.lang, d.source
      |      FROM cl JOIN documents d ON cl.id = d.doc_id),
      |mm AS (SELECT comp, id,
      |         row_number() OVER (PARTITION BY comp
      |                            ORDER BY n_chars DESC, id) AS rn
      |       FROM j),
      |f AS (SELECT j.comp, count(*) AS n_members,
      |        min(j.source) AS first_source
      |      FROM j GROUP BY j.comp),
      |lt AS (SELECT comp, max(CASE WHEN rn = 1 THEN id END) AS longest_text_id
      |       FROM mm GROUP BY comp),
      |lc AS (SELECT comp, lang, count(*) AS cnt FROM j GROUP BY comp, lang),
      |ml AS (SELECT comp, lang AS modal_lang FROM (
      |         SELECT comp, lang,
      |           row_number() OVER (PARTITION BY comp
      |                              ORDER BY cnt DESC, lang) AS rn
      |         FROM lc) WHERE rn = 1)
      |SELECT f.comp, f.n_members, lt.longest_text_id, f.first_source,
      |       ml.modal_lang
      |FROM f JOIN lt ON f.comp = lt.comp JOIN ml ON f.comp = ml.comp""".stripMargin)
  }

  // ===== q138 token-weighted length quantiles ============================
  // "The p50 document BY TOKEN MASS": length percentiles weighted by each
  // doc's token count — the number that matters for packing/batching
  // decisions (token budgets are spent per token, not per document; the
  // row-count p50 understates long docs exactly when it matters). Same
  // distributed prefix-sum scan as q115 with sum(weight) in place of
  // count(*) — no global sort, no value buffering, at any corpus size.
  private val WqPs = Seq(0.25, 0.5, 0.75, 0.9)

  private def q138(t: Tables): DataFrame =
    graft.operators.Profiling.weightedQuantiles(
      t.documents.select(col("n_chars"),
        TextOps.wsTokenCount(col("text")).cast("long").as("n_tok")),
      col("n_chars"), col("n_tok"), WqPs)

  private val q138Sql =
    s"""WITH c AS (SELECT CAST(n_chars AS DOUBLE) AS v,
       |    CAST(sum(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS BIGINT) AS c
       |  FROM documents GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
       |cum AS (SELECT v, c,
       |          CAST(coalesce(sum(c) OVER (ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |        FROM c),
       |p AS (SELECT CAST(unnest([${WqPs.mkString(", ")}]) AS DOUBLE) AS prob)
       |SELECT p.prob, v AS value
       |FROM cum, n, p
       |WHERE cb < greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT))
       |  AND greatest(1, CAST(ceil(p.prob * n.n - 1e-6) AS BIGINT)) <= cb + c""".stripMargin

  // ===== q144 per-source token-weighted length quantiles =================
  // The q117 × q138 composition mixture packing actually reads: each
  // source's token budget is spent per token, so its packing percentiles
  // must be token-weighted PER SOURCE — sources differ enough (web vs
  // code vs academic length distributions) that the global q138 number
  // misleads every one of them. Same per-group prefix-sum window as q117
  // with sum(weight) in place of count(*): O(1) window state per group,
  // groups in parallel, no buffered value arrays, no global sort.
  private def q144(t: Tables): DataFrame =
    graft.operators.Profiling.groupedWeightedQuantiles(
      t.documents.select(col("source"), col("n_chars"),
        TextOps.wsTokenCount(col("text")).cast("long").as("n_tok")),
      col("source"), col("n_chars"), col("n_tok"), WqPs)

  private val q144Sql =
    s"""WITH c AS (SELECT source AS grp, CAST(n_chars AS DOUBLE) AS v,
       |    CAST(sum(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2),
       |cum AS (SELECT grp, v, c,
       |          CAST(coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
       |          CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
       |        FROM c),
       |p AS (SELECT CAST(unnest([${WqPs.mkString(", ")}]) AS DOUBLE) AS prob)
       |SELECT grp AS "group", p.prob, v AS value
       |FROM cum, p
       |WHERE cb < greatest(1, CAST(ceil(p.prob * n - 1e-6) AS BIGINT))
       |  AND greatest(1, CAST(ceil(p.prob * n - 1e-6) AS BIGINT)) <= cb + c""".stripMargin

  // ===== q63 deterministic hash split ====================================
  // Train/val/test assembly: content-stable md5 bucketing (Sampling.
  // hashSplit) — stable under repartitioning/reruns/engines, no global
  // count involved, zero shuffle.

  private val SplitWeights = Seq("train" -> 80, "val" -> 10, "test" -> 10)

  private def q63(t: Tables): DataFrame =
    graft.operators.Sampling.hashSplit(
      t.documents.select(col("doc_id")), col("doc_id"), SplitWeights)

  private val q63Sql =
    s"""SELECT doc_id, ${graft.operators.Sampling.hashSplitSql("doc_id", SplitWeights)} AS split
       |FROM documents""".stripMargin

  // ===== q64 embedding normalization + int8 quantization =================
  // Vector hygiene for similarity pipelines: l2 norm (sequential double
  // fold = the cosine kernel's convention) and symmetric int8 quantization
  // of the leading dims — both pure narrow maps.

  private def q64(t: Tables): DataFrame = {
    val v = col("embedding")
    t.embeddings
      .withColumn("nrm",
        sqrt(aggregate(transform(v, x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x)))
      .select(col("vec_id"), round(col("nrm"), 4).as("l2_norm"),
        // zero-norm guard: a degenerate vector quantizes to null rather
        // than Infinity-overflowing the integer cast (ANSI mode)
        when(col("nrm") === 0, lit(null).cast("string")).otherwise(
          concat_ws(",", transform(slice(v, 1, 8), x =>
            floor(lit(127.0) * x.cast("double") / col("nrm") + lit(0.5))
              .cast("string")))).as("q8"))
  }

  private val q64Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x*x), (p,q) -> p+q)) AS nrm FROM e)
      |SELECT vec_id, round(nrm, 4) AS l2_norm,
      |  CASE WHEN nrm = 0 THEN NULL ELSE
      |    array_to_string(list_transform(v[1:8], x -> CAST(CAST(floor(127*x/nrm + 0.5) AS BIGINT) AS VARCHAR)), ',')
      |  END AS q8
      |FROM n""".stripMargin

  // ===== q65 corpus vocabulary / TF-IDF statistics =======================
  // Global document-frequency table with idf — the corpus-level statistic
  // feeding quality filters and rare-token analyses. One exploded distinct-
  // word aggregation; the doc count arrives as a broadcast scalar, not a
  // driver-side collect.

  private def q65(t: Tables): DataFrame = {
    val n = t.documents.agg(count(lit(1)).as("n_docs"))
    t.documents
      .select(explode(array_distinct(split(lower(col("text")), """\s+"""))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
      .join(broadcast(n), lit(true))
      .select(col("word"), col("df"),
        round(log(col("n_docs").cast("double") / col("df")), 4).as("idf"))
  }

  private val q65Sql =
    """WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |w AS (SELECT unnest(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS word FROM documents),
      |d AS (SELECT word, COUNT(*) AS df FROM w WHERE length(word) > 0 GROUP BY word)
      |SELECT word, df, round(ln(CAST(n_docs AS DOUBLE)/df), 4) AS idf
      |FROM d CROSS JOIN n""".stripMargin

  // ===== q32 SimHash dedup ===============================================

  private val MaxHamming = 3

  private def q32(t: Tables): DataFrame = {
    val docs = Dedup.simhashFingerprints(
      graft.Fanout(t.documents.select(col("doc_id").as("id"),
        split(lower(col("text")), """\s+""").as("tokens"))))
    Dedup.simhashPairs(docs, MaxHamming)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  private val q32Sql = {
    val terms = (0 until Dedup.SimHashBits).map { j =>
      s"CASE WHEN 2*CAST(list_sum(list_transform(hs, h -> (h >> $j) & 1)) AS BIGINT) > len(hs) " +
        s"THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""WITH tk AS (SELECT doc_id AS id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents),
       |h AS MATERIALIZED (SELECT id, list_transform(toks, t -> ${Dedup.SharedHash.hash60Sql("t")}) AS hs FROM tk),
       |f AS MATERIALIZED (SELECT id, ($terms) AS fp FROM h)
       |SELECT x.id AS id_a, y.id AS id_b, CAST(bit_count(xor(x.fp, y.fp)) AS BIGINT) AS hamming
       |FROM f x JOIN f y ON x.id < y.id
       |WHERE bit_count(xor(x.fp, y.fp)) <= $MaxHamming""".stripMargin
  }

  // ===== q33 exact n-gram Jaccard dedup ==================================

  // Benched form = lossless prefix filtering (provably identical rows to
  // the naive inverted-index join the oracle runs — see the scaladoc proof
  // on ngramJaccardPairsPrefix; the correctness gate checks the identity
  // at every sf).
  private def q33(t: Tables): DataFrame =
    Dedup.ngramJaccardPairsPrefix(shingledDocs(t), JaccardT)

  private val q33Sql =
    s"""WITH $wordsCte,
       |d AS (SELECT id, ${shinglesSql(3)} AS ss FROM w),
       |s AS MATERIALIZED (SELECT id, len(ss) AS n_sh, unnest(ss) AS s FROM d WHERE len(ss) > 0),
       |p AS (SELECT x.id AS id_a, y.id AS id_b, x.n_sh AS na, y.n_sh AS nb, count(*) AS c
       |      FROM s x JOIN s y ON x.s = y.s AND x.id < y.id GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, round(CAST(c AS DOUBLE)/(na+nb-c), 4) AS jaccard
       |FROM p WHERE round(CAST(c AS DOUBLE)/(na+nb-c), 4) >= $JaccardT""".stripMargin

  // ===== q113 containment (quote/subset) dedup ===========================
  // Asymmetric near-dup: C(A→B) = |A∩B|/|A| ≥ t finds documents mostly
  // CONTAINED in another (quotes, excerpts, boilerplate-wrapped copies) —
  // pairs Jaccard structurally misses when |B| ≫ |A|. The benched form is
  // the probe-prefix-filtered join (lossless — scaladoc proof on
  // Dedup.containmentPairs); the oracle is the naive inverted-index join
  // with the identical containment formula.

  private val ContainT = 0.6

  private def q113(t: Tables): DataFrame =
    Dedup.containmentPairs(shingledDocs(t), ContainT)

  private val q113Sql =
    s"""WITH $wordsCte,
       |d AS (SELECT id, ${shinglesSql(3)} AS ss FROM w),
       |s AS MATERIALIZED (SELECT id, len(ss) AS n_sh, unnest(ss) AS s FROM d WHERE len(ss) > 0),
       |p AS (SELECT x.id AS id_a, y.id AS id_b, x.n_sh AS na, count(*) AS c
       |      FROM s x JOIN s y ON x.s = y.s AND x.id <> y.id GROUP BY 1, 2, 3)
       |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / na, 4) AS containment
       |FROM p WHERE round(CAST(c AS DOUBLE) / na, 4) >= $ContainT""".stripMargin

  // ===== q34 embedding-cosine near-dup ===================================

  private val CosT = 0.35
  private val NearDupPlanes = 8

  private def q34(t: Tables): DataFrame =
    Similarity.cosineNearDupPairs(graft.Fanout(t.embeddings), Dim, CosT, NearDupPlanes)

  private val q34Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${bucketCtesSql(NearDupPlanes)}
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b, round(${cosSql("x.v", "y.v")}, 4) AS score
       |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |WHERE round(${cosSql("x.v", "y.v")}, 4) >= $CosT""".stripMargin

  // ===== q118 containment decontamination ================================
  // q71's upgrade: an eval item pasted into a long train page keeps
  // containment ≈ 1.0 while its Jaccard (and its share of the page's
  // 4-grams) vanishes — so overlap-threshold decontamination misses
  // exactly the worst contamination. Probe = the stand-in eval suite
  // (doc_id ≡ 0 mod 10), corpus = the rest; output = every (eval, train)
  // pair with C(eval→train) ≥ t. Probe prefixes only join the index
  // (Dedup.containmentAgainst — lossless, proof shared with q113).

  private val DecontT = 0.6

  private def q118(t: Tables): DataFrame = {
    val d = shingledDocs(t)
    Dedup.containmentAgainst(
      d.filter(col("id") % 10 === 0), d.filter(col("id") % 10 =!= 0), DecontT)
  }

  private val q118Sql =
    s"""WITH $wordsCte,
       |d AS (SELECT id, ${shinglesSql(3)} AS ss FROM w),
       |s AS MATERIALIZED (SELECT id, len(ss) AS n_sh, unnest(ss) AS s FROM d WHERE len(ss) > 0),
       |p AS (SELECT x.id AS id_a, y.id AS id_b, x.n_sh AS na, count(*) AS c
       |      FROM s x JOIN s y ON x.s = y.s AND x.id % 10 = 0 AND y.id % 10 <> 0
       |      GROUP BY 1, 2, 3)
       |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / na, 4) AS containment
       |FROM p WHERE round(CAST(c AS DOUBLE) / na, 4) >= $DecontT""".stripMargin

  // ===== q119 per-source language drift (KL divergence) ==================
  // Data-mixture QA: how far each source's language distribution sits
  // from the corpus-wide one — KL(source ‖ corpus) = Σ p·ln(p/q) over the
  // source's observed languages. Three bounded-key aggregates + broadcast
  // joins (|sources|·|langs| rows — never the raw corpus twice).
  // Cross-engine float determinism: terms are single expressions over
  // identical doubles (ln matches the q65 precedent), and the SUM runs as
  // an explicit lang-sorted left fold in both engines — never an
  // order-nondeterministic SUM() over doubles — with one round(4) at the
  // end.

  private def q119(t: Tables): DataFrame = {
    // counts is |sources|·|langs| rows and feeds FOUR consumers (itself +
    // three totals) — persist, or the raw corpus is scanned four times
    val counts = t.documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .persistScoped()
    val srcTot = counts.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val langTot = counts.groupBy(col("lang")).agg(sum(col("c")).as("g"))
    val glob = counts.agg(sum(col("c")).as("n_glob"))
    counts.join(srcTot, "source")
      .join(broadcast(langTot), "lang")
      .crossJoin(broadcast(glob)) // 1 row
      .withColumn("term",
        (col("c") / col("n_src"))
          * log((col("c") / col("n_src")) / (col("g") / col("n_glob"))))
      .groupBy(col("source"))
      .agg(sort_array(collect_list(struct(col("lang"), col("term")))).as("ts"),
        max(col("n_src")).as("n_docs"))
      .select(col("source"), col("n_docs"),
        round(expr("aggregate(ts, 0D, (a, x) -> a + x.term)"), 4).as("kl"))
  }

  private val q119Sql =
    """WITH c AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM c GROUP BY source),
      |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS g FROM c GROUP BY lang),
      |gl AS (SELECT CAST(sum(c) AS BIGINT) AS n_glob FROM c),
      |terms AS (
      |  SELECT c.source, c.lang, st.n_src,
      |    (c.c / st.n_src) * ln((c.c / st.n_src) / (lt.g / gl.n_glob)) AS term
      |  FROM c JOIN st ON c.source = st.source
      |       JOIN lt ON c.lang = lt.lang CROSS JOIN gl)
      |SELECT source, max(n_src) AS n_docs,
      |  round(list_reduce(
      |    list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(list_sort(list({'lang': lang, 'term': term})),
      |        x -> x.term)),
      |    (a, b) -> a + b), 4) AS kl
      |FROM terms GROUP BY source""".stripMargin

  // ===== q141 per-source language information gain =======================
  // The entropy companion to q119's KL drift: each source's language-
  // distribution entropy H(lang | source=s) against the corpus-wide
  // H(lang); ig = H_global − H_source > 0 marks sources more
  // language-concentrated than the corpus (single-language silos worth
  // separate mixture treatment). Same bounded-key aggregates as q119;
  // both entropies fold lang-sorted (the q119 deterministic-sum
  // pattern), ≤ |langs| terms per fold.
  private def q141(t: Tables): DataFrame = {
    val c = t.documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .persistScoped() // feeds the per-source AND the global entropy
    // even the ≤|langs|-term global entropy keeps the sorted-fold
    // discipline — a plain SUM over doubles is partial-sum-order
    // nondeterministic regardless of how few terms it has
    val globSorted = c.groupBy(col("lang")).agg(sum(col("c")).as("g"))
      .crossJoin(broadcast(c.agg(sum(col("c")).as("n"))))
      .agg(sort_array(collect_list(struct(col("lang"),
        (-(col("g").cast("double") / col("n"))
          * log(col("g").cast("double") / col("n"))).as("term")))).as("ts"))
      .select(round(expr("aggregate(ts, 0D, (a, x) -> a + x.term)"), 4)
        .as("h_global"))
    val perSource = c
      .join(c.groupBy(col("source")).agg(sum(col("c")).as("ns")), "source")
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"),
        sort_array(collect_list(struct(col("lang"),
          (-(col("c").cast("double") / col("ns"))
            * log(col("c").cast("double") / col("ns"))).as("term")))).as("ts"))
      .select(col("source"), col("n_docs"),
        round(expr("aggregate(ts, 0D, (a, x) -> a + x.term)"), 4).as("h_lang"))
    perSource.crossJoin(broadcast(globSorted))
      .select(col("source"), col("n_docs"), col("h_lang"),
        round(col("h_global") - col("h_lang"), 4).as("info_gain"))
  }

  private val q141Sql =
    """WITH c AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      |gl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS g FROM c GROUP BY lang),
      |hg AS (SELECT round(list_reduce(
      |    list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(list_sort(list({'lang': lang,
      |        'term': -(CAST(g AS DOUBLE) / n) * ln(CAST(g AS DOUBLE) / n)})),
      |        x -> x.term)),
      |    (a, b) -> a + b), 4) AS h_global
      |  FROM gl, n),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM c GROUP BY source),
      |ps AS (SELECT c.source, max(ns) AS n_docs,
      |    round(list_reduce(
      |      list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(list_sort(list({'lang': lang,
      |          'term': -(CAST(c AS DOUBLE) / ns) * ln(CAST(c AS DOUBLE) / ns)})),
      |          x -> x.term)),
      |      (a, b) -> a + b), 4) AS h_lang
      |  FROM c JOIN st ON c.source = st.source GROUP BY c.source)
      |SELECT source, n_docs, h_lang, round(h_global - h_lang, 4) AS info_gain
      |FROM ps, hg""".stripMargin

  // ===== q142 TF-IDF top-term cosine pairs ===============================
  // Term-level document similarity beside the embedding cosine (q34):
  // docs sharing WORDING, not just meaning — the lexical near-dup signal
  // that survives paraphrase-free plagiarism and template reuse. Terms
  // are word BIGRAMS (unigram tf-idf degenerates on low-entropy vocab:
  // this corpus has ~31 words, so every doc's top unigrams overlap and
  // the pair set goes quadratic — measured 109k pairs; bigrams restore
  // the Zipfian rarity structure the algorithm assumes). Each doc keeps
  // its top-K terms by (tf·idf desc, term) — a deterministic total order
  // both engines replay — which is ALSO the scale guard: common terms
  // carry low idf and never make the top-K, so the Σdf² inverted-index
  // blow-up never materializes. Every float sum (norms, pair dots) folds
  // in sorted order (the q119 discipline); the per-doc collect is
  // bounded by the doc's vocabulary, never the corpus.
  private val TfK = 16
  private val TfCosT = 0.5
  // hard cap on TRUNCATED index df: a term kept by more than this many
  // docs' top-K sets is dropped from the index, bounding candidate pairs
  // by Σ tdf² ≤ cap·K·N — LINEAR in corpus size with a constant factor.
  // Without it a pathological corpus (low-entropy vocab — this synthetic
  // one!) still sends the pair join quadratic despite the top-K
  // truncation. A stated recall cap, not a silent one: pairs relying
  // ONLY on terms this common sit below any meaningful tf-idf cosine
  // (such terms carry the corpus's lowest surviving idf).
  private val TfMaxDf = 128

  private def q142(t: Tables): DataFrame = {
    val tf = graft.Fanout(t.documents)
      .select(col("doc_id").as("id"),
        TextOps.wordsOf(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(1, size(ws) - 1, 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
        .as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .persistScoped() // feeds df counts, doc count and the weights
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = tf.agg(count_distinct(col("id")).as("n_docs")) // 1 row
    val w = tf.join(dfs, "term").crossJoin(broadcast(nd))
      .select(col("id"), col("term"),
        (col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df"))).as("w"))
      .filter(col("w") > 0) // idf of a term in EVERY doc is ln(1) = 0
    val top = w.groupBy(col("id"))
      .agg(slice(sort_array(collect_list(struct(
        (-col("w")).as("nw"), col("term").as("t"), col("w").as("ww")))),
        1, TfK).as("v"))
      .select(col("id"), col("v"),
        sqrt(expr("aggregate(v, 0D, (a, x) -> a + x.ww * x.ww)")).as("nrm"))
    val inv0 = top.select(col("id"), col("nrm"), explode(col("v")).as("e"))
      .select(col("id"), col("nrm"), col("e.t").as("t"), col("e.ww").as("ww"))
      // a term whose CORPUS df is 1 cannot collide in the self-join —
      // lossless pre-filter that drops the hapax tail (most of a bigram
      // vocabulary) before the shuffle
      .join(dfs.filter(col("df") >= 2).select(col("term").as("t")), Seq("t"),
        "left_semi")
      .persistScoped() // feeds the truncated-df counts and the capped index
    // the TfMaxDf candidate bound (see above) on TRUNCATED df
    val keepTerms = inv0.groupBy(col("t")).agg(count(lit(1)).as("tdf"))
      .filter(col("tdf") <= TfMaxDf).select(col("t"))
    val inv = inv0.join(keepTerms, Seq("t"), "left_semi")
      .persistScoped() // both sides of the term self-join
    inv.as("x").join(inv.as("y"),
        col("x.t") === col("y.t") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.nrm").as("na"), col("y.nrm").as("nb"))
      .agg(sort_array(collect_list(struct(col("x.t").as("t"),
        (col("x.ww") * col("y.ww")).as("p")))).as("ts"))
      .select(col("id_a"), col("id_b"),
        round(expr("aggregate(ts, 0D, (a, x) -> a + x.p)")
          / (col("na") * col("nb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= TfCosT)
  }

  private val q142Sql =
    s"""WITH tf AS (SELECT id, term, count(*) AS tf FROM (
       |    SELECT id, unnest(list_transform(range(2, len(ws) + 1),
       |        i -> ws[i - 1] || ' ' || ws[i])) AS term
       |    FROM (SELECT doc_id AS id, list_filter(
       |            regexp_split_to_array(lower(text), '\\s+'),
       |            x -> len(x) > 0) AS ws
       |          FROM documents)
       |    WHERE len(ws) >= 2)
       |  GROUP BY 1, 2),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |nd AS (SELECT count(DISTINCT id) AS n_docs FROM tf),
       |w AS (SELECT id, term,
       |    CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) AS w
       |  FROM tf JOIN dfs USING (term) CROSS JOIN nd
       |  WHERE CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) > 0),
       |top AS (SELECT id,
       |    list_sort(list({'nw': -w, 't': term, 'ww': w}))[1:$TfK] AS v
       |  FROM w GROUP BY id),
       |tn AS (SELECT id, v,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(v, x -> x.ww * x.ww)), (a, b) -> a + b)) AS nrm
       |  FROM top),
       |inv0 AS (SELECT id, nrm, e.t AS t, e.ww AS ww
       |         FROM tn, unnest(v) AS u(e)
       |         WHERE e.t IN (SELECT term FROM dfs WHERE df >= 2)),
       |keep AS (SELECT t FROM (SELECT t, count(*) AS tdf FROM inv0 GROUP BY t)
       |         WHERE tdf <= $TfMaxDf),
       |inv AS (SELECT * FROM inv0 WHERE t IN (SELECT t FROM keep))
       |SELECT id_a, id_b, cos_sim FROM (
       |  SELECT x.id AS id_a, y.id AS id_b,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(list_sort(list({'t': x.t, 'p': x.ww * y.ww})),
       |          e -> e.p)), (a, b) -> a + b)
       |      / (x.nrm * y.nrm), 4) AS cos_sim
       |  FROM inv x JOIN inv y ON x.t = y.t AND x.id < y.id
       |  GROUP BY x.id, y.id, x.nrm, y.nrm)
       |WHERE cos_sim >= $TfCosT""".stripMargin

  // ===== q143 random-projection dimensionality reduction =================
  // JL-style projection of the 64-dim embeddings onto 8 deterministic
  // pseudo-random planes (the same hash-derived plane family as the
  // sign-LSH buckets, kept as REAL-VALUED coordinates instead of sign
  // bits) — the cheap dimensionality reduction run before IVF builds,
  // clustering, or visualization at corpus scale. Pure narrow map, zero
  // shuffle; each output coordinate is a sequential left-fold over the
  // input dims (fixed order → the doubles are IEEE-identical in any
  // engine, same discipline as the cosine oracle folds).
  private val RpDim = 8

  private def q143(t: Tables): DataFrame = {
    val cols = (0 until RpDim).map { j =>
      round(expr(
        s"""aggregate(sequence(0, ${Dim - 1}), 0D, (a, d) ->
           |  a + embedding[CAST(d AS INT)]
           |    * (CAST(((${j.toLong * Dim} + d) * 2654435761L) % 2001 AS DOUBLE) - 1000.0)
           |    / 1000.0)""".stripMargin), 4).as(s"p$j")
    }
    graft.Fanout(t.embeddings).select((col("vec_id") +: cols): _*)
  }

  private val q143Sql = {
    val cols = (0 until RpDim).map { j =>
      s"""round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(0, ${Dim - 1}), d ->
         |      v[d + 1] * (CAST(((${j.toLong * Dim} + d) * 2654435761) % 2001 AS DOUBLE) - 1000.0) / 1000.0)),
         |  (a, b) -> a + b), 4) AS p$j""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $cols
       |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)""".stripMargin
  }

  // ===== q120 source overlap matrix ======================================
  // Corpus provenance QA: for every source pair, how many distinct
  // opening fingerprints (md5 of the first 10 words) they share — the
  // mirror-site / re-crawl detector that tells you which sources to dedup
  // against each other first. Opening fingerprints beat full-text hashes
  // here: re-crawls mutate boilerplate tails but keep document openings
  // (and on this corpus full-text sharing across sources is exactly 0).
  // One distinct aggregate on (source, h) then a hash self-join on the
  // 32-char digest (never the text) with source< ordering; output is the
  // |sources|² upper triangle — bounded however big the corpus is.
  private def q120(t: Tables): DataFrame = {
    val sh = t.documents
      .select(col("source"),
        md5(concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 10))).as("h"))
      .distinct()
      // both sides of the self-join — persist, or scan+distinct runs twice
      .persistScoped()
    sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  private val q120Sql =
    """WITH sh AS (SELECT DISTINCT source,
      |    md5(array_to_string(regexp_split_to_array(lower(text), '\s+')[1:10], ' ')) AS h
      |  FROM documents)
      |SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_shared
      |FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
      |GROUP BY 1, 2""".stripMargin

  // ===== q116 triangle count on the near-dup graph =======================
  // Graph analytics over a pipeline-derived graph: triangles in the
  // embedding near-dup graph (q34's edges) measure cluster cohesion —
  // the transitivity check run before trusting near-dup CLUSTERS (q62)
  // built from pairwise edges. DEGREE-ORDERED orientation (the standard
  // exact-triangle-count refinement): each undirected edge is directed
  // from its lower-(degree, id) endpoint, so every node's OUT-degree is
  // bounded by √(2|E|) — a hub of out-degree d in a dense near-dup
  // cluster can no longer own |cluster| outgoing edges, which with the
  // naive id-orientation made the wedge join's fanout approach
  // |cluster|² on exactly the skewed corpora near-dup graphs model.
  // Each triangle {u,v,w}, ordered u<v<w by (degree, id), is counted
  // exactly once as the wedge u→v, v→w closed by u→w — the same
  // two-hop + closure join as before, different orientation key.
  private def q116(t: Tables): DataFrame = {
    val und = Similarity
      .cosineNearDupPairs(graft.Fanout(t.embeddings), Dim, CosT, NearDupPlanes)
      .select(col("id_a").as("a"), col("id_b").as("b")) // undirected: a < b
      // consumed by the degree aggregate (both endpoints) and the
      // orientation join — without the persist the bucket self-join +
      // cosine verify pipeline executes three times
      .persistScoped()
    // degree of every endpoint over the undirected edge set — one
    // partial+final aggregate on |2E| exploded endpoint rows
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient from the lower-(degree, id) endpoint; und has a < b, so the
    // degree tie breaks to a — two hash joins on the endpoint ids
    val e = und
      .join(deg.as("da"), col("a") === col("da.v"))
      .join(deg.as("db"), col("b") === col("db.v"))
      .select(
        when(col("da.deg") <= col("db.deg"), col("a")).otherwise(col("b")).as("src"),
        when(col("da.deg") <= col("db.deg"), col("b")).otherwise(col("a")).as("dst"))
      // three consumers with different join keys (wedge hop + closure)
      .persistScoped()
    e.as("xy")
      .join(e.as("yz"), col("xy.dst") === col("yz.src"))
      .join(e.as("xz"),
        col("xz.src") === col("xy.src") && col("xz.dst") === col("yz.dst"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  private val q116Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${bucketCtesSql(NearDupPlanes)},
       |und AS (SELECT x.vec_id AS a, y.vec_id AS b
       |        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |        WHERE round(${cosSql("x.v", "y.v")}, 4) >= $CosT),
       |deg AS (SELECT v, count(*) AS deg FROM (
       |          SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
       |        GROUP BY v),
       |edges AS (SELECT CASE WHEN da.deg <= db.deg THEN und.a ELSE und.b END AS src,
       |                 CASE WHEN da.deg <= db.deg THEN und.b ELSE und.a END AS dst
       |          FROM und JOIN deg da ON und.a = da.v
       |               JOIN deg db ON und.b = db.v)
       |SELECT count(*) AS n_triangles
       |FROM edges xy JOIN edges yz ON xy.dst = yz.src
       |     JOIN edges xz ON xz.src = xy.src AND xz.dst = yz.dst""".stripMargin

  // ===== q122 PageRank on the near-dup graph =============================
  // Node centrality over the q34 edge set: which documents sit at the
  // center of near-dup neighborhoods (the canonical-representative /
  // crawl-hub signal a curation pipeline ranks clusters by). Fixed-point
  // BIGINT ranks (Graph.pageRankFixedPoint): the contribution sums are
  // exact integer sums — order-independent — so three unrolled
  // iterations produce bit-identical ranks in any engine, which is what
  // puts PR on a hash-compare gate at all. Per iteration: one hash join
  // + one partial+final aggregate, O(|E|) shuffle rows of two longs.
  private val PrIters = 3

  private def q122(t: Tables): DataFrame =
    Graph.pageRankFixedPoint(
      Similarity
        .cosineNearDupPairs(graft.Fanout(t.embeddings), Dim, CosT, NearDupPlanes)
        .select(col("id_a"), col("id_b")),
      iters = PrIters)

  /** The PageRank oracle after an undirected edge CTE `und(a, b)`:
    * both orientations (`dir`), degrees, the uniform start `pr0` and
    * PrIters unrolled iterations (prK = the rank table after iteration K),
    * in Graph.pageRankFixedPoint's fixed-point integer arithmetic.
    */
  private def pageRankTailSql: String = {
    def iter(prev: String, k: Int): String =
      s"""c$k AS (SELECT dst, sum(pr // deg) AS c
         |        FROM dir JOIN $prev ON dir.src = $prev.id GROUP BY dst),
         |pr$k AS (SELECT deg.id, deg.deg,
         |           CAST(floor(0.15 * 1000000000000.0 / nn.n_nodes) AS BIGINT)
         |             + CAST(floor(0.85 * CAST(coalesce(c.c, 0) AS DOUBLE)) AS BIGINT) AS pr
         |         FROM deg CROSS JOIN nn LEFT JOIN c$k c ON deg.id = c.dst)""".stripMargin
    s"""dir AS (SELECT a AS src, b AS dst FROM und
       |        UNION ALL SELECT b AS src, a AS dst FROM und),
       |deg AS (SELECT src AS id, count(*) AS deg FROM dir GROUP BY src),
       |nn AS (SELECT count(*) AS n_nodes FROM deg),
       |pr0 AS (SELECT id, deg,
       |          CAST(floor(1000000000000.0 / nn.n_nodes) AS BIGINT) AS pr
       |        FROM deg CROSS JOIN nn),
       |${(1 to PrIters).map(k => iter(s"pr${k - 1}", k)).mkString(",\n")}
       |SELECT id, pr AS pr_scaled FROM pr$PrIters""".stripMargin
  }

  private val q122Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${bucketCtesSql(NearDupPlanes)},
       |und AS (SELECT x.vec_id AS a, y.vec_id AS b
       |        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |        WHERE round(${cosSql("x.v", "y.v")}, 4) >= $CosT),
       |$pageRankTailSql""".stripMargin

  // ===== q129 bounded k-core of the near-dup graph =======================
  // Dense-core extraction: after 3 peel rounds at k=3, what survives of
  // the near-dup graph are its template/boilerplate clusters — the
  // components worth special-casing (collapse-by-rule) BEFORE paying
  // pairwise dedup on them. Fixed-round peeling (Graph.kCoreBounded)
  // keeps the plan static so the oracle replays it as unrolled CTEs; a
  // degree aggregate + two semi-joins per round, edge set only shrinks.
  private val CoreK = 3
  private val CoreRounds = 3
  // looser similarity than q34's near-dup edges: k-core extraction is a
  // CLUSTER-STRUCTURE scan, so it runs on the 0.15-similarity graph
  // where template families are connected (at 0.35 the 8-plane-bucketed graph
  // is a forest and every core is empty — nothing to extract)
  private val CoreCosT = 0.15

  private def q129(t: Tables): DataFrame =
    Graph.kCoreBounded(
      Similarity
        .cosineNearDupPairs(graft.Fanout(t.embeddings), Dim, CoreCosT, NearDupPlanes)
        .select(col("id_a"), col("id_b")),
      k = CoreK, rounds = CoreRounds)

  /** Unrolled peel-round CTEs over the 0.15-similarity near-dup graph:
    * shared by q129 (fixed 3 rounds) and q149 (rounds past the measured
    * fixpoint — peeling is idempotent once converged, so extra unrolled
    * rounds reproduce the exact core). The per-round CTEs are
    * AS MATERIALIZED: each round references the previous one 4× (twice in
    * the degree union, twice in the semi-filters), so DuckDB's default
    * CTE inlining would re-evaluate the whole prefix per reference —
    * exponential in rounds (3 unrolled rounds finish; 12 never do).
    * Materialization makes the oracle linear in rounds, matching the
    * Spark side's per-round localCheckpoint.
    */
  private def kCoreUnrolledSql(rounds: Int): String = {
    def round(i: Int): String = {
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM $prev UNION ALL SELECT b AS v FROM $prev)
         |  GROUP BY v HAVING count(*) >= $CoreK),
         |e$i AS MATERIALIZED (SELECT a, b FROM $prev
         |        WHERE a IN (SELECT v FROM d$i) AND b IN (SELECT v FROM d$i))""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${bucketCtesSql(NearDupPlanes)},
       |e0 AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b
       |       FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |       WHERE round(${cosSql("x.v", "y.v")}, 4) >= $CoreCosT),
       |${(1 to rounds).map(round).mkString(",\n")}
       |SELECT v AS id, deg FROM d$rounds""".stripMargin
  }

  private val q129Sql = kCoreUnrolledSql(CoreRounds)

  // ===== q149 EXACT k-core fixpoint of the near-dup graph ================
  // q129's bounded peel run to CONVERGENCE (Graph.kCoreExact): the maximal
  // subgraph where every vertex keeps degree >= 3 — a long peel chain a
  // fixed round count gets wrong. The Spark side loops with a scalar
  // convergence count + localCheckpoint lineage truncation; the oracle
  // unrolls 12 peel rounds — measured fixpoint is 10 rounds at sf0.001
  // and 5 at sf0.01 (the 500-vector graph is the same fixture), and a
  // converged peel round is idempotent, so extra unrolled rounds
  // reproduce the exact core verbatim. This puts the driver's hash gate
  // on the data-dependent-iteration operator itself, not just its
  // fixed-round approximation.
  private val KcUnroll = 12

  private def q149(t: Tables): DataFrame =
    Graph.kCoreExact(
      Similarity
        .cosineNearDupPairs(graft.Fanout(t.embeddings), Dim, CoreCosT, NearDupPlanes)
        .select(col("id_a"), col("id_b")),
      k = CoreK)

  private val q149Sql = kCoreUnrolledSql(KcUnroll)

  // ===== q130 char-bigram LM quality scoring =============================
  // Language-model quality filtering without a trained model artifact:
  // a char-bigram LM is fit on the corpus ITSELF (bigram counts over
  // each doc's first 500 lowercased chars — the standard prefix sample),
  // then every doc is scored by its per-bigram cross-entropy
  // H(doc) = −(1/m)·Σ ln p(c₂|c₁). Anomalously high H = gibberish /
  // wrong-language / encoding damage; this is the cheap proxy for the
  // perplexity-filter step of an LLM data pipeline, kept fully inside
  // the engine. p(c₂|c₁) = c(c₁c₂)/c(c₁·) with both counts from the
  // corpus → no zero probabilities by construction.
  //
  // Determinism: counts are exact integers; each doc's Σ over its
  // DISTINCT bigrams folds in sorted bigram order via the q119
  // aggregate-over-sorted-array pattern (a plain SUM over doubles would
  // be partial-sum-order nondeterministic). The fold's array is bounded
  // by the doc's distinct-bigram count (≤ 500), never corpus-sized.
  private val LmPrefix = 500

  private def q130(t: Tables): DataFrame = {
    val bi = graft.Fanout(t.documents)
      .select(col("doc_id"),
        expr(s"substring(lower(text), 1, $LmPrefix)").as("t"))
      .select(col("doc_id"), split(col("t"), "").as("cs"))
      .filter(size(col("cs")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(cs) - 1), i -> concat(cs[i - 1], cs[i]))"))
        .as("bg"))
      .persistScoped() // feeds the model counts AND the per-doc scoring
    val cAB = bi.groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
    val cA = cAB.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum(col("c_ab")).as("c_a"))
    val model = cAB.join(cA, substring(col("bg"), 1, 1) === col("c1"))
      .select(col("bg"), col("c_ab"), col("c_a"))
    bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .join(model, "bg")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("m"),
        sort_array(collect_list(struct(col("bg"),
          (-col("n").cast("double")
            * log(col("c_ab").cast("double") / col("c_a"))).as("term"))))
          .as("ts"))
      .select(col("doc_id"), col("m").as("n_bigrams"),
        round(expr("aggregate(ts, 0D, (a, x) -> a + x.term)") / col("m"), 4)
          .as("cross_entropy"))
  }

  private val q130Sql =
    s"""WITH bi AS (
       |  SELECT doc_id, bg FROM (
       |    SELECT doc_id, unnest(list_transform(range(2, len(cs) + 1),
       |        i -> cs[i - 1] || cs[i])) AS bg
       |    FROM (SELECT doc_id,
       |            regexp_split_to_array(substr(lower(text), 1, $LmPrefix), '') AS cs
       |          FROM documents)
       |    WHERE len(cs) >= 2)),
       |cab AS (SELECT bg, count(*) AS c_ab FROM bi GROUP BY bg),
       |ca AS (SELECT substr(bg, 1, 1) AS c1, CAST(sum(c_ab) AS BIGINT) AS c_a
       |       FROM cab GROUP BY 1),
       |model AS (SELECT bg, c_ab, c_a FROM cab
       |          JOIN ca ON substr(cab.bg, 1, 1) = ca.c1),
       |dn AS (SELECT doc_id, bg, count(*) AS n FROM bi GROUP BY 1, 2),
       |terms AS (SELECT dn.doc_id, dn.bg, dn.n,
       |    -CAST(dn.n AS DOUBLE) * ln(CAST(c_ab AS DOUBLE) / c_a) AS term
       |  FROM dn JOIN model ON dn.bg = model.bg)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |  round(list_reduce(
       |    list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'bg': bg, 'term': term})),
       |        x -> x.term)),
       |    (a, b) -> a + b) / CAST(sum(n) AS BIGINT), 4) AS cross_entropy
       |FROM terms GROUP BY doc_id""".stripMargin

  // ===== q131 edit-distance fuzzy dedup (PassJoin) =======================
  // Fuzzy duplicate short keys: each doc's opening bigram (first two
  // lowercased tokens — the title-like key) joined against every other
  // within levenshtein ≤ 2 — the typo-level near-dup detector that hash
  // dedup misses by one character and shingle Jaccard can't see at all
  // on strings this short. Identical keys collapse FIRST (min-doc_id
  // representative — the exact-before-fuzzy order of dedupCorpus), so
  // candidate pairs can't go quadratic on boilerplate. Candidate
  // generation is the lossless PassJoin segment filter (proof in
  // Dedup.editDistancePairs); the only wide op is the (ℓ, j, segment)
  // equi-join, and exact levenshtein verifies collisions.
  private val EdWords = 2
  private val EdK = 2

  private def q131(t: Tables): DataFrame = {
    val keys = graft.Fanout(t.documents)
      .select(concat_ws(" ",
        slice(split(lower(col("text")), "\\s+"), 1, EdWords)).as("s"),
        col("doc_id"))
      .groupBy(col("s")).agg(min(col("doc_id")).as("id"))
      .select(col("id"), col("s"))
    Dedup.editDistancePairs(keys, EdK)
  }

  private val q131Sql = {
    val kk = EdK + 1
    s"""WITH keys AS (SELECT min(doc_id) AS id, s FROM (
       |    SELECT doc_id, array_to_string(
       |        regexp_split_to_array(lower(text), '\\s+')[1:$EdWords], ' ') AS s
       |    FROM documents)
       |  GROUP BY s),
       |sized AS (SELECT id, s, len(s) AS n FROM keys WHERE len(s) > 0),
       |segs AS (SELECT id AS id_b, n AS l, j,
       |    substr(s, CAST(j * n // $kk + 1 AS INT),
       |           CAST((j + 1) * n // $kk - j * n // $kk AS INT)) AS seg
       |  FROM sized CROSS JOIN (SELECT unnest(range(0, $kk)) AS j)
       |  WHERE (j + 1) * n // $kk - j * n // $kk > 0),
       |probes0 AS (SELECT id, s, n, n + dl AS l, j,
       |    j * (n + dl) // $kk + 1 + off AS st,
       |    (j + 1) * (n + dl) // $kk - j * (n + dl) // $kk AS sl
       |  FROM sized
       |       CROSS JOIN (SELECT unnest(range(-$EdK, ${EdK + 1})) AS dl)
       |       CROSS JOIN (SELECT unnest(range(0, $kk)) AS j)
       |       CROSS JOIN (SELECT unnest(range(-$EdK, ${EdK + 1})) AS off)
       |  WHERE n + dl >= 1),
       |probes AS (SELECT id AS id_a, l, j,
       |    substr(s, CAST(st AS INT), CAST(sl AS INT)) AS seg
       |  FROM probes0 WHERE st >= 1 AND sl > 0 AND st + sl - 1 <= n),
       |cand AS (SELECT DISTINCT id_a, id_b FROM (
       |  SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
       |  FROM probes JOIN segs USING (l, j, seg)
       |  WHERE id_a <> id_b
       |  UNION ALL
       |  SELECT x.id AS id_a, y.id AS id_b
       |  FROM (SELECT id FROM sized WHERE n <= $EdK) x
       |       JOIN (SELECT id FROM sized WHERE n <= $EdK) y ON x.id < y.id))
       |SELECT c.id_a, c.id_b,
       |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
       |FROM cand c JOIN sized a ON c.id_a = a.id
       |     JOIN sized b ON c.id_b = b.id
       |WHERE levenshtein(a.s, b.s) <= $EdK""".stripMargin
  }

  // ===== q125 per-source vocabulary uniqueness ===========================
  // Which sources contribute NOVEL vocabulary vs re-hash the same tokens
  // every other source has — the diversity signal behind source-mixture
  // weighting. token→distinct-source inverted index (one aggregate on
  // (token, source), one on token), then per-source distinct-token and
  // unique-token counts. All aggregates are vocab-sized; the corpus text
  // never shuffles.
  private def q125(t: Tables): DataFrame = {
    val ts = graft.Fanout(t.documents)
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
      .persistScoped() // feeds the token-spread aggregate AND the per-source count
    val spread = ts.groupBy(col("token")).agg(count(lit(1)).as("n_src"))
    ts.join(spread, "token")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("source"), col("n_tokens"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_tokens"), 4).as("unique_rate"))
  }

  private val q125Sql =
    """WITH ts AS (SELECT DISTINCT source, token FROM (
      |    SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
      |    FROM documents)
      |  WHERE len(token) > 0),
      |spread AS (SELECT token, count(*) AS n_src FROM ts GROUP BY token)
      |SELECT source, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  round(CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
      |    AS unique_rate
      |FROM ts JOIN spread USING (token)
      |GROUP BY source""".stripMargin

  // ===== q127 bigram PMI collocations ====================================
  // Top collocations by pointwise mutual information — the tokenizer /
  // phrase-mining signal (which adjacent pairs co-occur far above
  // chance). Bigram and unigram counts from one token stream (bigrams
  // via a narrow transform over the word array — no self-join), two
  // vocab-sized hash joins to attach unigram counts, PMI in one
  // deterministic double expression (counts are exact integers), then
  // TakeOrderedAndProject for the top-k — no global sort. min-count 5
  // kills the hapax noise exactly like every published PMI table.
  private val PmiK = 20
  private val PmiMinCount = 5

  private def q127(t: Tables): DataFrame = {
    val words = graft.Fanout(t.documents)
      .select(split(lower(col("text")), "\\s+").as("w"))
      .select(expr("filter(w, x -> length(x) > 0)").as("w"))
      .persistScoped() // unigram + bigram streams share the split
    val uni = words.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .persistScoped() // joined twice (t1 and t2)
    val nTok = uni.agg(sum(col("cnt")).as("n")) // 1 row
    val bi = words
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(w[i - 1] AS t1, w[i] AS t2))"))
        .as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= PmiMinCount)
    val nBi = bi.agg(sum(col("n_ab")).as("m")) // 1 row (post-filter mass)
    bi.join(uni.select(col("t").as("t1"), col("cnt").as("n_a")), "t1")
      .join(uni.select(col("t").as("t2"), col("cnt").as("n_b")), "t2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .select(col("t1"), col("t2"), col("n_ab"),
        round(log(
          (col("n_ab").cast("double") / col("m"))
            / ((col("n_a").cast("double") / col("n"))
              * (col("n_b").cast("double") / col("n")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(PmiK)
  }

  private val q127Sql =
    s"""WITH w AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                  x -> len(x) > 0) AS w FROM documents),
       |uni AS (SELECT t, count(*) AS cnt FROM (SELECT unnest(w) AS t FROM w) GROUP BY t),
       |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM uni),
       |bi AS (SELECT p.t1, p.t2, count(*) AS n_ab FROM (
       |    SELECT unnest(list_transform(range(2, len(w) + 1),
       |      i -> {'t1': w[i - 1], 't2': w[i]})) AS p FROM w)
       |  GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount),
       |m AS (SELECT CAST(sum(n_ab) AS BIGINT) AS m FROM bi)
       |SELECT t1, t2, n_ab, pmi FROM (
       |  SELECT bi.t1, bi.t2, bi.n_ab,
       |    round(ln((CAST(bi.n_ab AS DOUBLE) / m.m)
       |      / ((CAST(a.cnt AS DOUBLE) / n.n) * (CAST(b.cnt AS DOUBLE) / n.n))), 4)
       |      AS pmi,
       |    row_number() OVER (ORDER BY round(ln((CAST(bi.n_ab AS DOUBLE) / m.m)
       |      / ((CAST(a.cnt AS DOUBLE) / n.n) * (CAST(b.cnt AS DOUBLE) / n.n))), 4) DESC,
       |      bi.t1, bi.t2) AS rn
       |  FROM bi JOIN uni a ON bi.t1 = a.t
       |       JOIN uni b ON bi.t2 = b.t
       |       CROSS JOIN n CROSS JOIN m)
       |WHERE rn <= $PmiK""".stripMargin

  // ===== q128 per-source duplication profile =============================
  // Which sources are internally duplicate-heavy — the provenance signal
  // that decides dedup ORDER (dedup the worst source first) and mixture
  // down-weighting. Exact-dup hash groups (one aggregate on md5), docs
  // in >1-copy groups marked by a semi-join on the 32-char digest, then
  // one per-source aggregate. The raw text never joins or reshuffles.
  private def q128(t: Tables): DataFrame = {
    val h = graft.Fanout(t.documents)
      .select(col("source"), md5(col("text")).as("h"))
      .persistScoped() // feeds the dup-hash aggregate and the per-source profile
    val dupHashes = h.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    h.join(dupHashes.withColumn("__dup", lit(1L)), Seq("h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 4).as("dup_rate"))
  }

  private val q128Sql =
    """WITH h AS (SELECT source, md5(text) AS h FROM documents),
      |dup AS (SELECT h FROM (SELECT h, count(*) AS c FROM h GROUP BY h)
      |        WHERE c > 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  round(CAST(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 4) AS dup_rate
      |FROM h LEFT JOIN dup ON h.h = dup.h
      |GROUP BY source""".stripMargin

  // ===== q35 brute-force cosine top-k ====================================

  private val TopK = 10
  private val QueryMod = 50

  private def q35(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.bruteForceTopK(queries, e, TopK)
  }

  private val q35Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % $QueryMod = 0),
       |s AS (SELECT q_id, vec_id, round(${cosSql("qv", "v")}, 4) AS score
       |      FROM q CROSS JOIN e WHERE vec_id <> q_id),
       |r AS (SELECT q_id, vec_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |      FROM s)
       |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK""".stripMargin

  // ===== q36 LSH-bucketed approximate top-k ==============================

  private def q36(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.lshTopK(queries, e, Dim, TopK, Similarity.LshPlanes)
  }

  private val q36Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${bucketCtesSql(Similarity.LshPlanes)},
       |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id % $QueryMod = 0),
       |s AS (SELECT q_id, b.vec_id, round(${cosSql("qv", "b.v")}, 4) AS score
       |      FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |      FROM s)
       |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK""".stripMargin

  // ===== q103 multi-probe LSH top-k ======================================
  // q36's single-bucket probing collapses when buckets outnumber vectors
  // (recall@10 measured 0.03 at 12 planes on the harness embeddings);
  // probing all Hamming-1 buckets (planes+1 probes/query) recovers ~3x
  // the recall for a probe-side-only blow-up (SimilaritySpec pins the
  // measured numbers). Oracle replays the same probe expansion with the
  // shared plane family.

  private def q103(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.lshTopKMultiProbe(queries, e, Dim, TopK, Similarity.LshPlanes)
  }

  private val q103Sql = {
    val planes = Similarity.LshPlanes
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${bucketCtesSql(planes)},
       |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b WHERE vec_id % $QueryMod = 0),
       |qp AS (SELECT q_id, qv,
       |         CASE WHEN t.j = -1 THEN bucket
       |              ELSE xor(bucket, CAST(1 AS BIGINT) << t.j) END AS pbucket
       |       FROM q CROSS JOIN generate_series(-1, ${planes - 1}) AS t(j)),
       |s AS (SELECT q_id, b.vec_id, round(${cosSql("qv", "b.v")}, 4) AS score
       |      FROM qp JOIN b ON qp.pbucket = b.bucket AND b.vec_id <> qp.q_id),
       |r AS (SELECT q_id, vec_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |      FROM s)
       |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK""".stripMargin
  }

  // ===== q44 IVF approximate top-k =======================================

  private val IvfCells = 16
  private val IvfProbe = 2

  /** IVF cell assignment as an oracle subquery: each row of `src` keeps
    * its `n` best `cents` by rounded cosine (cent_id breaks ties), as
    * (`id`, `vec`, cell) — Similarity's coarse quantizer, verbatim.
    */
  private def ivfBestSql(src: String, id: String, vec: String,
      n: String): String =
    s"""SELECT $id, $vec, cent_id AS cell FROM (
       |  SELECT s.*, c.cent_id,
       |    row_number() OVER (PARTITION BY s.$id
       |      ORDER BY round(${cosSql(s"s.$vec", "c.cvec")}, 4) DESC, c.cent_id) AS crn
       |  FROM $src s CROSS JOIN cents c) WHERE crn <= $n""".stripMargin

  /** The IVF probe oracle head: `e` (vectors), `cents` (the first
    * IvfCells vectors), `q0` (every QueryMod-th vector as a query),
    * `lists` (each vector's cell) and `probes` (each query's IvfProbe
    * best cells).
    */
  private def ivfProbeCtesSql(materialize: Boolean): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, v AS cvec FROM e WHERE vec_id < $IvfCells),
       |q0 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % $QueryMod = 0),
       |lists AS ${if (materialize) "MATERIALIZED " else ""}(${ivfBestSql("e", "vec_id", "v", "1")}),
       |probes AS (${ivfBestSql("q0", "q_id", "qv", IvfProbe.toString)})""".stripMargin

  private def q44(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.ivfTopK(queries, e, IvfCells, IvfProbe, TopK)
  }

  private val q44Sql =
    s"""${ivfProbeCtesSql(materialize = false)},
       |s AS (SELECT p.q_id, l.vec_id, round(${cosSql("p.qv", "l.v")}, 4) AS score
       |      FROM probes p JOIN lists l ON p.cell = l.cell AND l.vec_id <> p.q_id),
       |r AS (SELECT q_id, vec_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |      FROM s)
       |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK""".stripMargin

  // ===== q145 stored-ANN-index probe =====================================
  // q44's production form and q83's similarity sibling: the IVF index
  // (centroids + cell-partitioned inverted lists) is BUILT ONCE as
  // parquet views, and the query batch probes it — every production
  // retrieval pipeline builds the index once and probes forever, so the
  // per-batch cost must be ∝ batch (broadcast batch × tiny centroids +
  // a partition-pruned scan of the probed cells), never a corpus
  // recompute. The oracle recomputes the identical deterministic
  // algorithm from scratch (q44's SQL verbatim): stored-and-probed must
  // equal freshly-derived, which is exactly the index-integrity contract.

  private def q145(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = RunCache.dir(t.dir, s"ivf_index_$IvfCells")(
      Similarity.writeIvfIndexVersioned(e, _, IvfCells))
    Similarity.ivfTopKAgainstIndex(queries, dir, IvfProbe, TopK)
  }

  // ===== q146 incremental ANN-index ingestion ============================
  // The ingestion companion of q145 (and q74/q83's similarity sibling):
  // the versioned index is built on the INITIAL corpus slice and the rest
  // is ingested as batch 1 — assignment of the batch against the frozen
  // stored centroids, written as its own cell-partitioned batch. Cost per
  // ingest is ∝ batch; the corpus assignment is never recomputed. Probing
  // build+ingest must equal probing a from-scratch build over the union:
  // the initial slice deliberately contains the whole centroid id range
  // (vec_id < IvfCells), so the frozen quantizer IS the full-corpus
  // quantizer and q44's from-scratch oracle applies verbatim.

  private def q146(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // the build+ingest pair is one cached build: all-or-nothing
    val dir = RunCache.dir(t.dir, s"ivf_inc_$IvfCells") { d =>
      // initial slice keeps vec_id < IvfCells so the frozen centroids
      // equal the full-corpus centroids; the batch is everything else
      val initial = e.filter(col("vec_id") < IvfCells || col("vec_id") % 10 =!= 7)
      val batch = e.filter(col("vec_id") >= IvfCells && col("vec_id") % 10 === 7)
      Similarity.writeIvfIndexVersioned(initial, d, IvfCells)
      Similarity.ingestIntoIvfIndex(batch, d, 1L)
    }
    Similarity.ivfTopKAgainstIndex(queries, dir, IvfProbe, TopK)
  }

  // ===== q167 compacted ANN-index probe ==================================
  // The maintenance companion of q146 ON the gate: build the
  // batch-versioned index on the initial slice, replay-safely ingest the
  // rest, then COMPACT — every batch directory rewritten into one
  // consolidated batch under the next epoch, committed by the atomic
  // EPOCH-pointer swap (Similarity.compactIvfIndex) — and probe the
  // compacted index. Probes must be blind to layout maintenance, so
  // q44's from-scratch oracle applies verbatim (the same initial slice
  // contains the centroid id range, as q146). This is the gate row that
  // makes "compaction changes file layout, never results" a checked
  // contract rather than a spec-only claim.

  private def q167(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = RunCache.dir(t.dir, s"ivf_compact_$IvfCells") { d =>
      val initial = e.filter(col("vec_id") < IvfCells || col("vec_id") % 10 =!= 7)
      val batch = e.filter(col("vec_id") >= IvfCells && col("vec_id") % 10 === 7)
      Similarity.writeIvfIndexVersioned(initial, d, IvfCells)
      Similarity.ingestIntoIvfIndex(batch, d, 1L)
      Similarity.compactIvfIndex(e.sparkSession, d)
    }
    Similarity.ivfTopKAgainstIndex(queries, dir, IvfProbe, TopK)
  }

  // ===== q168 PQ-compressed ANN-index probe ==============================
  // The IVFADC + exact-refine pipeline fully HASH-GATED: training-free
  // per-subspace codebooks (the subvectors of the PqCodes smallest-id
  // vectors — the same oracle-reproducible determinism the gate's coarse
  // quantizer uses; production training plugs in via trainIters, recall
  // spec-pinned), strict-< L2 argmin encoding, per-query ADC lookup
  // tables, round-4 ADC shortlist ranking (vec_id tie-break), exact
  // rounded-cosine re-rank of the top PqShort. Every float is a
  // FIXED-ORDER double fold, so DuckDB replays the identical arithmetic:
  // the oracle recomputes codes, LUTs, ADC scores, the shortlist and the
  // re-rank from scratch — compressed-and-probed must equal
  // freshly-derived, the q145 contract extended to the compressed layout.

  private val PqM = 8
  private val PqCodes = 16
  private val PqShort = 50

  // fixed-subDim slice folds (1-based inclusive DuckDB slices)
  private def pqDotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, ${Dim / PqM}), i -> $a[i]*$b[i]), (p,q) -> p+q)"
  private def pqL2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, ${Dim / PqM}), i -> ($a[i]-$b[i])*($a[i]-$b[i])), (p,q) -> p+q)"
  // m-ordered double sum (the q152 sorted-fold discipline)
  private def pqMsumSql(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list({'m': m, 'x': $x})), e -> e.x)), (a,b) -> a+b)"

  private def q168(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = RunCache.dir(t.dir, s"ivf_pq_${IvfCells}_${PqM}_$PqCodes")(
      d => Similarity.writeIvfIndexVersioned(e, d, IvfCells,
        codec = Similarity.IvfCodec.Pq(PqM, PqCodes, trainIters = 0)))
    Similarity.ivfTopKAgainstIndex(queries, dir, IvfProbe, TopK, PqShort)
  }

  private val q168Sql = {
    val subDim = Dim / PqM
    s"""${ivfProbeCtesSql(materialize = true)},
       |cbb AS (SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code
       |        FROM (SELECT * FROM e ORDER BY vec_id LIMIT $PqCodes)),
       |cb AS MATERIALIZED (SELECT t.m, code, v[m*$subDim+1 : m*$subDim+$subDim] AS cvec
       |      FROM cbb CROSS JOIN range(0, $PqM) t(m)),
       |sub AS (SELECT vec_id, t.m, v[m*$subDim+1 : m*$subDim+$subDim] AS sv
       |        FROM e CROSS JOIN range(0, $PqM) t(m)),
       |assign AS MATERIALIZED (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${pqL2Sql("s.sv", "c.cvec")}, c.code) AS rn
       |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |lut AS MATERIALIZED (SELECT q.q_id, c.m, c.code,
       |        ${pqDotSql(s"q.qv[c.m*$subDim+1 : c.m*$subDim+$subDim]", "c.cvec")} AS ld,
       |        ${pqDotSql("c.cvec", "c.cvec")} AS n2
       |      FROM q0 q CROSS JOIN cb c),
       |qn AS (SELECT q_id, sqrt(list_reduce(list_transform(qv, x -> x*x), (p,q) -> p+q)) AS qn FROM q0),
       |cand AS (SELECT p.q_id, l.vec_id FROM probes p
       |         JOIN lists l ON p.cell = l.cell AND l.vec_id <> p.q_id),
       |contrib AS (SELECT c.q_id, c.vec_id, a.m, t.ld, t.n2
       |            FROM cand c JOIN assign a ON c.vec_id = a.vec_id
       |            JOIN lut t ON t.q_id = c.q_id AND t.m = a.m AND t.code = a.code),
       |adc AS (SELECT q_id, vec_id, ${pqMsumSql("ld")} AS num, ${pqMsumSql("n2")} AS nn
       |        FROM contrib GROUP BY q_id, vec_id),
       |sc AS (SELECT a.q_id, a.vec_id, round(a.num / (q.qn * sqrt(a.nn)), 4) AS s
       |       FROM adc a JOIN qn q USING (q_id)),
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id) AS rn
       |    FROM sc) WHERE rn <= $PqShort),
       |rs AS (SELECT sh.q_id, sh.vec_id, round(${cosSql("q.qv", "x.v")}, 4) AS score
       |       FROM short sh JOIN q0 q USING (q_id) JOIN e x ON sh.vec_id = x.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |      FROM rs)
       |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK""".stripMargin
  }

  // ===== q208 residual IVF-PQ (IVFADC proper) ============================
  // q168's missing refinement: codebooks train on and codes encode the
  // RESIDUAL x − c(cell) (Jégou et al. 2011 — the production FAISS form;
  // residuals concentrate around the origin, so equal code bytes explain
  // more of x). Cosine ADC decomposes exactly — ⟨q,x⟩ = ⟨q,c⟩ + ⟨q,r̂⟩ —
  // so the residual LUT stays cell-independent and the probe adds one
  // ⟨q,c⟩ term per (query, probed cell); ‖x‖ is the EXACT stored norm.
  // Oracle = q168's chain with the residual substitution replayed
  // step-for-step; recall-vs-raw-PQ is spec-pinned in SimilaritySpec.

  private def q208(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.pqResidualTopK(queries, e, IvfCells, PqM, PqCodes,
      IvfProbe, TopK, PqShort)
  }

  private val q208Sql = {
    val subDim = Dim / PqM
    s"""${ivfProbeCtesSql(materialize = true)},
       |rs0 AS MATERIALIZED (SELECT l.vec_id, l.cell, l.v,
       |        list_transform(generate_series(1, len(l.v)), i -> l.v[i] - c.cvec[i]) AS rv,
       |        list_reduce(list_transform(l.v, x -> x*x), (p,q) -> p+q) AS n2x
       |      FROM lists l JOIN cents c ON l.cell = c.cent_id),
       |cbb AS (SELECT rv, row_number() OVER (ORDER BY vec_id) - 1 AS code
       |        FROM (SELECT * FROM rs0 WHERE vec_id >= $IvfCells
       |              ORDER BY vec_id LIMIT $PqCodes)),
       |cb AS MATERIALIZED (SELECT t.m, code, rv[m*$subDim+1 : m*$subDim+$subDim] AS cvec
       |      FROM cbb CROSS JOIN range(0, $PqM) t(m)),
       |sub AS (SELECT vec_id, t.m, rv[m*$subDim+1 : m*$subDim+$subDim] AS sv
       |        FROM rs0 CROSS JOIN range(0, $PqM) t(m)),
       |assign AS MATERIALIZED (SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${pqL2Sql("s.sv", "c.cvec")}, c.code) AS rn
       |    FROM sub s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |lut AS MATERIALIZED (SELECT q.q_id, c.m, c.code,
       |        ${pqDotSql(s"q.qv[c.m*$subDim+1 : c.m*$subDim+$subDim]", "c.cvec")} AS ld
       |      FROM q0 q CROSS JOIN cb c),
       |qn AS (SELECT q_id, sqrt(list_reduce(list_transform(qv, x -> x*x), (p,q) -> p+q)) AS qn FROM q0),
       |qc AS (SELECT p.q_id, p.cell,
       |        list_reduce(list_transform(generate_series(1, len(q.qv)),
       |          i -> q.qv[i] * c.cvec[i]), (p2,q2) -> p2+q2) AS qc
       |      FROM probes p JOIN q0 q USING (q_id) JOIN cents c ON p.cell = c.cent_id),
       |cand AS (SELECT p.q_id, p.cell, l.vec_id FROM probes p
       |         JOIN lists l ON p.cell = l.cell AND l.vec_id <> p.q_id),
       |contrib AS (SELECT c.q_id, c.cell, c.vec_id, a.m, t.ld
       |            FROM cand c JOIN assign a ON c.vec_id = a.vec_id
       |            JOIN lut t ON t.q_id = c.q_id AND t.m = a.m AND t.code = a.code),
       |adc AS (SELECT q_id, cell, vec_id, ${pqMsumSql("ld")} AS rsum
       |        FROM contrib GROUP BY q_id, cell, vec_id),
       |sc AS (SELECT a.q_id, a.vec_id,
       |        round((g.qc + a.rsum) / (q.qn * sqrt(r.n2x)), 4) AS s
       |       FROM adc a JOIN qc g ON a.q_id = g.q_id AND a.cell = g.cell
       |       JOIN rs0 r ON a.vec_id = r.vec_id
       |       JOIN qn q ON a.q_id = q.q_id),
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id) AS rn
       |    FROM sc) WHERE rn <= $PqShort),
       |rr AS (SELECT sh.q_id, sh.vec_id, round(${cosSql("q.qv", "x.v")}, 4) AS score
       |       FROM short sh JOIN q0 q USING (q_id) JOIN e x ON sh.vec_id = x.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |      FROM rr)
       |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK""".stripMargin
  }

  // ===== q209 STORED residual IVF-PQ index ================================
  // q208's production form: the residual codes, the EXACT per-vector norm
  // (the FAISS stored-norm column) and the raw refine vectors persist in
  // the batch-versioned cell-partitioned layout; the probe DPP-prunes to
  // the probed cells, folds the cell-independent residual LUT through the
  // native pq_adc kernel, and adds the per-(query, cell) ⟨q,c⟩ term.
  // Stored-and-probed must equal the direct operator — q208's oracle
  // VERBATIM (the stored ≡ direct contract every index family carries).

  private def q209(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = RunCache.dir(t.dir, s"ivf_pqr_${IvfCells}_${PqM}_$PqCodes")(
      d => Similarity.writeIvfIndexVersioned(e, d, IvfCells,
        codec = Similarity.IvfCodec.Pqr(PqM, PqCodes, trainIters = 0)))
    Similarity.ivfTopKAgainstIndex(queries, dir, IvfProbe, TopK, PqShort)
  }

  // ===== q169 Gopher-style repetition filter =============================
  // The per-doc quality stage that runs BEFORE any dedup in published
  // pipelines (Gopher A1.1, RefinedWeb, Dolma): top-token fraction,
  // top-2-gram fraction and type/token ratio, composed into a keep/drop
  // decision. Spark side is ONE zero-shuffle narrow map — both signal
  // families come from the codegen'd repetition_signals kernel (q56's
  // engine) at n=1 and n=2; the oracle recomputes the same exact integer
  // counts via unnest + GROUP BY. Thresholds chosen to split the fixture
  // non-trivially (284/500 kept at sf0.01).

  private val RepMaxTok = 0.12
  private val RepMaxBigram = 0.06
  private val RepMinTtr = 0.35

  private def q169(t: Tables): DataFrame =
    TextOps.repetitionFilter(graft.Fanout(t.documents),
      col("doc_id"), col("text"), RepMaxTok, RepMaxBigram, RepMinTtr)

  // words filtered of zero-length split artifacts — the operator's (and
  // the sibling quality filters') token contract; NOT the shared wordsCte,
  // whose other consumers replay the unfiltered split
  private val q169Sql =
    s"""WITH w AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS words
       |  FROM documents),
       |t AS (SELECT id, len(words) AS n, unnest(words) AS tk FROM w WHERE len(words) > 0),
       |tc AS (SELECT id, n, tk, count(*) AS c FROM t GROUP BY 1, 2, 3),
       |ts AS (SELECT id, n, max(c) AS topc, CAST(count(*) AS BIGINT) AS nd FROM tc GROUP BY 1, 2),
       |bg0 AS (SELECT id, words, unnest(generate_series(1, len(words)-1)) AS i
       |        FROM w WHERE len(words) >= 2),
       |bg AS (SELECT id, words[i] || ' ' || words[i+1] AS b FROM bg0),
       |bc AS (SELECT id, b, count(*) AS c FROM bg GROUP BY 1, 2),
       |bs AS (SELECT id, max(c) AS topb FROM bc GROUP BY 1),
       |f AS (SELECT ts.id, CAST(ts.n AS BIGINT) AS n_tokens, ts.nd AS n_distinct,
       |        round(CAST(ts.nd AS DOUBLE)/ts.n, 4) AS ttr,
       |        CAST(ts.topc AS BIGINT) AS top_tok_count,
       |        round(CAST(ts.topc AS DOUBLE)/ts.n, 4) AS top_tok_frac,
       |        CAST(coalesce(bs.topb, 0) AS BIGINT) AS top_bigram_count,
       |        CASE WHEN bs.topb IS NOT NULL
       |          THEN round(CAST(bs.topb AS DOUBLE)/(ts.n-1), 4) ELSE 0.0
       |        END AS top_bigram_frac
       |      FROM ts LEFT JOIN bs USING (id))
       |SELECT f.*, (top_tok_frac <= $RepMaxTok AND top_bigram_frac <= $RepMaxBigram
       |  AND ttr >= $RepMinTtr) AS keep FROM f""".stripMargin

  // ===== q170 leakage-free train/val/test split ==========================
  // The hashSplit assignment keyed on the NEAR-DUP CLUSTER (q62's
  // connected components) instead of the row id, so no duplicate cluster
  // ever straddles train and eval — per-row splits leak train
  // near-duplicates into the eval set (Lee et al. 2021). The leakage-free
  // property holds BY CONSTRUCTION (split is a pure function of comp);
  // the gate row reports per-split doc and cluster counts. Cost on top of
  // the clustering: one equi-join + a narrow md5-bucket map.

  private def q170(t: Tables): DataFrame =
    graft.operators.Sampling.leakageFreeSplit(
      t.documents.select(col("doc_id").as("id")), col("id"),
      q62(t), SplitWeights)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"))

  private val q170Sql = {
    // q62's final SELECT replaced wholesale (the q135 anchor mechanics);
    // fail loudly if q62Sql is ever reworded
    val anchor =
      """SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
        |FROM documents LEFT JOIN comp c ON doc_id = c.id""".stripMargin
    require(q62Sql.contains(anchor), "q170 oracle anchor missing from q62Sql")
    q62Sql.replace(anchor,
      s""",cl AS (SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
         |       FROM documents LEFT JOIN comp c ON doc_id = c.id),
         |sp AS (SELECT id, comp,
         |         ${graft.operators.Sampling.hashSplitSql("comp", SplitWeights)} AS split
         |       FROM cl)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT comp) AS BIGINT) AS n_clusters
         |FROM sp GROUP BY split""".stripMargin)
  }

  // ===== q171 maximal duplicated spans ===================================
  // Exact substring dedup's OUTPUT shape (Lee et al. 2021): per doc, the
  // maximal token ranges covered by cross-document duplicated 8-gram
  // windows — q84 reports the duplicated grams, this merges their
  // positions into the spans a pipeline cuts out. The island merge is a
  // lag + running-sum window PARTITIONED BY DOC (per-partition work
  // bounded by one doc's gram count — the only safe window shape at
  // corpus scale); candidate discovery is q84's one hash-partitioned
  // aggregate + a semi-join.

  private def q171(t: Tables): DataFrame =
    Dedup.duplicateSpans(
      graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text"))),
      PassLen)
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"))

  private val q171Sql =
    s"""WITH $wordsCte,
       |s AS (SELECT id, words, unnest(generate_series(0, len(words)-$PassLen)) AS st
       |      FROM w WHERE len(words) >= $PassLen),
       |g AS (SELECT id, CAST(st AS BIGINT) AS pos,
       |        md5(array_to_string(words[st+1:st+$PassLen], ' ')) AS h FROM s),
       |d AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT id) >= 2),
       |p AS (SELECT g.id, g.pos FROM g JOIN d USING (h)),
       |l AS (SELECT id, pos, CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
       |        OR pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > $PassLen
       |        THEN 1 ELSE 0 END AS ni FROM p),
       |i AS (SELECT id, pos, sum(ni) OVER (PARTITION BY id ORDER BY pos) AS isl FROM l)
       |SELECT id AS doc_id, min(pos) AS span_start,
       |  max(pos) + $PassLen - 1 AS span_end,
       |  CAST(count(*) AS BIGINT) AS n_grams
       |FROM i GROUP BY id, isl""".stripMargin

  // ===== q207 duplicate-span REMOVAL (exact substring dedup transform) ===
  // q171's missing half — the stage that actually EDITS the corpus (Lee
  // et al. 2021's ExactSubstr dedup): every token covered by a
  // cross-document duplicated PassLen-gram is cut unless its window is
  // the gram's first owner (min (id, pos), the segmentDedup election
  // key), so exactly one copy of each duplicated passage survives; the
  // doc reassembles from the surviving tokens. Oracle = q171's gram/
  // island chain extended by the owner election and a per-doc list
  // filter replay of the reassembly.

  private def q207(t: Tables): DataFrame =
    Dedup.removeDuplicateSpans(
      graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text"))),
      PassLen)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_cut"),
        col("clean_text"))

  private lazy val q207Sql =
    s"""WITH $wordsCte,
       |s AS (SELECT id, words, unnest(generate_series(0, len(words)-$PassLen)) AS st
       |      FROM w WHERE len(words) >= $PassLen),
       |g AS (SELECT id, CAST(st AS BIGINT) AS pos,
       |        md5(array_to_string(words[st+1:st+$PassLen], ' ')) AS h FROM s),
       |d AS (SELECT h, min(id * 1048576 + pos) AS ofk FROM g GROUP BY h
       |      HAVING count(DISTINCT id) >= 2),
       |p AS (SELECT g.id, g.pos FROM g JOIN d USING (h)
       |      WHERE g.id * 1048576 + g.pos <> d.ofk),
       |l AS (SELECT id, pos, CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
       |        OR pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > $PassLen
       |        THEN 1 ELSE 0 END AS ni FROM p),
       |i AS (SELECT id, pos, sum(ni) OVER (PARTITION BY id ORDER BY pos) AS isl FROM l),
       |r AS (SELECT id, min(pos) AS rs, max(pos) + $PassLen - 1 AS re
       |      FROM i GROUP BY id, isl),
       |ra AS (SELECT id, list_sort(list({'s': rs, 'e': re})) AS rgs
       |       FROM r GROUP BY id)
       |SELECT w.id AS doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(rgs, r -> r.e - r.s + 1)), (a, b) -> a + b), 0)
       |    AS BIGINT) AS n_cut,
       |  coalesce(array_to_string(list_filter(list_transform(
       |    generate_series(1, len(words)), i ->
       |      CASE WHEN rgs IS NOT NULL AND len(list_filter(rgs,
       |             r -> i - 1 >= r.s AND i - 1 <= r.e)) > 0 THEN NULL
       |           ELSE words[i] END),
       |    x -> x IS NOT NULL), ' '), '') AS clean_text
       |FROM w LEFT JOIN ra USING (id)""".stripMargin

  // ===== q172 BM25-index row deletion ("right to be forgotten") ==========
  // The last index-lifecycle op ON the gate: build the versioned BM25
  // index over the full corpus, physically DELETE a doc set
  // (Retrieval.deleteFromBm25Index: anti-join rewrite of the postings —
  // bytes gone, not masked — plus an exact recount of the (n_docs,
  // tot_dl) summary, committed by the atomic epoch swap), then probe.
  // Deletion shifts df/idf/avgdl for EVERY later query, so the oracle is
  // q152's from-scratch SQL over the SURVIVING corpus — stored-deleted-
  // and-probed must equal freshly-derived-from-survivors, the erasure
  // contract as a hash check. Seed queries re-derive from the surviving
  // corpus too (their tf·idf weights shift with df), on both sides.

  private def delDocPred = col("id") >= BmSeeds && col("id") % 10 === 6

  private def q172(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = RunCache.dir(t.dir, s"bm25_del_$BmBuckets") { d =>
      val tf = bigramTf(t).persistScoped() // full corpus: the build input
      Retrieval.writeBm25IndexVersioned(tf, d, BmBuckets)
      // build+delete is non-idempotent — as one cached build the pair
      // is all-or-nothing
      Retrieval.deleteFromBm25Index(spark, d,
        tf.filter(delDocPred).select(col("id")).distinct())
    }
    // index-derived seed queries (the q154 rationale): post-delete the
    // postings ARE the survivor corpus, so df/n_docs from the index equal
    // the survivor-tf derivation's exactly; the seeds (id < BmSeeds) are
    // never in the deleted set, so their rows are intact in the index
    Retrieval.bm25AgainstIndex(
      Retrieval.seedQueriesAgainstIndex(bm25Seeds(t), dir, BmQTerms),
      dir, BmTopK, BmK1, BmB, excludeSelf = true)
      .select(col("q_id").as("seed_id"), col("doc_id"), col("score"), col("rnk"))
  }

  // lazy: q152Sql is declared LATER in this file, and object vals
  // initialize in declaration order — an eager val here would read null
  // (the q171 PassLen lesson); by the time the oracles map (file end)
  // forces this, q152Sql is initialized
  private lazy val q172Sql = {
    // q152's corpus source filtered to the survivors; fail loudly if the
    // anchor is ever reworded (the q135/q170 anchor-replace discipline)
    val anchor = "FROM documents)"
    require(q152Sql.contains(anchor), "q172 oracle anchor missing from q152Sql")
    q152Sql.replace(anchor,
      s"FROM documents WHERE NOT (doc_id >= $BmSeeds AND doc_id % 10 = 6))")
  }

  // ===== q173 ANN-index row deletion =====================================
  // q172's vector sibling: versioned IVF build over the full corpus,
  // physical delete (Similarity.deleteFromIvfIndex — anti-join rewrite of
  // the inverted lists under the atomic epoch swap; centroids stay
  // frozen, deletion is not retraining), then probe. The deleted set
  // avoids the centroid id range (vec_id < IvfCells), so the frozen
  // quantizer equals the surviving corpus's training-free quantizer and
  // q44's from-scratch oracle over the survivors applies verbatim —
  // deleted vectors can never appear in any result BY the hash match.

  private def q173(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    // QueryMod multiples are never ≡6 (mod 10), so no query is deleted
    val delPred = col("vec_id") >= IvfCells && col("vec_id") % 10 === 6
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = RunCache.dir(t.dir, s"ivf_del_$IvfCells") { d =>
      Similarity.writeIvfIndexVersioned(e, d, IvfCells)
      Similarity.deleteFromIvfIndex(e.sparkSession, d,
        e.filter(delPred).select(col("vec_id")))
    }
    Similarity.ivfTopKAgainstIndex(queries, dir, IvfProbe, TopK)
  }

  private lazy val q173Sql = { // lazy for the q172Sql reason (order safety)
    val anchor = "FROM embeddings)"
    require(q44Sql.contains(anchor), "q173 oracle anchor missing from q44Sql")
    q44Sql.replace(anchor,
      s"FROM embeddings WHERE NOT (vec_id >= $IvfCells AND vec_id % 10 = 6))")
  }

  // ===== q174 hashed linear quality classifier ===========================
  // fastText/CCNet-style quality filtering at SERVING time (the GPT-3
  // quality filter's model family): hashing-trick unigram+bigram
  // features into a 512-dim weight vector, score = bias + Σ w[h(f)],
  // keep = σ(score) ≥ 0.5. The weight vector is the model artifact and
  // rides as expression data; here it is GENERATED deterministically
  // from the engine-neutral md5 hash so the oracle reproduces every
  // weight inline — a trained model plugs into the same operator
  // unchanged. Scoring is a pure narrow map (two sequential folds over
  // the token array): no explode, no vocab join, no shuffle.

  private val ClsDim = 512
  private val ClsThresh = 0.5

  /** First 7 md5 hex chars as a long — the Scala twin of
    * Dedup.SharedHash.hash28 for driver-side weight generation.
    */
  private def md5hex7(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"$b%02x").mkString.take(7), 16)
  }

  private lazy val clsWeights: Array[Double] = Array.tabulate(ClsDim)(i =>
    ((md5hex7(i.toString) % 2001) - 1000).toDouble / 1000.0)

  private def q174(t: Tables): DataFrame =
    TextOps.hashedLinearScore(graft.Fanout(t.documents), col("doc_id"),
      col("text"), clsWeights, 0.0, ClsThresh)

  private lazy val q174Sql = {
    def wSql(f: String) = {
      val idx = s"(${Dedup.SharedHash.hash28Sql(f)} % $ClsDim)"
      s"((${Dedup.SharedHash.hash28Sql(s"CAST($idx AS VARCHAR)")} % 2001) - 1000)/1000.0"
    }
    def fold(items: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform($items, x -> ${wSql("x")})), (a, b) -> a + b)""".stripMargin
    s"""WITH w0 AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |d AS (SELECT id, ws, len(ws) AS n FROM w0 WHERE len(ws) > 0),
       |u AS (SELECT id, n, ${fold("ws")} AS us,
       |  ${fold(s"list_transform(generate_series(1, n - 1), i -> ws[i] || ' ' || ws[i+1])")} AS bs
       |  FROM d),
       |s AS (SELECT id, CAST(n AS BIGINT) AS n_tokens,
       |        round(0.0 + us + bs, 4) AS score FROM u)
       |SELECT id, n_tokens, score,
       |  round(1.0/(1.0 + exp(-score)), 4) AS prob,
       |  (round(1.0/(1.0 + exp(-score)), 4) >= $ClsThresh) AS keep
       |FROM s""".stripMargin
  }

  // ===== q175 CCNet-style perplexity filter ==============================
  // The held-out-LM filtering stage (CCNet trains KenLM on Wikipedia and
  // buckets the crawl by perplexity): a word-bigram LM trained on the
  // doc_id ≡ 0 (mod 10) reference slice, pruned to a bounded vocabulary
  // + bigram table (top-k by (count desc, term) — a total order), scores
  // every ≥2-token document's interpolated cross-entropy; keep =
  // ppl ≤ threshold. Unlike q130 (char-bigram model fit on the corpus
  // itself), the model here is HELD OUT and bounded — the model-as-data
  // serving shape. Oracle replays training, pruning, smoothing and the
  // sorted per-doc fold with the identical arithmetic (λ and 1−λ are
  // interpolated from the same Scala doubles).

  private val LmMaxV = 2000
  private val LmMaxB = 4000
  private val LmLambda = 0.7
  private val LmPplThresh = 33.0 // splits the fixture ~half/half at sf0.01

  private def q175(t: Tables): DataFrame =
    TextOps.lmPerplexityFilter(graft.Fanout(t.documents), col("doc_id"),
      col("text"), col("doc_id") % 10 === 0, LmMaxV, LmMaxB, LmLambda,
      LmPplThresh)

  private val q175Sql =
    s"""WITH w0 AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |d AS (SELECT id, ws FROM w0 WHERE len(ws) >= 2),
       |ru AS (SELECT w, count(*) AS uc FROM (
       |    SELECT unnest(ws) AS w FROM d WHERE id % 10 = 0) GROUP BY 1),
       |voc AS (SELECT w, uc FROM ru ORDER BY uc DESC, w LIMIT $LmMaxV),
       |vst AS (SELECT CAST(sum(uc) AS BIGINT) AS tt,
       |               CAST(count(*) AS BIGINT) AS nv FROM voc),
       |ap AS (SELECT id, ws[i] AS w1, ws[i+1] AS w2 FROM (
       |    SELECT id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM d)),
       |rb AS (SELECT w1, w2, count(*) AS bc FROM ap
       |       JOIN voc v1 ON ap.w1 = v1.w JOIN voc v2 ON ap.w2 = v2.w
       |       WHERE id % 10 = 0 GROUP BY 1, 2),
       |big AS (SELECT w1, w2, bc FROM rb ORDER BY bc DESC, w1, w2 LIMIT $LmMaxB),
       |dn AS (SELECT id, w1, w2, count(*) AS n FROM ap GROUP BY 1, 2, 3),
       |sc AS (SELECT dn.id, dn.w1, dn.w2, dn.n,
       |    ln($LmLambda * COALESCE(CAST(b.bc AS DOUBLE) / u1.uc, 0)
       |       + ${1.0 - LmLambda} * CAST(COALESCE(u2.uc, 0) + 1 AS DOUBLE)
       |         / CAST(tt + nv + 1 AS DOUBLE)) AS lp
       |  FROM dn
       |  LEFT JOIN big b ON dn.w1 = b.w1 AND dn.w2 = b.w2
       |  LEFT JOIN voc u1 ON dn.w1 = u1.w
       |  LEFT JOIN voc u2 ON dn.w2 = u2.w
       |  CROSS JOIN vst),
       |f AS (SELECT id, CAST(sum(n) AS BIGINT) AS m,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'w1': w1, 'w2': w2, 'v': n * lp})),
       |        x -> x.v)), (a, b) -> a + b) AS s
       |  FROM sc GROUP BY id),
       |g AS (SELECT id, m AS n_bigrams, round(-s / m, 4) AS h FROM f)
       |SELECT id, n_bigrams, h, round(exp(h), 4) AS ppl,
       |  (round(exp(h), 4) <= $LmPplThresh) AS keep FROM g""".stripMargin

  // ===== q176 stored-LM-model scoring ====================================
  // q175's production form: the pruned model TRAINS ONCE into a parquet
  // artifact (vocab/ + grams/ — the stored BM25/IVF index discipline
  // applied to a model) and serving loads-and-broadcasts it.
  // Exact integer counts round-trip parquet losslessly, so
  // stored-and-scored must equal freshly-trained — q175's oracle applies
  // verbatim, which is exactly the model-integrity contract.

  private def q176(t: Tables): DataFrame = {
    val dir = lmModelDir(t)
    TextOps.lmScoreAgainstModel(graft.Fanout(t.documents), col("doc_id"),
      col("text"), dir, LmLambda, LmPplThresh)
  }

  // ===== q177 per-domain boilerplate removal =============================
  // The CCNet/RefinedWeb "strip the navigation soup" stage
  // (TextOps.boilerplateRemove): a segLen-token segment appearing in ≥
  // max(minDf, rate·|source docs|) DISTINCT documents of the SAME source
  // is template chrome and is removed from EVERY document of that source
  // (unlike q81's segment dedup, which keeps the first copy); docs
  // reassemble from surviving segments in order, reported as kept_md5.
  // One explode + one (source, seg) df aggregate + a BROADCAST join of
  // the bounded bp set (≤ segments-per-doc/rate per source by the df sum
  // bound) — plan-pinned. The oracle replays segmentation, the df rule
  // and the pos-ordered reassembly verbatim. At sf0.01: 21 bp segments,
  // 42 instances removed across 26 documents — non-trivial on the
  // fixture's cross-doc duplicated passages.

  private val BpSegLen = 4
  private val BpMinDf = 2
  private val BpRate = 0.05

  private def q177(t: Tables): DataFrame =
    TextOps.boilerplateRemove(graft.Fanout(t.documents), col("doc_id"),
      col("text"), col("source"), BpSegLen, BpMinDf, BpRate)

  private val q177Sql =
    s"""WITH w0 AS (SELECT doc_id AS id, source, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |b AS (SELECT id, source, ws FROM w0 WHERE len(ws) > 0),
       |segs AS (SELECT id, source, CAST(st AS BIGINT) AS pos,
       |    array_to_string(ws[st+1:st+$BpSegLen], ' ') AS seg
       |  FROM (SELECT id, source, ws,
       |          unnest(generate_series(0, len(ws)-1, $BpSegLen)) AS st
       |        FROM b)),
       |nd AS (SELECT source, count(DISTINCT id) AS nd FROM segs GROUP BY 1),
       |bp AS (SELECT source, seg FROM (
       |    SELECT source, seg, count(DISTINCT id) AS df
       |    FROM segs GROUP BY 1, 2) d
       |  JOIN nd USING (source)
       |  WHERE df >= $BpMinDf AND df >= $BpRate * nd),
       |m AS (SELECT s.id, s.pos, s.seg, (bp.seg IS NOT NULL) AS is_bp
       |      FROM segs s LEFT JOIN bp
       |        ON s.source = bp.source AND s.seg = bp.seg)
       |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       |  CAST(coalesce(sum(CASE WHEN is_bp THEN 1 END), 0) AS BIGINT)
       |    AS n_removed,
       |  md5(array_to_string(list_transform(list_sort(
       |    coalesce(list({'pos': pos, 'seg': seg}) FILTER (WHERE NOT is_bp),
       |      [])), x -> x.seg), ' ')) AS kept_md5
       |FROM m GROUP BY id""".stripMargin

  // ===== q178 dedup-index lifecycle (ingest + compact + delete) ==========
  // The stored DEDUP index gets the full lifecycle the BM25/IVF/PQ
  // families have (q166/q172/q167/q173): versioned build over part of the
  // existing corpus, replay-safe ingest of the rest, epoch compaction,
  // then PHYSICAL deletion of a victim set — the index stores text hashes
  // and shingle arrays, derived personal data under the same
  // right-to-be-forgotten obligation. The probe then runs q74's
  // incremental dedup of the new batch against the stored index; its
  // oracle is q74's SQL with the victims removed from the existing side
  // (band keys and shingles are per-document, so post-delete ≡
  // survivors-built EXACTLY — nothing cross-document to recount).

  private def q178(t: Tables): DataFrame = {
    val d = graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text")))
    val existing = d.filter(col("id") % 10 =!= 7)
    val spark = t.documents.sparkSession
    // build+ingest+compact+delete is non-idempotent as a sequence — as
    // one cached build it is all-or-nothing
    val dir = RunCache.dir(t.dir,
      s"corpus_lifecycle_3_${MinHashes}_$Bands") { dd =>
      Dedup.writeCorpusIndexVersioned(
        existing.filter(col("id") % 10 =!= 5), dd, 3, MinHashes, Bands)
      Dedup.ingestIntoCorpusIndex(
        existing.filter(col("id") % 10 === 5), dd, 1L, 3, MinHashes, Bands)
      Dedup.compactCorpusIndex(spark, dd)
      Dedup.deleteFromCorpusIndex(spark, dd,
        existing.filter(col("id") % 10 === 3).select(col("id")))
    }
    Dedup.dedupAgainstIndex(d.filter(col("id") % 10 === 7), dir,
      3, MinHashes, Bands, CorpusT)
      .select(col("id"))
  }

  // q74's oracle over the surviving existing corpus (id % 10 ∉ {7, 3});
  // lazy: q74Sql is declared later in the file (the q172Sql order-safety
  // lesson). Anchor-replace discipline: fail loudly on any rewording.
  private lazy val q178Sql = {
    val candAnchor = "WHERE x.id % 10 = 7 AND y.id % 10 <> 7"
    val exdAnchor = "ON md5(n.text) = md5(e.text) AND n.doc_id % 10 = 7 AND e.doc_id % 10 <> 7"
    require(q74Sql.contains(candAnchor) && q74Sql.contains(exdAnchor),
      "q178 oracle anchors missing from q74Sql")
    q74Sql
      .replace(candAnchor, candAnchor + " AND y.id % 10 <> 3")
      .replace(exdAnchor, exdAnchor + " AND e.doc_id % 10 <> 3")
  }

  // ===== q179 TRAINED hashed linear quality classifier ===================
  // q174's missing half: the weights there are generated; here they are
  // LEARNED — distributed full-batch logistic regression over the same
  // hashing-trick feature space (TextOps.trainHashedLinear: featurize
  // once, per-iteration gradient exchange bounded at dim+1 — the
  // centroidsKMeans cost discipline), stored as a model artifact (the
  // q176 pattern), and served through the unchanged q174 operator.
  // Gate-able BECAUSE the trainer is deterministic: residuals integerize
  // to round((p−y)·10⁴) before the gradient sum (exact integer sums,
  // order-free), per-doc scores fold sorted (j, count) pairs, weights
  // round to 4 dp — the oracle re-derives the weights from scratch with
  // ClsIters unrolled CTE rounds and must land on the identical model.
  // Label: the doc carries the generator's 'dup' marker token (25/500 at
  // sf0.01 — the seeded junk class); measured on this fixture the
  // trained model separates PERFECTLY at threshold 0.5 (25/25 positives
  // kept, 0/475 negatives; loss 0.693 → 0.046 monotone).

  private val ClsTrainDim = 512
  private val ClsIters = 20
  private val ClsLrNum = 1L // learning rate 1/2 as an exact rational —
  private val ClsLrDen = 2L // the integer weight update has no float in it

  private def q179(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val label = array_contains(split(lower(col("text")), """\s+"""), "dup")
    val dir = RunCache.dir(t.dir,
      s"cls_model_${ClsTrainDim}_${ClsIters}_${ClsLrNum}_$ClsLrDen") { d =>
      TextOps.writeLinearModel(spark,
        TextOps.trainHashedLinear(graft.Fanout(t.documents), col("doc_id"),
          col("text"), label.cast("int"), ClsTrainDim, ClsIters,
          ClsLrNum, ClsLrDen),
        d)
    }
    TextOps.hashedLinearScoreAgainstModel(graft.Fanout(t.documents),
      col("doc_id"), col("text"), dir, ClsThresh)
  }

  /** The trained-classifier oracle generator: unrolled ClsIters training
    * rounds over the docs matching `trainPred`, serving over the docs
    * matching `servePred`, finished by `finalSelect` (which sees CTE
    * `sc(id, n_tokens, score)` and `d0(id, y, ws)`). q179 trains and
    * serves on everything; q182 trains on the train split and reports the
    * held-out confusion matrix.
    */
  private def clsSql(trainPred: String, servePred: String,
      finalSelect: String): String = {
    val dim = ClsTrainDim
    def h(e: String) = Dedup.SharedHash.hash28Sql(e)
    // one training round: score (sorted fold over weights read as
    // wil/10⁴) → round-4 σ → integerized residual → exact-integer
    // gradient per j → half-up INTEGER-division weight update (weights
    // live as BIGINT ten-thousandths end to end — no float rounding grid)
    def iterCtes(i: Int): String =
      s"""s$i AS MATERIALIZED (SELECT fv.id, fv.y, fv.fs,
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(fv.fs, x -> (wil[x.j + 1] / 10000.0) * x.c)),
         |      (a, b) -> a + b), 4) AS s
         |  FROM fv CROSS JOIN w${i - 1}),
         |r$i AS MATERIALIZED (SELECT id, fs,
         |    CAST(round((round(1/(1 + exp(-s)), 4) - y) * 10000) AS BIGINT) AS ri
         |  FROM s$i),
         |g$i AS (SELECT u.x.j AS j, sum(r.ri * u.x.c) AS g
         |        FROM r$i r, unnest(r.fs) AS u(x) GROUP BY 1),
         |w$i AS MATERIALIZED (SELECT (
         |    SELECT list(t.wv - (CASE WHEN COALESCE(g.g, 0) >= 0
         |        THEN (2*$ClsLrNum*COALESCE(g.g, 0) + $ClsLrDen*COALESCE(nf.nj, 1))
         |               // (2*$ClsLrDen*COALESCE(nf.nj, 1))
         |        ELSE -((2*$ClsLrNum*(-COALESCE(g.g, 0)) + $ClsLrDen*COALESCE(nf.nj, 1))
         |               // (2*$ClsLrDen*COALESCE(nf.nj, 1))) END) ORDER BY t.j)
         |    FROM (SELECT jj AS j, wil[jj + 1] AS wv
         |          FROM w${i - 1}, generate_series(0, $dim) AS t0(jj)) t
         |    LEFT JOIN g$i g USING (j) LEFT JOIN nf USING (j)) AS wil)""".stripMargin
    // serving = q174's doc-order per-token fold, weights from w<ClsIters>
    def fold(items: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform($items, x -> wil[(${h("x")} % $dim) + 1] / 10000.0)),
         |      (a, b) -> a + b)""".stripMargin
    s"""WITH d0 AS (SELECT doc_id AS id,
       |    CASE WHEN list_contains(regexp_split_to_array(lower(text), '\\s+'),
       |      'dup') THEN 1 ELSE 0 END AS y,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM documents),
       |b AS MATERIALIZED (SELECT id, y, ws FROM d0
       |  WHERE len(ws) > 0 AND ($trainPred)),
       |f0 AS (SELECT id, y, unnest(ws) AS f FROM b
       |       UNION ALL
       |       SELECT id, y, ws[i] || ' ' || ws[i+1] AS f FROM (
       |         SELECT id, y, ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |         FROM b WHERE len(ws) >= 2)),
       |fc AS (SELECT id, y, ${h("f")} % $dim AS j, CAST(count(*) AS BIGINT) AS c
       |       FROM f0 GROUP BY 1, 2, 3),
       |fv AS MATERIALIZED (SELECT id, y,
       |    list_append(list_sort(list({'j': j, 'c': c})),
       |      {'j': CAST($dim AS BIGINT), 'c': CAST(1 AS BIGINT)}) AS fs
       |  FROM fc GROUP BY id, y),
       |nf AS MATERIALIZED (SELECT u.x.j AS j, CAST(sum(u.x.c) AS BIGINT) AS nj
       |  FROM fv, unnest(fv.fs) AS u(x) GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT list_transform(generate_series(0, $dim),
       |    x -> CAST(0 AS BIGINT)) AS wil),
       |${(1 to ClsIters).map(iterCtes).mkString(",\n")},
       |sv AS (SELECT id, y, ws FROM d0 WHERE len(ws) > 0 AND ($servePred)),
       |u AS (SELECT sv.id, len(sv.ws) AS n,
       |    ${fold("sv.ws")} AS us,
       |    CASE WHEN len(sv.ws) >= 2 THEN ${fold(
      "list_transform(generate_series(1, len(sv.ws) - 1), i -> sv.ws[i] || ' ' || sv.ws[i+1])")}
       |      ELSE CAST(0 AS DOUBLE) END AS bs,
       |    wil[$dim + 1] / 10000.0 AS bias
       |  FROM sv CROSS JOIN w$ClsIters),
       |sc AS (SELECT id, CAST(n AS BIGINT) AS n_tokens,
       |         round(bias + us + bs, 4) AS score FROM u)
       |$finalSelect""".stripMargin
  }

  private lazy val q179Sql = clsSql("TRUE", "TRUE",
    s"""SELECT id, n_tokens, score, round(1/(1 + exp(-score)), 4) AS prob,
       |  (round(1/(1 + exp(-score)), 4) >= $ClsThresh) AS keep FROM sc""".stripMargin)

  // ===== q181 stored BPE tokenizer artifact ===============================
  // The model-artifact pattern (q176 stored LM, q179 stored classifier)
  // applied to the TOKENIZER: q157 re-trains the merge table on every
  // call; production ships the merge list once and tokenizes forever.
  // Train → writeBpeModel (one tiny parquet) → loadBpeMerges →
  // tokenCounts. Strings round-trip parquet losslessly, so
  // stored-and-applied must equal freshly-trained: q157's oracle applies
  // VERBATIM — the tokenizer-integrity contract as a hash check.

  private def q181(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = RunCache.dir(t.dir, s"bpe_model_$BpeRounds") { d =>
      TextOps.writeBpeModel(
        TextOps.bpeMerges(graft.Fanout(t.documents), col("text"), BpeRounds,
          requireFull = true), d)
    }
    TextOps.tokenCounts(docPretokens(t, byteLevel = false),
      TextOps.Encoder.Bpe(TextOps.loadBpeMerges(spark, dir), byteLevel = false))
      .select(col("id").as("doc_id"), col("n_tokens"))
  }

  // ===== q182 held-out classifier evaluation ==============================
  // The train/eval closing of the q179 story — what a real filter
  // pipeline reports BEFORE deployment: train the hashed-linear model on
  // the doc_id % 3 ≠ 0 split ONLY, serve the held-out % 3 = 0 third, and
  // report the confusion matrix (label × keep counts). On this fixture
  // the row does exactly what an eval row exists to do: it CATCHES the
  // overfit — q179's in-sample fit is perfect, but the fixture's 31-token
  // shared vocabulary gives the sum-pooled linear model little
  // generalizable signal beyond the marker token, and the held-out
  // matrix says so (the spec shows the same protocol reporting full
  // generalization on a fixture where class signal actually transfers).
  // Oracle = the q179 chain with trainPred/servePred split and a
  // confusion-count tail — training leakage would hash-mismatch.

  private def q182(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val label = array_contains(split(lower(col("text")), """\s+"""), "dup")
    val dir = RunCache.dir(t.dir,
      s"cls_eval_model_${ClsTrainDim}_${ClsIters}_${ClsLrNum}_$ClsLrDen") { d =>
      TextOps.writeLinearModel(spark,
        TextOps.trainHashedLinear(
          graft.Fanout(t.documents.filter(col("doc_id") % 3 =!= 0)),
          col("doc_id"), col("text"), label.cast("int"),
          ClsTrainDim, ClsIters, ClsLrNum, ClsLrDen),
        d)
    }
    TextOps.hashedLinearScoreAgainstModel(
        graft.Fanout(t.documents.filter(col("doc_id") % 3 === 0)),
        col("doc_id"), col("text"), dir, ClsThresh)
      .join(t.documents.select(col("doc_id").as("id"),
        label.cast("long").as("label")), "id")
      .groupBy(col("label"), col("keep"))
      .agg(count(lit(1)).as("n_docs"))
  }

  private lazy val q182Sql = clsSql("id % 3 <> 0", "id % 3 = 0",
    s"""SELECT CAST(d0.y AS BIGINT) AS label,
       |  (round(1/(1 + exp(-score)), 4) >= $ClsThresh) AS keep,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM sc JOIN d0 USING (id) GROUP BY 1, 2""".stripMargin)

  // ===== q180 byte-level BPE vocabulary induction =========================
  // q156's production-boundary twin (TextOps.bpeMerges, byteLevel): GPT-2/
  // Llama-style byte-level training — regex pre-tokenization (letter
  // runs, digit runs, single punctuation) and a closed 256-symbol UTF-8
  // byte alphabet (hex pairs), so no string in any script can ever be
  // OOV. The merge loop is bpeMerges's own (shared code); the oracle is
  // q156's unrolled CTE chain with only wc0 swapped to the byte-level
  // symbolization — DuckDB's hex(varchar) IS Spark's hex-of-string
  // (uppercase hex of the UTF-8 bytes).

  private def q180(t: Tables): DataFrame =
    TextOps.bpeMerges(graft.Fanout(t.documents), col("text"),
      BpeRounds, requireFull = true, byteLevel = true)

  // lazy: bpeWc0ByteLevel/bpeCteChain are declared later in the file and
  // object vals initialize in declaration order (the q172Sql lesson)
  private lazy val q180Sql = {
    val sel = (1 to BpeRounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM p$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = false, bpeWc0ByteLevel)}
       |$sel""".stripMargin
  }

  // ===== q183 byte-level BPE tokenization =================================
  // q157's byte-level twin (q180's applier): per-doc token counts under
  // the byte-level vocabulary — distinct regex pre-tokens tokenize ONCE
  // through the native bpe_encode in byte mode (UTF-8 bytes → hex-pair
  // symbols → the same greedy fold), counts join back onto the exploded
  // corpus. The oracle extends q180's CTE chain through the final merge
  // application and sums per doc, exactly the q157 oracle shape.

  private def q183(t: Tables): DataFrame = {
    val merges = TextOps.bpeMerges(graft.Fanout(t.documents),
      col("text"), BpeRounds, requireFull = true, byteLevel = true)
      .orderBy(col("merge_round"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    TextOps.tokenCounts(docPretokens(t, byteLevel = true),
      TextOps.Encoder.Bpe(merges, byteLevel = true))
      .select(col("id").as("doc_id"), col("n_tokens"))
  }

  // lazy: bpeCteChain/bpeWc0ByteLevel are declared later (the q172Sql
  // order-safety lesson)
  private lazy val q183Sql =
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = true, bpeWc0ByteLevel)},
       |tok AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM wc$BpeRounds),
       |words AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text),
       |    '${TextOps.byteLevelTokenPattern}')) AS w FROM documents)
       |SELECT id AS doc_id, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM words JOIN tok USING (w) GROUP BY id""".stripMargin

  // ===== q184 DSIR importance-resampling selection =======================
  // Data Selection via Importance Resampling (Xie et al. 2023 — the
  // "make the crawl look like the target" stage DoReMi/DSIR pipelines
  // run before training): hashed unigram+bigram bag features (the q174
  // hashing trick, dim buckets of the engine-neutral md5 hash28), the
  // TARGET distribution estimated from the doc_id ≡ 0 (mod 10) slice
  // (q175's reference-slice convention), the RAW distribution from the
  // whole corpus, add-one smoothing over the buckets, per-doc weight =
  // the per-feature MEAN (1/n)·Σ n(f)·ln(p̂_t/p̂_r) (length-normalized —
  // the raw sum scales with doc length under bounded smoothing), keep =
  // top-quota by (w desc, id) — the deterministic top-k variant of the
  // paper's Gumbel resample, so the oracle replays the selection
  // bit-for-bit (sorted-bucket fold, round 4, threshold broadcast).

  private val DsirDim = 1024
  private val DsirQuota = 150

  private def q184(t: Tables): DataFrame =
    TextOps.dsirSelect(graft.Fanout(t.documents), col("doc_id"),
      col("text"), col("doc_id") % 10 === 0, DsirDim, DsirQuota)

  private val q184Sql =
    s"""WITH w0 AS (SELECT doc_id AS id, (doc_id % 10 = 0) AS is_t,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM documents),
       |d AS (SELECT id, is_t, ws FROM w0 WHERE len(ws) > 0),
       |f AS (SELECT id, is_t, unnest(ws || list_transform(
       |    range(2, len(ws) + 1), i -> ws[i - 1] || ' ' || ws[i])) AS ft
       |  FROM d),
       |fb AS (SELECT id, is_t,
       |    (${Dedup.SharedHash.hash28Sql("ft")} % $DsirDim) AS b FROM f),
       |bk AS (SELECT b,
       |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
       |               CAST(sum(cr) AS BIGINT) AS tr FROM bk),
       |lr AS (SELECT b, ln(((ct + 1.0) / (tt + $DsirDim))
       |                    / ((cr + 1.0) / (tr + $DsirDim))) AS lr
       |  FROM bk CROSS JOIN tot),
       |dn AS (SELECT id, b, count(*) AS n FROM fb GROUP BY 1, 2),
       |ds AS (SELECT id, CAST(sum(n) AS BIGINT) AS n_feats,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'b': b, 'v': n * lr})),
       |        x -> x.v)), (a, c) -> a + c)
       |      / CAST(sum(n) AS BIGINT), 4) AS w
       |  FROM dn JOIN lr USING (b) GROUP BY id),
       |th AS (SELECT w AS thw, id AS thid FROM (
       |    SELECT id, w FROM ds ORDER BY w DESC, id LIMIT $DsirQuota)
       |  ORDER BY w ASC, id DESC LIMIT 1)
       |SELECT id, n_feats, w,
       |  (w > thw OR (w = thw AND id <= thid)) AS keep
       |FROM ds CROSS JOIN th""".stripMargin

  // ===== q185 hard-negative mining =======================================
  // The DPR-style "BM25 hard negatives" stage of retrieval/contrastive
  // training-data prep, with the standard false-negative guard: per seed
  // query (q152's seed bags), candidates = BM25 top-(k+slack) excluding
  // self; any candidate whose 3-shingle Jaccard with the seed reaches
  // the near-dup threshold is dropped (a paraphrase of the answer is a
  // FALSE negative, the known failure mode of naive mining); survivors
  // re-rank to the top-k hard negatives. Oracle = the q152 BM25 chain
  // extended by the q31 shingle-Jaccard verification and the re-rank.
  // The seed set deliberately mixes two clean docs (0, 1) with two docs
  // whose near-copies live in the harness corpus (8 ↔ 245 and 70 ↔ 447
  // at J ≈ 0.99 at sf0.01), so BOTH paths of the false-negative guard —
  // pass-through and exclusion — execute ON the gate, not only in specs.

  private val HnSlack = 10
  private val HnJaccT = 0.3
  private val HnSeeds = Seq(0L, 1L, 8L, 70L)

  // lazy: BmSeeds/BmQTerms/BmTopK are declared later in this file (the
  // q172Sql order-safety lesson — an eager s-string would read them as 0)
  private def q185(t: Tables): DataFrame = {
    val tf = bigramTf(t).persistScoped() // feeds seed weights AND retrieval
    Retrieval.hardNegatives(tf,
      bm25SeedQueries(tf, col("id").isin(HnSeeds: _*)), shingledDocs(t)
        .select(col("id"), col("shingles").as("ss")),
      BmTopK, HnSlack, HnJaccT, BmK1, BmB)
      .select(col("q_id").as("seed_id"), col("doc_id"), col("score"),
        col("jaccard"), col("rnk"))
  }

  private lazy val q185Sql =
    s"""WITH ${bigramBm25Sql(s"\n  WHERE id IN (${HnSeeds.mkString(", ")})")},
       |cand AS (SELECT q_id, doc_id, score FROM (
       |    SELECT q_id, doc_id, score, row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id) AS r0 FROM agg)
       |  WHERE r0 <= ${BmTopK + HnSlack}),
       |$wordsCte,
       |sh AS (SELECT id, ${shinglesSql(3)} AS ss FROM w),
       |jv AS (SELECT cand.q_id, cand.doc_id, cand.score,
       |    len(list_intersect(a.ss, b.ss)) AS c,
       |    len(a.ss) AS na, len(b.ss) AS nb
       |  FROM cand JOIN sh a ON cand.q_id = a.id
       |            JOIN sh b ON cand.doc_id = b.id),
       |jj AS (SELECT q_id, doc_id, score,
       |    CASE WHEN na + nb - c > 0
       |      THEN round(CAST(c AS DOUBLE) / (na + nb - c), 4)
       |      ELSE 0.0 END AS jaccard
       |  FROM jv)
       |SELECT q_id AS seed_id, doc_id, score, jaccard, rnk FROM (
       |  SELECT q_id, doc_id, score, jaccard,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM jj WHERE jaccard < $HnJaccT)
       |WHERE rnk <= $BmTopK""".stripMargin

  // ===== q199 contrastive training-pair export ============================
  // q185's mining turned into the artifact a retrieval trainer reads:
  // one positive per seed (the seed document itself, label 1 / rank 0 —
  // the self-supervised setup) + its top-k hard negatives (label 0, at
  // their re-rank position). The positive can never collide with a
  // negative (candidate generation excludes self by construction).
  // Oracle = q185's full chain as a subquery + the positives union.

  private def q199(t: Tables): DataFrame = {
    val tf = bigramTf(t).persistScoped()
    Retrieval.trainingPairs(tf,
      bm25SeedQueries(tf, col("id").isin(HnSeeds: _*)),
      shingledDocs(t).select(col("id"), col("shingles").as("ss")),
      BmTopK, HnSlack, HnJaccT, BmK1, BmB)
  }

  // Positives mirror the ENGINE's derivation (one per distinct q_id that
  // bm25SeedQueries actually emitted), not the raw seed list: a seed doc
  // with <2 whitespace tokens produces no bigram terms, hence no query
  // rows and no positive — so the SQL filters seeds through the same
  // len(ws) >= 2 tokenization gate as the tf CTE. On current fixtures the
  // sets coincide; this keeps them coinciding if a degenerate seed ever
  // enters HnSeeds.
  private lazy val q199Sql =
    s"""SELECT seed_id, doc_id, CAST(0 AS BIGINT) AS label, rnk
       |FROM ($q185Sql)
       |UNION ALL
       |SELECT doc_id AS seed_id, doc_id, CAST(1 AS BIGINT) AS label,
       |  CAST(0 AS BIGINT) AS rnk
       |FROM documents WHERE doc_id IN (${HnSeeds.mkString(", ")})
       |  AND len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |        x -> len(x) > 0)) >= 2""".stripMargin

  // ===== q200 lexical JS-divergence map ===================================
  // q193's lexical sibling — the domain-drift diagnostic over TOKEN
  // space: pairwise Jensen-Shannon divergence between per-source unigram
  // distributions on a bounded support (global top-V terms + one OOV
  // bucket, add-one smoothed). All probabilities derive from exact
  // integer counts; the per-pair sum folds in sorted term order; the
  // OOV bucket is the empty-string term (fixed sort position, collision-
  // free — real tokens are non-empty). The oracle replays vocab pruning,
  // zero-filling, smoothing and the fold verbatim.

  private val JsVocab = 64

  private def q200(t: Tables): DataFrame =
    TextOps.unigramJsDivergence(graft.Fanout(t.documents), col("text"),
      col("source"), JsVocab)
      .select(col("g_a").as("source_a"), col("g_b").as("source_b"),
        col("jsd"))

  private val q200Sql =
    s"""WITH tk AS (SELECT source AS g, unnest(list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'),
       |    x -> len(x) > 0)) AS w FROM documents),
       |vc AS (SELECT w FROM (SELECT w, count(*) AS c FROM tk GROUP BY 1)
       |       ORDER BY c DESC, w LIMIT $JsVocab),
       |vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vc),
       |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1),
       |cnt AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
       |        FROM tk JOIN vc USING (w) GROUP BY 1, 2),
       |grid AS (SELECT t.g, v.w, coalesce(cnt.c, 0) AS c
       |         FROM tot t CROSS JOIN vc v
       |         LEFT JOIN cnt ON cnt.g = t.g AND cnt.w = v.w),
       |oov AS (SELECT grid.g, '' AS w,
       |          any_value(tot.n) - CAST(sum(grid.c) AS BIGINT) AS c
       |        FROM grid JOIN tot USING (g) GROUP BY grid.g),
       |cells AS (SELECT g, w,
       |    CAST(c + 1 AS DOUBLE) / CAST(n + v + 1 AS DOUBLE) AS p
       |  FROM (SELECT * FROM grid UNION ALL SELECT * FROM oov)
       |  JOIN tot USING (g) CROSS JOIN vn),
       |pr AS (SELECT a.g AS g_a, b.g AS g_b, a.w,
       |    0.5 * a.p * ln(2 * a.p / (a.p + b.p))
       |      + 0.5 * b.p * ln(2 * b.p / (a.p + b.p)) AS t
       |  FROM cells a JOIN cells b ON a.w = b.w AND a.g < b.g)
       |SELECT g_a AS source_a, g_b AS source_b,
       |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_sort(list({'w': w, 't': t})), x -> x.t)),
       |    (acc, v) -> acc + v), 4) AS jsd
       |FROM pr GROUP BY 1, 2""".stripMargin

  // ===== q201 content-defined chunking dedup ==============================
  // The insertion-robust dedup modality (FastCDC/LBFS at the token
  // level): chunk boundaries anchor to CONTENT (w-word window hash ≡ 0
  // mod m), so an edit near a doc's start re-synchronizes boundaries
  // right after it and every later chunk still matches — exactly what
  // q81's fixed-length segments cannot do (one inserted word shifts
  // every following segment). Per doc: chunk count, chunks owned by a
  // lower-id doc (the q81 first-owner election at chunk level), and the
  // duplicated fraction. Oracle replays boundary election, slicing and
  // ownership verbatim.

  private val CdcW = 3
  private val CdcM = 8

  private def q201(t: Tables): DataFrame =
    Dedup.cdcReport(Dedup.cdcChunks(graft.Fanout(t.documents), col("doc_id"),
      col("text"), CdcW, CdcM).persistScoped()) // feeds owners AND the report

  private val q201Sql =
    s"""WITH w0 AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'),
       |    x -> len(x) > 0) AS ws
       |  FROM documents),
       |w1 AS (SELECT id, ws FROM w0 WHERE len(ws) > 0),
       |bp AS (SELECT id, ws, [0] || CASE WHEN len(ws) - $CdcW >= 1 THEN
       |    list_filter(list_transform(generate_series(1, len(ws) - $CdcW),
       |      i -> CASE WHEN ${Dedup.SharedHash.hash28Sql(
      s"array_to_string(ws[i + 1 : i + $CdcW], ' ')")} % $CdcM = 0
       |        THEN i END),
       |      p -> p IS NOT NULL)
       |    ELSE [] END || [len(ws)] AS b
       |  FROM w1),
       |ch AS (SELECT id, t.k AS chunk_idx,
       |    array_to_string(ws[b[t.k + 1] + 1 : b[t.k + 2]], ' ') AS chunk
       |  FROM bp, unnest(generate_series(0, len(b) - 2)) AS t(k)),
       |own AS (SELECT md5(chunk) AS h, min(id) AS owner FROM ch GROUP BY 1)
       |SELECT ch.id AS doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN own.owner <> ch.id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dup_chunks,
       |  round(CAST(sum(CASE WHEN own.owner <> ch.id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 4) AS dup_frac
       |FROM ch JOIN own ON md5(ch.chunk) = own.h
       |GROUP BY 1""".stripMargin

  // ===== q202 real image pixel decode =====================================
  // The q45/q190 guarantee shape for the JDK image codecs: per document a
  // REAL image is synthesized from a pure-integer pixel formula, encoded
  // through a real ImageIO writer (PNG for even ids, BMP for odd — both
  // lossless JDK codecs exercise ON the gate), decoded back through
  // ImageIO.read, and reduced to exact-integer pixel features (dims, pixel
  // count, per-channel sums, peak ITU-601 luma numerator). The oracle never
  // decodes anything — it replays the generator formula over
  // generate_series — so ANY corruption in the encode→decode path breaks
  // the hash. Formula (id ≥ 0): w = 8 + id%24, h = 8 + (id/24)%24, pixel
  // (x, y) = ((id·31 + x·7 + y·13)%256, (id + x·y)%256, (x + 3y)%256).

  private def q202(t: Tables): DataFrame = {
    val withImg = Multimodal.withImageColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id")
    Multimodal.decodeImageFeatures(withImg, "media")
      .select(col("doc_id"), col("img_w"), col("img_h"), col("n_px"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("peak_lum"))
  }

  private val q202Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(8 + doc_id % 24 AS INTEGER) AS w,
      |    CAST(8 + (doc_id // 24) % 24 AS INTEGER) AS h
      |  FROM documents),
      |px AS (SELECT doc_id, w, h,
      |    (doc_id * 31 + tx.x * 7 + ty.y * 13) % 256 AS r,
      |    (doc_id + tx.x * ty.y) % 256 AS g,
      |    (tx.x + 3 * ty.y) % 256 AS b
      |  FROM d,
      |    unnest(generate_series(0, w - 1)) AS tx(x),
      |    unnest(generate_series(0, h - 1)) AS ty(y))
      |SELECT doc_id, w AS img_w, h AS img_h,
      |  CAST(w AS BIGINT) * h AS n_px,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(max(299 * r + 587 * g + 114 * b) AS BIGINT) AS peak_lum
      |FROM px GROUP BY doc_id, w, h""".stripMargin

  // ===== q220 real image resize (decode → nearest-neighbor → features) ===
  // The thumbnail/normalize stage of a multimodal pipeline made fully
  // oracle-replayable: q202's real codec payloads decode, resize to
  // 16×16 through the PURE-INTEGER nearest-neighbor map sx = ⌊x·w/16⌋
  // (never Graphics2D scaling — renderer-dependent), and the RESIZED
  // raster reduces to exact-integer features. Sources span 8..31 px per
  // side, so both up- and down-scaling run ON the gate. The oracle
  // evaluates the generator formula AT the mapped source coordinates —
  // decode, resize and reduction all sit inside the hash.

  private val ImgResizeTo = 16

  private def q220(t: Tables): DataFrame = {
    val withImg = Multimodal.withImageColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id")
    Multimodal.decodeImageFeatures(withImg, "media",
      resizeTo = Some((ImgResizeTo, ImgResizeTo)))
      .select(col("doc_id"), col("img_w"), col("img_h"), col("n_px"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("peak_lum"))
  }

  private val q220Sql =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(8 + doc_id % 24 AS INTEGER) AS w,
       |    CAST(8 + (doc_id // 24) % 24 AS INTEGER) AS h
       |  FROM documents),
       |px AS (SELECT doc_id,
       |    (doc_id * 31 + ((tx.x * w) // $ImgResizeTo) * 7
       |       + ((ty.y * h) // $ImgResizeTo) * 13) % 256 AS r,
       |    (doc_id + ((tx.x * w) // $ImgResizeTo)
       |       * ((ty.y * h) // $ImgResizeTo)) % 256 AS g,
       |    (((tx.x * w) // $ImgResizeTo)
       |       + 3 * ((ty.y * h) // $ImgResizeTo)) % 256 AS b
       |  FROM d,
       |    unnest(generate_series(0, $ImgResizeTo - 1)) AS tx(x),
       |    unnest(generate_series(0, $ImgResizeTo - 1)) AS ty(y))
       |SELECT doc_id,
       |  CAST($ImgResizeTo AS INTEGER) AS img_w,
       |  CAST($ImgResizeTo AS INTEGER) AS img_h,
       |  CAST(${ImgResizeTo * ImgResizeTo} AS BIGINT) AS n_px,
       |  CAST(sum(r) AS BIGINT) AS sum_r,
       |  CAST(sum(g) AS BIGINT) AS sum_g,
       |  CAST(sum(b) AS BIGINT) AS sum_b,
       |  CAST(max(299 * r + 587 * g + 114 * b) AS BIGINT) AS peak_lum
       |FROM px GROUP BY doc_id""".stripMargin

  // ===== q221 real video container parse + frame sampling ================
  // The third modality decodes for REAL: YUV4MPEG2 (y4m) is a plain-text
  // header + uncompressed 4:2:0 frames — the interchange container every
  // video toolchain emits — so container parsing (magic, W/H/F
  // parameters, every per-frame FRAME marker, exact plane-length
  // arithmetic) needs no codec library, exactly like WAV-PCM did for
  // audio. The gate synthesizes a clip per doc from a pure-integer pixel
  // formula, parses it back, samples every 2nd frame (the
  // keyframe-extraction shape) and reduces sampled Y planes to exact
  // integers; the oracle replays the formula over generate_series
  // without parsing anything — any container/indexing corruption breaks
  // the hash.

  private val VidSampleEvery = 2

  private def q221(t: Tables): DataFrame = {
    val withVid = Multimodal.withVideoColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id")
    Multimodal.decodeVideoFeatures(withVid, "media", VidSampleEvery)
      .select(col("doc_id"), col("vid_w"), col("vid_h"), col("n_frames"),
        col("n_sampled"), col("sum_y"), col("peak_y"))
  }

  private val q221Sql =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(4 + 2 * (doc_id % 6) AS INTEGER) AS w,
       |    CAST(4 + 2 * ((doc_id // 6) % 6) AS INTEGER) AS h,
       |    CAST(3 + doc_id % 5 AS INTEGER) AS nf
       |  FROM documents),
       |px AS (SELECT doc_id, w, h, nf, tf.f,
       |    (doc_id * 17 + tf.f * 29 + tx.x * 5 + ty.y * 11) % 256 AS yv
       |  FROM d,
       |    unnest(generate_series(0, nf - 1, $VidSampleEvery)) AS tf(f),
       |    unnest(generate_series(0, w - 1)) AS tx(x),
       |    unnest(generate_series(0, h - 1)) AS ty(y))
       |SELECT doc_id, w AS vid_w, h AS vid_h, nf AS n_frames,
       |  CAST(count(DISTINCT f) AS INTEGER) AS n_sampled,
       |  CAST(sum(yv) AS BIGINT) AS sum_y,
       |  CAST(max(yv) AS BIGINT) AS peak_y
       |FROM px GROUP BY doc_id, w, h, nf""".stripMargin

  // ===== q206 CDC chunks in the stored dedup-index lifecycle =============
  // q201's modality made STORED: the versioned dedup index
  // (q178's hashes/bands/shingles) grows a fourth `chunks/` view so
  // incremental ingestion can dedup insertion-edited documents against
  // PRIOR batches — content-anchored boundaries re-synchronize after an
  // edit where fixed segments all shift. The gate builds the index on
  // id%10≠5, ingests id%10=5 as batch 1, and reports duplicate chunks
  // straight off the stored view with cross-batch first-owner election;
  // chunking is per-document, so build+ingest ≡ the one-shot corpus run
  // and q201's oracle applies VERBATIM (the q197 linearity discipline).
  // Compact/delete parity for the fourth view is spec-pinned
  // (DedupSpec's lifecycle suite).

  private def q206(t: Tables): DataFrame = {
    val d = graft.Fanout(t.documents.select(col("doc_id").as("id"),
      col("text")))
    val spark = t.documents.sparkSession
    val dir = RunCache.dir(t.dir,
      s"cdc_lifecycle_${CdcW}_$CdcM") { dd =>
      Dedup.writeCorpusIndexVersioned(d.filter(col("id") % 10 =!= 5), dd,
        3, MinHashes, Bands, CdcW, CdcM)
      Dedup.ingestIntoCorpusIndex(d.filter(col("id") % 10 === 5), dd, 1L,
        3, MinHashes, Bands, CdcW, CdcM)
    }
    Dedup.cdcReportFromIndex(spark, dir)
  }

  // ===== q203/q204/q205 unigram-LM tokenizer (SentencePiece family) ======
  // The missing member of the tokenizer family next to BPE (q156/q180):
  // hard-EM unigram-LM induction (Unigram.trainPieces) with INTEGERIZED
  // micro-log-prob scores so the Viterbi DP compares only exact integers —
  // the q179 discipline — and the oracle unrolls the EM rounds as CTEs
  // (the q156 pattern) with the DP itself as a list_reduce fold whose
  // per-position candidates, tie-breaks (score DESC, fewer pieces, UTF-8
  // lexicographic token list) and unk floor replay the engine recurrence
  // verbatim. q203 gates the trainer output, q204 the stored artifact's
  // serving tokenization (q181's contract), q205 the BPE-vs-unigram
  // fertility comparison (q196's shape).

  private val UniSeedTopK = 300
  private val UniRounds = 2

  /** One unigram EM round as oracle CTEs: candidates (ucr) → per-word
    * Viterbi via list_reduce (utk) → usage counts (uc) → pruned+floored
    * vocab (uv) → integerized scores (us). `applyOnly` emits just the
    * candidate+tokenize pair (the serving round, no M-step).
    *
    * DP encoding note: the fold's accumulator AND elements are ONE flat
    * LIST(STRUCT(ns, np, toks, l, s, p)) — acc rows use the first three
    * fields (positions 0..i-1 bests), element rows the last three (the
    * candidates ending at position i). DuckDB 1.0's list_reduce
    * mis-evaluates a STRUCT-typed accumulator whose fields grow lists
    * (measured: the bests list collapsed to its final element), so the
    * natural {cs, bests} struct shape is out; a plain list-of-structs
    * accumulator folds correctly. Field order (ns, np, toks first) IS the
    * Viterbi comparator: list_sort ascending = max score (ns = −score),
    * fewer pieces, UTF-8-lexicographic token list.
    */
  private def uniRoundCtes(r: Int, applyOnly: Boolean): String = {
    val dp =
      s"""ucr$r AS (SELECT q.w, q.n, q.i, q.l, q.p,
         |    CASE WHEN q.l = 1 THEN coalesce(sc.s, ${Unigram.UnkScoreMicro})
         |         ELSE sc.s END AS s
         |  FROM (SELECT uw.w, uw.n, ti.i, tl.l,
         |      uw.w[ti.i - tl.l + 1 : ti.i] AS p
         |    FROM uw, unnest(generate_series(1, len(uw.w))) AS ti(i),
         |         unnest(generate_series(1, least(${Unigram.MaxPieceLen}, ti.i))) AS tl(l)) q
         |  LEFT JOIN us${r - 1} sc ON sc.piece = q.p
         |  WHERE q.l = 1 OR sc.s IS NOT NULL),
         |utk$r AS MATERIALIZED (SELECT w, n,
         |    (list_reduce(list_prepend(
         |       [{'ns': CAST(0 AS BIGINT), 'np': CAST(0 AS BIGINT),
         |         'toks': CAST([] AS VARCHAR[]), 'l': CAST(0 AS BIGINT),
         |         's': CAST(0 AS BIGINT), 'p': ''}],
         |       list_transform(cands, cl -> list_transform(cl,
         |         c -> {'ns': CAST(0 AS BIGINT), 'np': CAST(0 AS BIGINT),
         |               'toks': CAST([] AS VARCHAR[]),
         |               'l': c.l, 's': c.s, 'p': c.p}))),
         |     (acc, x) -> list_append(acc, (list_sort(list_transform(x,
         |         c -> {'ns': acc[len(acc) - c.l + 1].ns - c.s,
         |               'np': acc[len(acc) - c.l + 1].np + 1,
         |               'toks': list_append(acc[len(acc) - c.l + 1].toks, c.p),
         |               'l': c.l, 's': c.s, 'p': c.p})))[1])
         |    ))[-1].toks AS toks
         |  FROM (SELECT w, n,
         |      list_transform(list_sort(list({'i': i, 'cs': cs})), e -> e.cs) AS cands
         |    FROM (SELECT w, n, i, list_sort(list({'l': l, 's': s, 'p': p})) AS cs
         |          FROM ucr$r GROUP BY w, n, i)
         |    GROUP BY w, n))""".stripMargin
    if (applyOnly) dp
    else
      s"""$dp,
         |uc$r AS (SELECT t.p AS piece, CAST(sum(n) AS BIGINT) AS c
         |  FROM utk$r, unnest(toks) AS t(p) GROUP BY 1),
         |uv$r AS MATERIALIZED (
         |  SELECT piece, c FROM uc$r
         |  UNION ALL
         |  SELECT v.piece, CAST(1 AS BIGINT) AS c FROM uv${r - 1} v
         |  WHERE len(v.piece) = 1 AND v.piece NOT IN (SELECT piece FROM uc$r)),
         |us$r AS (SELECT piece, c,
         |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)
         |    - (SELECT CAST(round(ln(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT)
         |       FROM uv$r) AS s
         |  FROM uv$r)""".stripMargin
  }

  /** The whitespace word-table CTE body (q203/q204/q205's boundary). */
  private val uniUwWs =
    """SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> len(x) > 0)) AS w FROM documents""".stripMargin

  /** The BYTE-LEVEL word-table CTE body (q210's boundary): regex
    * pre-tokens re-expressed one code point per UTF-8 byte — the exact
    * SQL twin of [[graft.operators.Unigram.byteChars]]' map.
    */
  private lazy val uniUwByte =
    s"""SELECT array_to_string(list_transform(
       |        generate_series(1, len(hex(w0)) // 2),
       |        i -> chr(CAST('0x' || hex(w0)[2*i-1 : 2*i] AS INT))), '') AS w
       |      FROM (SELECT unnest(regexp_extract_all(lower(text),
       |        '${TextOps.byteLevelTokenPattern}')) AS w0 FROM documents)""".stripMargin

  /** The unigram trainer's oracle chain: word table → seed counts →
    * top-K ∪ single-char seed vocab → `rounds` EM rounds; `applyFinal`
    * appends a serving tokenization round (utk{rounds+1}) under the final
    * scores — q157's applier convention. `uwBody` picks the word boundary
    * (whitespace default; byte-level for q210).
    */
  private def uniCteChain(rounds: Int, applyFinal: Boolean,
      uwBody: String = uniUwWs): String = {
    val head =
      s"""uw AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
         |    $uwBody) GROUP BY w),
         |usub AS (SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
         |    SELECT uw.n, uw.w[ti.i - tl.l + 1 : ti.i] AS piece
         |    FROM uw, unnest(generate_series(1, len(uw.w))) AS ti(i),
         |         unnest(generate_series(1, least(${Unigram.MaxPieceLen}, ti.i))) AS tl(l))
         |  GROUP BY piece),
         |uv0 AS MATERIALIZED (SELECT piece, c FROM (
         |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS r
         |    FROM usub)
         |  WHERE r <= $UniSeedTopK OR len(piece) = 1),
         |us0 AS (SELECT piece, c,
         |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)
         |    - (SELECT CAST(round(ln(CAST(sum(c) AS DOUBLE)) * 1000000) AS BIGINT)
         |       FROM uv0) AS s
         |  FROM uv0)""".stripMargin
    val body = (1 to rounds).map(r => uniRoundCtes(r, applyOnly = false))
    val tail = if (applyFinal) Seq(uniRoundCtes(rounds + 1, applyOnly = true))
      else Seq.empty
    (Seq(head) ++ body ++ tail).mkString(",\n")
  }

  private def q203(t: Tables): DataFrame =
    Unigram.train(graft.Fanout(t.documents), col("text"), UniSeedTopK,
      UniRounds)

  private lazy val q203Sql =
    s"""WITH ${uniCteChain(UniRounds, applyFinal = false)}
       |SELECT piece, c AS cnt, s AS score_micro FROM us$UniRounds""".stripMargin

  // ===== q210 BYTE-LEVEL unigram induction ================================
  // The production tokenizer boundary for the unigram family (q203 is
  // word-level, as q156 is for BPE): regex pre-tokens re-expressed one
  // code point per UTF-8 byte (byte b → U+b — the GPT-2 byte-to-unicode
  // idea with the identity map), so the SAME integer Viterbi DP runs over
  // a closed 256-symbol alphabet, multi-byte characters split into their
  // bytes, and no OOV symbol can exist. Oracle = q203's chain over the
  // byte-level word CTE; byte-splitting and map inversion spec-pinned.

  private def q210(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    Unigram.trainPiecesFrom(
      Unigram.wordTable(graft.Fanout(t.documents), col("text"),
        byteLevel = true),
      UniSeedTopK, UniRounds)
      .map(p => (p.piece, p.cnt, p.scoreMicro))
      .toDF("piece", "cnt", "score_micro")
  }

  private lazy val q210Sql =
    s"""WITH ${uniCteChain(UniRounds, applyFinal = false, uniUwByte)}
       |SELECT piece, c AS cnt, s AS score_micro FROM us$UniRounds""".stripMargin

  // ===== q211 Kneser-Ney perplexity filter ================================
  // The PRODUCTION smoothing for the CCNet stage (KenLM's interpolated
  // Kneser-Ney — q175's add-one interpolation is the teaching form):
  // absolute discounting (D = 3/4, exact in binary) with per-context
  // interpolation weight D·N1+(w1·)/c(w1·), and the fallback is the
  // CONTINUATION probability N1+(·w2) (distinct predecessors), not the
  // unigram count — the "Francisco" effect. Every model ingredient is an
  // exact integer derived from the PRUNED bigram table; the per-pair
  // probability is a fixed IEEE expression tree written identically here
  // and in the engine; per-doc sum via the q119 sorted fold. Same
  // training slice / pruning / corpus plumbing as q175, so the two rows
  // differ ONLY in smoothing — an auditable substitution.

  private val KnPplThresh = 35.5 // splits the fixture ~half/half at sf0.01

  private def q211(t: Tables): DataFrame =
    TextOps.knPerplexityFilter(graft.Fanout(t.documents), col("doc_id"),
      col("text"), col("doc_id") % 10 === 0, 2, LmMaxV, LmMaxB, KnPplThresh)

  private val q211Sql =
    s"""WITH w0 AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |d AS (SELECT id, ws FROM w0 WHERE len(ws) >= 2),
       |ru AS (SELECT w, count(*) AS uc FROM (
       |    SELECT unnest(ws) AS w FROM d WHERE id % 10 = 0) GROUP BY 1),
       |voc AS (SELECT w, uc FROM ru ORDER BY uc DESC, w LIMIT $LmMaxV),
       |ap AS (SELECT id, ws[i] AS w1, ws[i+1] AS w2 FROM (
       |    SELECT id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM d)),
       |rb AS (SELECT w1, w2, count(*) AS bc FROM ap
       |       JOIN voc v1 ON ap.w1 = v1.w JOIN voc v2 ON ap.w2 = v2.w
       |       WHERE id % 10 = 0 GROUP BY 1, 2),
       |big AS (SELECT w1, w2, bc FROM rb ORDER BY bc DESC, w1, w2 LIMIT $LmMaxB),
       |ctx AS (SELECT w1, CAST(sum(bc) AS BIGINT) AS c1b,
       |               CAST(count(*) AS BIGINT) AS n1f FROM big GROUP BY 1),
       |cw AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncw FROM big GROUP BY 1),
       |tot AS (SELECT CAST((SELECT count(*) FROM big) AS BIGINT) AS ntot,
       |               CAST((SELECT count(*) FROM voc) AS BIGINT) AS nv),
       |dn AS (SELECT id, w1, w2, count(*) AS n FROM ap GROUP BY 1, 2, 3),
       |sc AS (SELECT dn.id, dn.w1, dn.w2, dn.n,
       |    ln(CASE WHEN c.c1b IS NOT NULL THEN
       |        CAST(greatest(4 * COALESCE(b.bc, 0) - 3, 0) AS DOUBLE)
       |          / CAST(4 * c.c1b AS DOUBLE)
       |        + CAST(3 * c.n1f AS DOUBLE) / CAST(4 * c.c1b AS DOUBLE)
       |          * (CAST(COALESCE(p.ncw, 0) + 1 AS DOUBLE)
       |             / CAST(ntot + nv + 1 AS DOUBLE))
       |      ELSE CAST(COALESCE(p.ncw, 0) + 1 AS DOUBLE)
       |           / CAST(ntot + nv + 1 AS DOUBLE) END) AS lp
       |  FROM dn
       |  LEFT JOIN big b ON dn.w1 = b.w1 AND dn.w2 = b.w2
       |  LEFT JOIN ctx c ON dn.w1 = c.w1
       |  LEFT JOIN cw p ON dn.w2 = p.w2
       |  CROSS JOIN tot),
       |f AS (SELECT id, CAST(sum(n) AS BIGINT) AS m,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'w1': w1, 'w2': w2, 'v': n * lp})),
       |        x -> x.v)), (a, b) -> a + b) AS s
       |  FROM sc GROUP BY id),
       |g AS (SELECT id, m AS n_bigrams, round(-s / m, 4) AS h FROM f)
       |SELECT id, n_bigrams, h, round(exp(h), 4) AS ppl,
       |  (round(exp(h), 4) <= $KnPplThresh) AS keep FROM g""".stripMargin

  // ===== q212 stored-model Kneser-Ney scoring =============================
  // The KN model IS q176's stored artifact — the same vocab/ + grams/
  // parquet pair (discount statistics derive from the pruned tables at
  // load, exact integers, so stored ≡ fresh BY CONSTRUCTION) — proving
  // one artifact serves both smoothings; this row deliberately reuses
  // q176's cached build. Oracle = q211's verbatim: the model-integrity
  // contract on the KN serving path.

  private def q212(t: Tables): DataFrame = {
    val dir = lmModelDir(t)
    TextOps.knScoreAgainstModel(graft.Fanout(t.documents), col("doc_id"),
      col("text"), dir, KnPplThresh)
  }

  // ===== q246/q247 TRIGRAM Kneser-Ney + stored serving ====================
  // q211's exact-integer discount machinery generalized to interpolated
  // ORDER 3 — KenLM's actual shape (production is 5-gram; order 3
  // exercises the full recursion): raw counts at the trigram order,
  // CONTINUATION type-counts at the bigram order (N1+(·w2w3), the
  // Kneser-Ney insight applied recursively), add-one continuation
  // unigram at the bottom. D = 3/4 exact; every branch is the same
  // IEEE expression tree in both engines; per-doc sum is the q119
  // sorted fold over (w1, w2, w3) terms. Same training slice / pruning
  // discipline as q211 so the two rows differ ONLY in model order —
  // an auditable substitution. q247 serves the same scores from the
  // stored vocab/ + grams/ artifact (writeLmModel at order 3 — q176's
  // layout one order up); oracle = q246's verbatim.

  private val Lm3MaxT = 6000
  private val Kn3PplThresh = 30.0

  private def q246(t: Tables): DataFrame =
    TextOps.knPerplexityFilter(graft.Fanout(t.documents), col("doc_id"),
      col("text"), col("doc_id") % 10 === 0, 3, LmMaxV, Lm3MaxT, Kn3PplThresh)

  private val q246Sql =
    s"""WITH w0 AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |d AS (SELECT id, ws FROM w0 WHERE len(ws) >= 3),
       |ru AS (SELECT w, count(*) AS uc FROM (
       |    SELECT unnest(ws) AS w FROM d WHERE id % 10 = 0) GROUP BY 1),
       |voc AS (SELECT w, uc FROM ru ORDER BY uc DESC, w LIMIT $LmMaxV),
       |ap AS (SELECT id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3 FROM (
       |    SELECT id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM d)),
       |rt AS (SELECT w1, w2, w3, count(*) AS tc FROM ap
       |       JOIN voc v1 ON ap.w1 = v1.w JOIN voc v2 ON ap.w2 = v2.w
       |       JOIN voc v3 ON ap.w3 = v3.w
       |       WHERE id % 10 = 0 GROUP BY 1, 2, 3),
       |tri AS (SELECT w1, w2, w3, tc FROM rt
       |        ORDER BY tc DESC, w1, w2, w3 LIMIT $Lm3MaxT),
       |ctx3 AS (SELECT w1, w2, CAST(sum(tc) AS BIGINT) AS c12b,
       |               CAST(count(*) AS BIGINT) AS n1f12 FROM tri GROUP BY 1, 2),
       |mid AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n23
       |        FROM tri GROUP BY 1, 2),
       |ctx2 AS (SELECT w2, CAST(sum(n23) AS BIGINT) AS n2b,
       |               CAST(count(*) AS BIGINT) AS nd2 FROM mid GROUP BY 1),
       |cw AS (SELECT w3, CAST(count(*) AS BIGINT) AS ncw3 FROM mid GROUP BY 1),
       |tot AS (SELECT CAST((SELECT count(*) FROM mid) AS BIGINT) AS ntot,
       |               CAST((SELECT count(*) FROM voc) AS BIGINT) AS nv),
       |dn AS (SELECT id, w1, w2, w3, count(*) AS n FROM ap GROUP BY 1, 2, 3, 4),
       |sc AS (SELECT dn.id, dn.w1, dn.w2, dn.w3, dn.n,
       |    ln(CASE WHEN c3.c12b IS NOT NULL THEN
       |        CAST(greatest(4 * COALESCE(b.tc, 0) - 3, 0) AS DOUBLE)
       |          / CAST(4 * c3.c12b AS DOUBLE)
       |        + CAST(3 * c3.n1f12 AS DOUBLE) / CAST(4 * c3.c12b AS DOUBLE)
       |          * (CASE WHEN c2.n2b IS NOT NULL THEN
       |              CAST(greatest(4 * COALESCE(m.n23, 0) - 3, 0) AS DOUBLE)
       |                / CAST(4 * c2.n2b AS DOUBLE)
       |              + CAST(3 * c2.nd2 AS DOUBLE) / CAST(4 * c2.n2b AS DOUBLE)
       |                * (CAST(COALESCE(p.ncw3, 0) + 1 AS DOUBLE)
       |                   / CAST(ntot + nv + 1 AS DOUBLE))
       |            ELSE CAST(COALESCE(p.ncw3, 0) + 1 AS DOUBLE)
       |                 / CAST(ntot + nv + 1 AS DOUBLE) END)
       |      ELSE (CASE WHEN c2.n2b IS NOT NULL THEN
       |              CAST(greatest(4 * COALESCE(m.n23, 0) - 3, 0) AS DOUBLE)
       |                / CAST(4 * c2.n2b AS DOUBLE)
       |              + CAST(3 * c2.nd2 AS DOUBLE) / CAST(4 * c2.n2b AS DOUBLE)
       |                * (CAST(COALESCE(p.ncw3, 0) + 1 AS DOUBLE)
       |                   / CAST(ntot + nv + 1 AS DOUBLE))
       |            ELSE CAST(COALESCE(p.ncw3, 0) + 1 AS DOUBLE)
       |                 / CAST(ntot + nv + 1 AS DOUBLE) END) END) AS lp
       |  FROM dn
       |  LEFT JOIN tri b ON dn.w1 = b.w1 AND dn.w2 = b.w2 AND dn.w3 = b.w3
       |  LEFT JOIN ctx3 c3 ON dn.w1 = c3.w1 AND dn.w2 = c3.w2
       |  LEFT JOIN mid m ON dn.w2 = m.w2 AND dn.w3 = m.w3
       |  LEFT JOIN ctx2 c2 ON dn.w2 = c2.w2
       |  LEFT JOIN cw p ON dn.w3 = p.w3
       |  CROSS JOIN tot),
       |f AS (SELECT id, CAST(sum(n) AS BIGINT) AS m,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list(
       |        {'w1': w1, 'w2': w2, 'w3': w3, 'v': n * lp})),
       |        x -> x.v)), (a, b) -> a + b) AS s
       |  FROM sc GROUP BY id),
       |g AS (SELECT id, m AS n_trigrams, round(-s / m, 4) AS h FROM f)
       |SELECT id, n_trigrams, h, round(exp(h), 4) AS ppl,
       |  (round(exp(h), 4) <= $Kn3PplThresh) AS keep FROM g""".stripMargin

  private def q247(t: Tables): DataFrame = {
    val dir = RunCache.dir(t.dir, s"lm3_model_${LmMaxV}_$Lm3MaxT") { d =>
      TextOps.writeLmModel(
        graft.Fanout(t.documents.filter(col("doc_id") % 10 === 0)),
        col("doc_id"), col("text"), 3, LmMaxV, Lm3MaxT, d)
    }
    TextOps.knScoreAgainstModel(graft.Fanout(t.documents), col("doc_id"),
      col("text"), dir, Kn3PplThresh)
  }

  // ===== q254/q255 5-GRAM Kneser-Ney at production order ==================
  // q246's machinery at the order KenLM/CCNet production filters ship:
  // raw counts at the 5-gram order, continuation TYPE counts derived
  // recursively at orders 4→3→2 (each level the distinct-context count
  // of the level above), add-one continuation unigram at the bottom.
  // Same training slice / pruning / D = 3/4 exact-integer discipline as
  // q246, so the three rows q211 → q246 → q254 differ ONLY in model
  // order — an auditable ladder. The oracle's nested backoff CASE is
  // GENERATED by the same recursion the engine computes, one level per
  // call. q255 serves from the stored vocab/ + grams/ artifact
  // (writeLmModel at order 5); oracle = q254's verbatim (stored ≡ fresh).

  private val Lm5MaxT = 8000
  private val Kn5PplThresh = 30.0

  private def q254(t: Tables): DataFrame =
    TextOps.knPerplexityFilter(graft.Fanout(t.documents), col("doc_id"),
      col("text"), col("doc_id") % 10 === 0, 5, LmMaxV, Lm5MaxT, Kn5PplThresh)

  private def q255(t: Tables): DataFrame = {
    val dir = RunCache.dir(t.dir, s"lm5_model_${LmMaxV}_$Lm5MaxT") { d =>
      TextOps.writeLmModel(
        graft.Fanout(t.documents.filter(col("doc_id") % 10 === 0)),
        col("doc_id"), col("text"), 5, LmMaxV, Lm5MaxT, d)
    }
    TextOps.knScoreAgainstModel(graft.Fanout(t.documents), col("doc_id"),
      col("text"), dir, Kn5PplThresh)
  }

  private lazy val q254Sql = {
    // the interpolated-KN backoff ladder, generated level by level —
    // level 1 is the add-one continuation unigram; level k discounts
    // its continuation count and interpolates level k-1
    def pc(level: Int): String = level match {
      case 1 =>
        "CAST(COALESCE(p.ncw5, 0) + 1 AS DOUBLE) / CAST(ntot + nv + 1 AS DOUBLE)"
      case k =>
        val (m, n, cx, nb, nd) = k match {
          case 2 => ("m2", "n2", "c2", "n2b", "nd2")
          case 3 => ("m3", "n3", "c3", "n3b", "nd3")
          case _ => ("m4", "n4", "c4", "n4b", "nd4")
        }
        s"""(CASE WHEN $cx.$nb IS NOT NULL THEN
           |      CAST(greatest(4 * COALESCE($m.$n, 0) - 3, 0) AS DOUBLE)
           |        / CAST(4 * $cx.$nb AS DOUBLE)
           |      + CAST(3 * $cx.$nd AS DOUBLE) / CAST(4 * $cx.$nb AS DOUBLE)
           |        * ${pc(k - 1)}
           |      ELSE ${pc(k - 1)} END)""".stripMargin
    }
    val top =
      s"""CASE WHEN c5.cb5 IS NOT NULL THEN
         |      CAST(greatest(4 * COALESCE(b.c, 0) - 3, 0) AS DOUBLE)
         |        / CAST(4 * c5.cb5 AS DOUBLE)
         |      + CAST(3 * c5.nf5 AS DOUBLE) / CAST(4 * c5.cb5 AS DOUBLE)
         |        * ${pc(4)}
         |      ELSE ${pc(4)} END""".stripMargin
    val ws15 = (1 to 5).map(k => s"w$k").mkString(", ")
    s"""WITH w0 AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |d AS (SELECT id, ws FROM w0 WHERE len(ws) >= 5),
       |ru AS (SELECT w, count(*) AS uc FROM (
       |    SELECT unnest(ws) AS w FROM d WHERE id % 10 = 0) GROUP BY 1),
       |voc AS (SELECT w, uc FROM ru ORDER BY uc DESC, w LIMIT $LmMaxV),
       |ap AS (SELECT id, ${(1 to 5).map(k => s"ws[i+${k - 1}] AS w$k")
          .mkString(", ")} FROM (
       |    SELECT id, ws, unnest(generate_series(1, len(ws) - 4)) AS i FROM d)),
       |rt AS (SELECT $ws15, count(*) AS c FROM ap
       |       ${(1 to 5).map(k => s"JOIN voc v$k ON ap.w$k = v$k.w")
          .mkString(" ")}
       |       WHERE id % 10 = 0 GROUP BY ${(1 to 5).mkString(", ")}),
       |g5 AS (SELECT $ws15, c FROM rt ORDER BY c DESC, $ws15 LIMIT $Lm5MaxT),
       |cx5 AS (SELECT w1, w2, w3, w4, CAST(sum(c) AS BIGINT) AS cb5,
       |               CAST(count(*) AS BIGINT) AS nf5 FROM g5 GROUP BY 1, 2, 3, 4),
       |m4 AS (SELECT w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS n4
       |        FROM g5 GROUP BY 1, 2, 3, 4),
       |cx4 AS (SELECT w2, w3, w4, CAST(sum(n4) AS BIGINT) AS n4b,
       |               CAST(count(*) AS BIGINT) AS nd4 FROM m4 GROUP BY 1, 2, 3),
       |m3 AS (SELECT w3, w4, w5, CAST(count(*) AS BIGINT) AS n3
       |        FROM m4 GROUP BY 1, 2, 3),
       |cx3 AS (SELECT w3, w4, CAST(sum(n3) AS BIGINT) AS n3b,
       |               CAST(count(*) AS BIGINT) AS nd3 FROM m3 GROUP BY 1, 2),
       |m2 AS (SELECT w4, w5, CAST(count(*) AS BIGINT) AS n2
       |        FROM m3 GROUP BY 1, 2),
       |cx2 AS (SELECT w4, CAST(sum(n2) AS BIGINT) AS n2b,
       |               CAST(count(*) AS BIGINT) AS nd2 FROM m2 GROUP BY 1),
       |cw AS (SELECT w5, CAST(count(*) AS BIGINT) AS ncw5 FROM m2 GROUP BY 1),
       |tot AS (SELECT CAST((SELECT count(*) FROM m2) AS BIGINT) AS ntot,
       |               CAST((SELECT count(*) FROM voc) AS BIGINT) AS nv),
       |dn AS (SELECT id, $ws15, count(*) AS n FROM ap
       |       GROUP BY ${(1 to 6).mkString(", ")}),
       |sc AS (SELECT dn.id, ${(1 to 5).map(k => s"dn.w$k").mkString(", ")},
       |    dn.n, ln($top) AS lp
       |  FROM dn
       |  LEFT JOIN g5 b ON ${(1 to 5).map(k => s"dn.w$k = b.w$k")
          .mkString(" AND ")}
       |  LEFT JOIN cx5 c5 ON ${(1 to 4).map(k => s"dn.w$k = c5.w$k")
          .mkString(" AND ")}
       |  LEFT JOIN m4 ON ${(2 to 5).map(k => s"dn.w$k = m4.w$k")
          .mkString(" AND ")}
       |  LEFT JOIN cx4 c4 ON ${(2 to 4).map(k => s"dn.w$k = c4.w$k")
          .mkString(" AND ")}
       |  LEFT JOIN m3 ON ${(3 to 5).map(k => s"dn.w$k = m3.w$k")
          .mkString(" AND ")}
       |  LEFT JOIN cx3 c3 ON ${(3 to 4).map(k => s"dn.w$k = c3.w$k")
          .mkString(" AND ")}
       |  LEFT JOIN m2 ON dn.w4 = m2.w4 AND dn.w5 = m2.w5
       |  LEFT JOIN cx2 c2 ON dn.w4 = c2.w4
       |  LEFT JOIN cw p ON dn.w5 = p.w5
       |  CROSS JOIN tot),
       |f AS (SELECT id, CAST(sum(n) AS BIGINT) AS m,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list(
       |        {${(1 to 5).map(k => s"'w$k': w$k").mkString(", ")},
       |         'v': n * lp})),
       |        x -> x.v)), (a, b) -> a + b) AS s
       |  FROM sc GROUP BY id),
       |g AS (SELECT id, m AS n_grams5, round(-s / m, 4) AS h FROM f)
       |SELECT id, n_grams5, h, round(exp(h), 4) AS ppl,
       |  (round(exp(h), 4) <= $Kn5PplThresh) AS keep FROM g""".stripMargin
  }

  // ===== q256 cross-modal (caption, image) pair curation ==================
  // The CLIP/LAION data-cleaning shape the modality silos don't cover:
  // a PAIR drops when EITHER side matches a store — caption md5 against
  // the stored text corpus index, image aHash against the stored
  // fingerprint index (its frozen hamming radius) — AND the caption
  // must clear the seven-tagger quality mixer. Stores: captions of the
  // doc_id % 4 slice, image fingerprints of the doc_id % 6 slice under
  // offset ids (a real store has its own id space; the offset also
  // means a pair CAN match its own stored twin — dedup-against-store,
  // not self-exclusion). The oracle replays both membership scans
  // (exact text equality; the O(n·m) aHash scan over the synthesized
  // grid arithmetic) and the tagger chain — drift in either store's
  // probe, the pair rule, or any tagger breaks the hash.

  private val PairStoreOffset = 1000000L

  private def q256(t: Tables): DataFrame = {
    val textDir = RunCache.dir(t.dir, "pair_text_idx") { d =>
      Dedup.writeCorpusIndexBatch(
        t.documents.filter(col("doc_id") % 4 === 0)
          .select(col("doc_id").as("id"), col("text")), d, 0L, 3, 64, 16)
    }
    val imgDir = RunCache.dir(t.dir, s"pair_img_idx_$AHashGroups") { d =>
      Dedup.writeAHashIndex(
        Multimodal.decodeImageAHash(
          Multimodal.withImageColumn(
            graft.Fanout(t.documents.filter(col("doc_id") % 6 === 0))
              .select(col("doc_id")), "doc_id", AHashGroups), "media")
          .select((col("doc_id") + PairStoreOffset).as("id"),
            col("ah_hi"), col("ah_lo")), d)
    }
    val pairs = Multimodal.withImageColumn(
        graft.Fanout(t.documents).select(col("doc_id"), col("text")),
        "doc_id", AHashGroups)
      .select(col("doc_id").as("id"), col("text").as("caption"),
        col("media"))
    val deduped = Multimodal.pairDedupAgainstStores(pairs, textDir, imgDir)
    val capKept = TextOps.taggerTable(pairs, col("id"), col("caption"),
        BlockList, BlockTau, TagPiiMax, RepMaxTok, RepMaxBigram,
        RepMinTtr, TagMinStopword, TagGopher)
      .select(col("id"), col("kept").as("caption_kept"))
    deduped.join(capKept, Seq("id"))
      .select(col("id").as("doc_id"), col("text_dup"), col("image_dup"),
        col("caption_kept"),
        (!col("text_dup") && !col("image_dup") && col("caption_kept"))
          .as("kept"))
  }

  private lazy val q256Sql =
    s"""WITH ${ahashSql(s"doc_id % $AHashGroups", variant = true)},
       |${taggerCteFor("documents")},
       |imd AS (SELECT DISTINCT x.doc_id AS id FROM ah x JOIN ah y
       |  ON y.doc_id % 6 = 0
       |  AND bit_count(xor(x.ah_hi, y.ah_hi))
       |    + bit_count(xor(x.ah_lo, y.ah_lo)) <= $MaxHamming),
       |txd AS (SELECT DISTINCT dd.doc_id AS id FROM documents dd
       |  JOIN documents ss ON ss.doc_id % 4 = 0 AND dd.text = ss.text)
       |SELECT dd.doc_id,
       |  (dd.doc_id IN (SELECT id FROM txd)) AS text_dup,
       |  (dd.doc_id IN (SELECT id FROM imd)) AS image_dup,
       |  k.kept AS caption_kept,
       |  (dd.doc_id NOT IN (SELECT id FROM txd)
       |    AND dd.doc_id NOT IN (SELECT id FROM imd) AND k.kept) AS kept
       |FROM documents dd JOIN tg_k k ON k.doc_id = dd.doc_id""".stripMargin

  // ===== q257 byte-true gzip WARC ingestion ===============================
  // q253's documented teaching simplification closed: the PRODUCTION
  // Common Crawl encoding — records as BYTES with octet-counted
  // Content-Lengths, each record its own gzip MEMBER, members
  // concatenated per file, the HTTP charset parameter APPLIED to the
  // body decode. Three traps make every byte-level rule load-bearing:
  // (a) multibyte payload suffixes (2- and 3-byte UTF-8 sequences for
  // utf-8 docs, a 0xE9 latin-1 byte for every doc_id % 7 == 3 doc) make
  // chars ≠ octets, so char-counting framing desyncs and the wrong
  // charset decode breaks html_md5; (b) every 23rd doc keeps q253's
  // length-preserving WARC/9.9 version corruption (quarantine-as-data
  // through the gzip round-trip); (c) every 5th file's LAST gzip member
  // gets its magic bytes zeroed — member decompression stops exactly
  // there, the file's prior 15 records survive intact, and the record
  // is ABSENT from the output (nothing decompressed = nothing to
  // quarantine; WarcSpec pins the partial-deflate variant where a
  // remainder DOES quarantine). The oracle replays the synthesis
  // expectation — a parser that mis-frames an octet, mis-applies a
  // charset, or loses a sibling record to the corrupt member diverges.

  private val WarcGzCorruptEveryFile = 5
  private val WarcCharsetEvery = 7 // doc_id % 7 == 3 → iso-8859-1

  /** The WARC-ingest oracle head of q253/q257: the replayed HTML `wr`
    * per doc, then the SELECT's version, url and status columns (NULL on
    * every WarcMalformEvery-th, malformed, record).
    */
  private def warcHeadSql: String =
    s"""WITH $htmlCteSql,
       |wr AS (SELECT d.doc_id, d.source, h.html
       |  FROM documents d JOIN ht_html h USING (doc_id))
       |SELECT
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN 'WARC/9.9'
       |    ELSE 'WARC/1.0' END AS warc_version,
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN NULL
       |    ELSE 'http://example.com/' || source || '/' || doc_id END AS url,
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN NULL
       |    ELSE 200 END AS status,""".stripMargin

  /** The messy-URL oracle head of q259/q262: the docs whose gzip WARC
    * record survives (not malformed, not in a corrupt member, v ≠ 5) and
    * their URL parts `hb` (host base) and `gs` (path id).
    */
  private def messyUrlDocsSql: String =
    s"""WITH docs AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 6 AS v
       |  FROM documents
       |  WHERE doc_id % $WarcMalformEvery <> 0
       |    AND NOT (doc_id % 16 = 15
       |      AND (doc_id // 16) % $WarcGzCorruptEveryFile = 0)
       |    AND doc_id % 6 <> 5),
       |e AS (SELECT doc_id, v, g,
       |  'h' || (g % 7) || '.site' || (g % 5) AS hb,
       |  CAST(g AS VARCHAR) AS gs FROM docs)""".stripMargin

  private def q257(t: Tables): DataFrame = {
    val withHtml = Html.withHtmlColumn(
      graft.Fanout(t.documents).select(col("doc_id"), col("source"),
        col("text")), col("text"), "html")
    val cs = when(col("doc_id") % WarcCharsetEvery === 3, lit("iso-8859-1"))
      .otherwise(lit("utf-8"))
    // ' café €' / ' café' written as escapes so the traps
    // don't depend on this source file's own encoding
    val htmlT = concat(col("html"),
      when(cs === "utf-8", lit(" caf\u00e9 \u20ac"))
        .otherwise(lit(" caf\u00e9")))
    val recs = Warc.withWarcRecordBytes(withHtml, col("doc_id"),
      Warc.defaultUri(col("doc_id"), col("source")), htmlT, cs, "rec",
      malformEvery = WarcMalformEvery)
    val files = Warc.withWarcFilesGz(recs, col("doc_id"), col("rec"),
      docsPerFile = 16, corruptEveryFile = WarcGzCorruptEveryFile)
    Warc.parseFieldsBinary(Warc.recordsGz(files, "warc"), col("rec"))
      .select(col("warc_version"), col("url"), col("status"),
        col("content_type"), col("charset"),
        md5(col("html")).as("html_md5"), col("malformed"))
  }

  private lazy val q257Sql =
    s"""$warcHeadSql
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN NULL
       |    WHEN doc_id % $WarcCharsetEvery = 3
       |      THEN 'text/html; charset=iso-8859-1'
       |    ELSE 'text/html; charset=utf-8' END AS content_type,
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN NULL
       |    WHEN doc_id % $WarcCharsetEvery = 3 THEN 'iso-8859-1'
       |    ELSE 'utf-8' END AS charset,
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN NULL
       |    WHEN doc_id % $WarcCharsetEvery = 3
       |      THEN md5(html || ' caf' || chr(233))
       |    ELSE md5(html || ' caf' || chr(233) || ' ' || chr(8364))
       |    END AS html_md5,
       |  (doc_id % $WarcMalformEvery = 0) AS malformed
       |FROM wr
       |WHERE NOT (doc_id % 16 = 15
       |  AND (doc_id // 16) % $WarcGzCorruptEveryFile = 0)""".stripMargin

  // ===== q258 URL canonicalization ========================================
  // The crawl-frontier normalization stage ahead of URL dedup: six
  // messy variants of each page's URL — case-shifted scheme/host,
  // explicit default port, fragment, non-default port (KEPT), tracking
  // params among real ones (order preserved), all-tracking query
  // (dropped entirely), and a scheme-less string (null canonical,
  // quarantine-as-data). The oracle replays the canonical EXPECTATION
  // per variant — any rule drift (a port wrongly stripped, a param
  // reordered, a host case preserved) diverges.

  /** The messy-URL fixture: deterministic variants keyed doc_id % 6
    * over collision groups g = ⌊doc_id/3⌋ (so variants 0/1 of one
    * group canonicalize identically — the URL-dedup collision q259
    * elects on). Host carries g so grouped docs share it:
    * h{g%7}.site{g%5}.com (.co.uk for variant 3 — the multi-part
    * public-suffix rule's witness).
    */
  private def messyUrl(docId: Column): Column = {
    val g = floor(docId / 3).cast("long")
    val hb = concat(lit("h"), (g % 7).cast("string"),
      lit(".site"), (g % 5).cast("string"))
    val gs = g.cast("string")
    val v = docId % 6
    when(v === 0, concat(lit("http://"), hb, lit(".com/d/"), gs))
      .when(v === 1, concat(lit("HTTP://"), upper(hb), lit(".COM:80/d/"),
        gs, lit("#frag")))
      .when(v === 2, concat(lit("http://"), hb, lit(".com:8080/d/"), gs,
        lit("?utm_source=feed&utm_campaign=c")))
      .when(v === 3, concat(lit("https://"), upper(hb), lit(".CO.UK:443/d/"),
        gs, lit("?b=2&a=1&utm_medium=m")))
      .when(v === 4, concat(lit("http://"), hb, lit(".com/d/"), gs,
        lit("?gclid=x&ref=tw")))
      .otherwise(concat(hb, lit(".com/d/"), gs))
  }

  private def q258(t: Tables): DataFrame = {
    val urls = graft.Fanout(t.documents)
      .select(col("doc_id"), messyUrl(col("doc_id")).as("url_raw"))
    urls.select(col("doc_id"),
      graft.operators.Url.canonicalize(col("url_raw")).as("url_canon"),
      nullif(graft.operators.Url.hostOf(col("url_raw")), lit(""))
        .as("host"),
      graft.operators.Url.registeredDomain(
        nullif(graft.operators.Url.hostOf(col("url_raw")), lit("")))
        .as("registered_domain"))
  }

  private lazy val q258Sql =
    """WITH u AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 6 AS v
      |  FROM documents),
      |e AS (SELECT doc_id, v,
      |  'h' || (g % 7) || '.site' || (g % 5) AS hb,
      |  CAST(g AS VARCHAR) AS gs FROM u)
      |SELECT doc_id,
      |  CASE WHEN v = 5 THEN NULL
      |    WHEN v = 2 THEN 'http://' || hb || '.com:8080/d/' || gs
      |    WHEN v = 3 THEN 'https://' || hb || '.co.uk/d/' || gs || '?b=2&a=1'
      |    ELSE 'http://' || hb || '.com/d/' || gs END AS url_canon,
      |  CASE WHEN v = 5 THEN NULL
      |    WHEN v = 3 THEN hb || '.co.uk'
      |    ELSE hb || '.com' END AS host,
      |  CASE WHEN v = 5 THEN NULL
      |    WHEN v = 3 THEN 'site' || (doc_id // 3 % 5) || '.co.uk'
      |    ELSE 'site' || (doc_id // 3 % 5) || '.com'
      |    END AS registered_domain
      |FROM e""".stripMargin

  // ===== q259 composed: gzip WARC → URL canon → URL dedup → domain cap ====
  // The crawl front door as ONE chain and ONE hash: `.warc.gz` files in
  // (q257's byte-true container, messy target URIs, both quarantine
  // traps live), records split and parsed, identity recovered from
  // WARC-Record-ID (the record's OWN id — the target URI is the thing
  // under test here), URLs canonicalized, URL-exact dedup electing
  // min-id survivors per canonical form, then the per-domain cap over
  // the REGISTERED domain of the canonical host — the frontier stage
  // every crawl pipeline runs before content dedup. Scheme-less URLs
  // (variant 5) have no canonical identity and drop at the urlGroups
  // null filter; WARC/9.9 and corrupt-member docs never reach it.

  private val UrlCapK = 6

  private def q259(t: Tables): DataFrame = {
    val withHtml = Html.withHtmlColumn(
      graft.Fanout(t.documents).select(col("doc_id"), col("source"),
        col("text")), col("text"), "html")
    val recs = Warc.withWarcRecordBytes(withHtml, col("doc_id"),
      messyUrl(col("doc_id")), col("html"), lit("utf-8"), "rec",
      malformEvery = WarcMalformEvery)
    val files = Warc.withWarcFilesGz(recs, col("doc_id"), col("rec"),
      docsPerFile = 16, corruptEveryFile = WarcGzCorruptEveryFile)
    val pages = Warc.parseFieldsBinary(Warc.recordsGz(files, "warc"),
        col("rec"))
      .filter(!col("malformed"))
      .select(regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
        .cast("long").as("doc_id"), col("url"))
    val groups = graft.operators.Url.urlGroups(pages, col("url"),
      col("doc_id"))
    val surv = groups.select(col("url_canon"), col("n_dups"),
      col("keep_id"),
      graft.operators.Url.registeredDomain(
        graft.operators.Url.hostOf(col("url_canon"))).as("domain"))
    graft.operators.Curation.domainCap(surv, col("domain"),
        col("keep_id"), col("n_dups").cast("double"), UrlCapK)
      .select(col("domain"), col("rank"), col("id").as("keep_id"),
        col("score").cast("long").as("n_dups"))
  }

  private lazy val q259Sql =
    s"""$messyUrlDocsSql,
       |c AS (SELECT doc_id,
       |  CASE WHEN v = 2 THEN 'http://' || hb || '.com:8080/d/' || gs
       |    WHEN v = 3 THEN 'https://' || hb || '.co.uk/d/' || gs || '?b=2&a=1'
       |    ELSE 'http://' || hb || '.com/d/' || gs END AS url_canon,
       |  CASE WHEN v = 3 THEN 'site' || (g % 5) || '.co.uk'
       |    ELSE 'site' || (g % 5) || '.com' END AS domain
       |  FROM e),
       |grp AS (SELECT url_canon, min(domain) AS domain,
       |    count(*) AS n_dups, min(doc_id) AS keep_id
       |  FROM c GROUP BY url_canon),
       |r AS (SELECT domain, n_dups, keep_id,
       |    row_number() OVER (PARTITION BY domain
       |      ORDER BY n_dups DESC, keep_id) AS rank
       |  FROM grp)
       |SELECT domain, CAST(rank AS INTEGER) AS rank, keep_id, n_dups
       |FROM r WHERE rank <= $UrlCapK""".stripMargin

  // ===== q260 outlink extraction + resolution =============================
  // The crawl-frontier harvest: every fetched page's <a> anchors out as
  // a table (Html.extractLinks — pure codegen projections + one
  // generator, zero joins), each href RESOLVED against the page's own
  // messy URL (Url.resolve — most real outlinks are relative) and
  // canonicalized (Url.canonicalize). One anchor per resolve rule in
  // the fixture page (absolute cross-host / absolute cross-site /
  // scheme-relative / root-relative / path-relative / query-only /
  // fragment-only / mailto → NULL / href-less → NULL), messy bases
  // keyed doc_id % 6 (q258's fixture — ports, case, fragments,
  // tracking queries, one scheme-less base that NULLs every relative
  // resolution but keeps the absolutes). The oracle replays the
  // EXPECTATION per (variant, link_idx) — independent string
  // arithmetic, never a parser replay.

  private def linkPages(t: Tables): DataFrame =
    Html.withLinkHtml(graft.Fanout(t.documents).select(col("doc_id")),
      col("doc_id"), "html")

  private def q260(t: Tables): DataFrame = {
    // resolve/canonicalize are 1-node native kernel expressions
    // (NativeKernels.urlResolve/urlCanonicalize) — composing them is
    // substitution-safe; their earlier regexp-chain Column forms
    // multiplied into five-figure-node projections under pushdown
    // alias substitution (8+ min at sf0.01 — SCALE.md house rule)
    Html.resolvedLinks(linkPages(t), col("doc_id"),
      messyUrl(col("doc_id")), col("html"))
  }

  private lazy val q260Sql =
    """WITH u AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 6 AS v
      |  FROM documents),
      |e AS (SELECT doc_id, g, v,
      |  'h' || (g % 7) || '.site' || (g % 5) AS hb,
      |  CAST(g AS VARCHAR) AS gs,
      |  CAST(doc_id % 5 AS VARCHAR) AS d5,
      |  CAST(doc_id % 3 AS VARCHAR) AS d3,
      |  CAST(doc_id % 11 AS VARCHAR) AS d11,
      |  CAST(doc_id % 7 AS VARCHAR) AS d7,
      |  CAST((g + 1) % 5 AS VARCHAR) AS g1,
      |  CAST(g % 5 AS VARCHAR) AS s FROM u),
      |bb AS (SELECT e.*,
      |  CASE WHEN v = 3 THEN 'https' ELSE 'http' END AS sch,
      |  CASE WHEN v = 1 THEN 'http://' || hb || '.com:80'
      |    WHEN v = 2 THEN 'http://' || hb || '.com:8080'
      |    WHEN v = 3 THEN 'https://' || hb || '.co.uk:443'
      |    ELSE 'http://' || hb || '.com' END AS origin,
      |  CASE WHEN v = 2 THEN 'http://' || hb || '.com:8080'
      |    WHEN v = 3 THEN 'https://' || hb || '.co.uk'
      |    ELSE 'http://' || hb || '.com' END AS origin_c,
      |  '/d/' || gs AS pth,
      |  CASE WHEN v = 2 THEN '?utm_source=feed&utm_campaign=c'
      |    WHEN v = 3 THEN '?b=2&a=1&utm_medium=m'
      |    WHEN v = 4 THEN '?gclid=x&ref=tw' ELSE '' END AS qp,
      |  CASE WHEN v = 3 THEN '?b=2&a=1' ELSE '' END AS qc
      |  FROM e),
      |l AS (SELECT bb.*, i AS link_idx
      |  FROM bb, unnest(generate_series(0, 8)) AS t(i))
      |SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx,
      |  CASE WHEN link_idx = 0
      |      THEN 'http://w' || d5 || '.ex' || d3 || '.net/p/' || d11
      |    WHEN link_idx = 1 THEN 'https://site' || g1 || '.com/x/' || gs
      |    WHEN link_idx = 2 THEN '//cdn.site' || s || '.com/lib.js'
      |    WHEN link_idx = 3 THEN '/r/' || d7
      |    WHEN link_idx = 4 THEN 'next/' || d3
      |    WHEN link_idx = 5 THEN '?page=2'
      |    WHEN link_idx = 6 THEN '#top'
      |    WHEN link_idx = 7 THEN 'mailto:op@site' || s || '.com'
      |    ELSE NULL END AS href,
      |  CASE WHEN link_idx = 0 THEN 'first bold link'
      |    WHEN link_idx = 1 THEN 'cross&site'
      |    WHEN link_idx = 2 THEN 'cdn asset'
      |    WHEN link_idx = 3 THEN 'root rel'
      |    WHEN link_idx = 4 THEN 'path rel'
      |    WHEN link_idx = 5 THEN 'next page'
      |    WHEN link_idx = 6 THEN 'back to top'
      |    WHEN link_idx = 7 THEN 'mail'
      |    ELSE 'no href' END AS anchor_text,
      |  CASE WHEN link_idx = 0
      |      THEN 'http://w' || d5 || '.ex' || d3 || '.net/p/' || d11
      |    WHEN link_idx = 1 THEN 'https://site' || g1 || '.com/x/' || gs
      |    WHEN link_idx >= 7 OR v = 5 THEN NULL
      |    WHEN link_idx = 2 THEN sch || '://cdn.site' || s || '.com/lib.js'
      |    WHEN link_idx = 3 THEN origin || '/r/' || d7
      |    WHEN link_idx = 4 THEN origin || '/d/next/' || d3
      |    WHEN link_idx = 5 THEN origin || pth || '?page=2'
      |    ELSE origin || pth || qp || '#top' END AS url_resolved,
      |  CASE WHEN link_idx = 0
      |      THEN 'http://w' || d5 || '.ex' || d3 || '.net/p/' || d11
      |    WHEN link_idx = 1 THEN 'https://site' || g1 || '.com/x/' || gs
      |    WHEN link_idx >= 7 OR v = 5 THEN NULL
      |    WHEN link_idx = 2 THEN sch || '://cdn.site' || s || '.com/lib.js'
      |    WHEN link_idx = 3 THEN origin_c || '/r/' || d7
      |    WHEN link_idx = 4 THEN origin_c || '/d/next/' || d3
      |    WHEN link_idx = 5 THEN origin_c || pth || '?page=2'
      |    ELSE origin_c || pth || qc END AS url_canon
      |FROM l""".stripMargin

  // ===== q261 host link graph → PageRank centrality =======================
  // The host-level quality signal every crawl pipeline derives from
  // outlinks: q260's resolved links → registered-domain edges (source
  // page's domain → link target's domain), SELF-edges dropped (intra-
  // domain navigation is not an endorsement — and the scheme-relative
  // cdn link resolves to the SAME registered domain except for co.uk
  // bases, a deliberate near-miss the filter must judge per row),
  // orientation-normalized + distinct, then the q122 fixed-point
  // PageRank (3 unrolled iterations, exact BIGINT contribution sums —
  // hash-comparable across engines). 100 TB: the edge build is a
  // narrow projection + ONE distinct aggregate; PR is q122's audited
  // O(|E|)-per-iteration plan; domains (not pages) are the node set,
  // bounded by the web's registrable-domain count, not its page count.

  private def q261(t: Tables): DataFrame = {
    val U = graft.operators.Url
    val links = Html.extractLinks(linkPages(t), col("html"))
    // domain edges through the 1-node URL kernels (q260's note): the
    // regexp-chain Column forms duplicated the resolve tree ~12x here
    // at Column construction alone — the composition that motivated
    // kernelizing the whole Url surface
    val resolved = U.resolve(messyUrl(col("doc_id")), col("href"))
    val edges = links.select(
        U.registeredDomain(nullif(U.hostOf(messyUrl(col("doc_id"))),
          lit(""))).as("sa"),
        U.registeredDomain(nullif(U.hostOf(resolved), lit(""))).as("sb"))
      .filter(col("sa").isNotNull && col("sb").isNotNull &&
        col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("id_a"),
        greatest(col("sa"), col("sb")).as("id_b"))
      .distinct()
      // eager barrier before the PR loop: the domain edge list is
      // bounded by registrable-domain PAIRS (never page count), and
      // without it every PR iteration's lineage re-enters the whole
      // extract+resolve tree via dir's two-orientation union
      .localCheckpoint()
    Graph.pageRankFixedPoint(edges, iters = PrIters)
  }

  private lazy val q261Sql =
    s"""WITH u AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 6 AS v
       |  FROM documents),
       |e AS (SELECT doc_id, v,
       |  CAST(doc_id % 3 AS VARCHAR) AS d3,
       |  CAST((g + 1) % 5 AS VARCHAR) AS g1,
       |  CAST(g % 5 AS VARCHAR) AS s FROM u),
       |sd AS (SELECT e.*,
       |  CASE WHEN v = 3 THEN 'site' || s || '.co.uk'
       |    ELSE 'site' || s || '.com' END AS src_dom FROM e),
       |ed AS (
       |  SELECT src_dom AS sa, 'ex' || d3 || '.net' AS sb
       |  FROM sd WHERE v <> 5
       |  UNION ALL
       |  SELECT src_dom, 'site' || g1 || '.com' FROM sd WHERE v <> 5
       |  UNION ALL
       |  SELECT src_dom, 'site' || s || '.com' FROM sd WHERE v = 3),
       |und AS (SELECT DISTINCT least(sa, sb) AS a, greatest(sa, sb) AS b
       |  FROM ed WHERE sa <> sb),
       |$pageRankTailSql""".stripMargin

  // ===== q262 payload-digest verify + (URL, digest) record dedup ==========
  // The Common-Crawl index discipline: every WARC record ships a
  // WARC-Payload-Digest content claim, and (canonical URL, digest) is
  // the CDX dedup key — same pair = a byte-identical re-fetch (keep
  // one), same URL with a new digest = the page CHANGED (keep both).
  // The chain: gzip WARC files whose records carry digests (every 13th
  // doc's STORED digest mangled — content fine, index lying; every
  // 23rd record quarantined; every 5th file's last member corrupt) →
  // parse → recompute-and-verify against the payload actually carried
  // (re-encoded under its declared charset) → per-canonical-URL
  // aggregate: fetches, DISTINCT verified contents, bad-digest count,
  // min surviving id. One hash aggregate past the scan; digest math is
  // codegen'd sha2 over the body bytes. sha256-hex stands in for
  // production's sha1:base32 (both engines emit it; same plumbing).

  private val DigestCorruptEvery = 13

  private def q262(t: Tables): DataFrame = {
    val g = floor(col("doc_id") / 3).cast("long")
    // group-keyed page: docs of one group carry IDENTICAL payloads
    // (true re-fetches — same digest), except every 7th doc revises
    // the page (same URL, new digest = changed content)
    val page = concat(lit("<p>page "), g.cast("string"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" rev "), col("doc_id").cast("string")))
        .otherwise(lit("")),
      lit("</p>"))
    val docs = graft.Fanout(t.documents).select(col("doc_id"))
      .withColumn("page", page)
    val recs = Warc.withWarcRecordBytes(docs, col("doc_id"),
      messyUrl(col("doc_id")), col("page"), lit("utf-8"), "rec",
      malformEvery = WarcMalformEvery, digest = true,
      corruptDigestEvery = DigestCorruptEvery)
    val files = Warc.withWarcFilesGz(recs, col("doc_id"), col("rec"),
      docsPerFile = 16, corruptEveryFile = WarcGzCorruptEveryFile)
    val checked = Warc.verifyPayloadDigest(
      Warc.parseFieldsBinary(Warc.recordsGz(files, "warc"), col("rec")))
    checked.filter(!col("malformed"))
      .select(graft.operators.Url.canonicalize(col("url")).as("url_canon"),
        col("payload_digest"), col("digest_ok"),
        regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
          .cast("long").as("did"))
      .filter(col("url_canon").isNotNull)
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_fetches"),
        countDistinct(when(col("digest_ok"), col("payload_digest")))
          .as("n_contents"),
        sum(when(!col("digest_ok"), 1L).otherwise(0L)).as("n_bad_digest"),
        min(col("did")).as("keep_id"))
  }

  private lazy val q262Sql =
    s"""$messyUrlDocsSql,
       |c AS (SELECT doc_id, g,
       |  CASE WHEN v = 2 THEN 'http://' || hb || '.com:8080/d/' || gs
       |    WHEN v = 3 THEN 'https://' || hb || '.co.uk/d/' || gs || '?b=2&a=1'
       |    ELSE 'http://' || hb || '.com/d/' || gs END AS url_canon
       |  FROM e),
       |r AS (SELECT doc_id, url_canon,
       |  'sha256:' || sha256('<p>page ' || g ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' rev ' || doc_id ELSE '' END
       |    || '</p>') AS dg_true,
       |  doc_id % $DigestCorruptEvery = 0 AS bad FROM c)
       |SELECT url_canon,
       |  CAST(count(*) AS BIGINT) AS n_fetches,
       |  CAST(count(DISTINCT CASE WHEN NOT bad THEN dg_true END) AS BIGINT)
       |    AS n_contents,
       |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bad_digest,
       |  min(doc_id) AS keep_id
       |FROM r GROUP BY url_canon""".stripMargin

  // ===== q248 multi-keyframe video dedup pairs ============================
  // q241's single-middle-keyframe reduction fails exactly where video
  // dedup matters: a RE-CUT clip (trimmed intro, shifted edit) has a
  // different middle frame but shares most content frames. The
  // production reduction fingerprints EVERY sampled keyframe (q221's
  // every-2nd-frame sampling) and matches clips on ANY frame pair
  // within hamming 3 — here each sampled frame rides the shared
  // (hi, lo) carry through the SAME banded-pair kernel, keyed by the
  // overflow-guarded packedKey(doc, frame), and pairs reduce to
  // (doc_a, doc_b, n_frame_hits, min_hamming). The fixture is the
  // re-cut family (synthY4m with groups: same base content, cut ∈ {0, 2});
  // VideoDedupSpec pins a planted re-cut pair the middle-frame hash
  // provably misses. Oracle: O(n²) frame scan over the arithmetic
  // replay (q241's shape with the frame dimension).

  private val VideoGroups = 40

  private def q248(t: Tables): DataFrame = {
    val withVid = Multimodal.withVideoColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id",
      VideoGroups)
    val fps = Multimodal.decodeVideoFrameAHashes(withVid, "media",
        sampleEvery = 2)
      .select(Dedup.packedKey(col("doc_id"),
          col("frame_idx").cast("long")).as("id"),
        col("fr_hi").as("ah_hi"), col("fr_lo").as("ah_lo"))
    Dedup.ahashPairs(fps, MaxHamming)
      .select(shiftright(col("id_a"), 20).as("da"),
        shiftright(col("id_b"), 20).as("db"), col("hamming"))
      .filter(col("da") =!= col("db"))
      .groupBy(col("da").as("id_a"), col("db").as("id_b"))
      .agg(count(lit(1)).as("n_frame_hits"),
        min(col("hamming").cast("long")).as("min_hamming"))
  }

  private lazy val q248Sql =
    s"""WITH vd AS (SELECT doc_id, doc_id % $VideoGroups AS base,
       |    ((doc_id // $VideoGroups) % 2) * 2 AS cut FROM documents),
       |vg AS (SELECT doc_id, base, cut,
       |    CAST(4 + 2 * (base % 6) AS BIGINT) AS w,
       |    CAST(4 + 2 * ((base // 6) % 6) AS BIGINT) AS h,
       |    CAST(3 + base % 5 AS BIGINT) AS nf FROM vd),
       |vf AS (SELECT doc_id, base, cut, w, h, t.f FROM vg,
       |    unnest(generate_series(0, nf - 1, 2)) AS t(f)),
       |vc AS (SELECT doc_id, f, tx.x + ty.y * 8 AS i,
       |    CAST((base*17 + (f+cut)*29 + ((tx.x*w)//8)*5
       |      + ((ty.y*h)//8)*11) % 256 AS BIGINT) AS lum
       |  FROM vf,
       |    unnest(generate_series(0, 7)) AS tx(x),
       |    unnest(generate_series(0, 7)) AS ty(y)),
       |vs AS (SELECT doc_id, f, sum(lum) AS tot FROM vc GROUP BY 1, 2),
       |vh AS (SELECT c.doc_id, c.f,
       |    CAST(sum(CASE WHEN c.i >= 32 AND 64 * c.lum > s.tot
       |      THEN CAST(1 AS BIGINT) << (c.i - 32) ELSE 0 END) AS BIGINT) AS hi,
       |    CAST(sum(CASE WHEN c.i < 32 AND 64 * c.lum > s.tot
       |      THEN CAST(1 AS BIGINT) << c.i ELSE 0 END) AS BIGINT) AS lo
       |  FROM vc c JOIN vs s ON s.doc_id = c.doc_id AND s.f = c.f
       |  GROUP BY 1, 2),
       |vp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.hi, b.hi))
       |      + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hm
       |  FROM vh a JOIN vh b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.hi, b.hi))
       |      + bit_count(xor(a.lo, b.lo)) <= $MaxHamming)
       |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_frame_hits,
       |  CAST(min(hm) AS BIGINT) AS min_hamming
       |FROM vp GROUP BY 1, 2""".stripMargin

  // ===== q213/q214 WordPiece tokenizer ====================================
  // The THIRD tokenizer family member (BERT's; q156 BPE, q203 unigram-LM):
  // induction merges the adjacent pair maximizing the LIKELIHOOD score
  // count(ab)/(count(a)·count(b)) — one correctly-rounded double division
  // of exact-in-double integers, ties (sym_a, sym_b) lexicographic — and
  // serving is greedy LONGEST-MATCH-FIRST against the flat vocabulary
  // (not the merge sequence — WordPiece's defining difference from BPE).
  // The induction oracle unrolls rounds as MATERIALIZED CTEs (the q156
  // discipline) with a symbol-count CTE joined per round; the serving
  // oracle precomputes a per-(word, position) longest-match table and
  // walks it with a recursive CTE — greedy matching is deterministic, so
  // the walk is a chain, never a search.

  private val WpRounds = 8

  /** The WordPiece trainer's oracle chain: wp0..wpN word tables,
    * ws1..wsN symbol counts, wq1..wqN chosen merges.
    */
  private def wpCteChain(rounds: Int, applyLast: Boolean): String = {
    def symCte(i: Int): String =
      s"""ws$i AS MATERIALIZED (
         |  SELECT u.s AS s, CAST(sum(n) AS BIGINT) AS c
         |  FROM wp${i - 1}, unnest(syms) AS u(s) GROUP BY 1)""".stripMargin
    def pickCte(i: Int): String =
      s"""wq$i AS MATERIALIZED (
         |  SELECT a, b, cnt, ca, cb FROM (
         |    SELECT pc.a, pc.b, pc.cnt, sa.c AS ca, sb.c AS cb,
         |      CAST(pc.cnt AS DOUBLE) / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)) AS score
         |    FROM (SELECT u.p.a AS a, u.p.b AS b, CAST(sum(n) AS BIGINT) AS cnt
         |          FROM wp${i - 1}, unnest(list_transform(range(1, len(syms)),
         |            j -> {'a': syms[j], 'b': syms[j + 1]})) AS u(p)
         |          WHERE len(syms) >= 2 GROUP BY 1, 2) pc
         |    JOIN ws$i sa ON pc.a = sa.s
         |    JOIN ws$i sb ON pc.b = sb.s)
         |  ORDER BY score DESC, a, b LIMIT 1)""".stripMargin
    def applyCte(i: Int): String =
      s"""wp$i AS MATERIALIZED (
         |  SELECT w, list_reduce(list_transform(syms, s -> [s]),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = wq$i.a
         |          AND x[1] = wq$i.b
         |        THEN list_append(acc[1:len(acc) - 1], wq$i.a ||
         |          CASE WHEN wq$i.b[1:2] = '##' THEN wq$i.b[3:] ELSE wq$i.b END)
         |        ELSE list_append(acc, x[1]) END) AS syms, n
         |  FROM wp${i - 1} CROSS JOIN wq$i)""".stripMargin
    val roundsSql = (1 to rounds).map(i =>
      symCte(i) + ",\n" + pickCte(i) +
        (if (i < rounds || applyLast) ",\n" + applyCte(i) else ""))
      .mkString(",\n")
    s"""wp0 AS MATERIALIZED (
       |  SELECT w, list_transform(range(1, len(w) + 1),
       |    i -> CASE WHEN i = 1 THEN w[i:i] ELSE '##' || w[i:i] END) AS syms, n
       |  FROM (SELECT w, count(*) AS n FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS w FROM documents) GROUP BY w)),
       |$roundsSql""".stripMargin
  }

  private def q213(t: Tables): DataFrame =
    TextOps.wordPieceMerges(graft.Fanout(t.documents), col("text"), WpRounds,
      requireFull = true) // the oracle unrolls exactly WpRounds CTE rounds

  private val q213Sql = {
    val sel = (1 to WpRounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_round, a AS sym_a, b AS sym_b, " +
        s"cnt AS pair_count, ca AS cnt_a, cb AS cnt_b FROM wq$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${wpCteChain(WpRounds, applyLast = false)}
       |$sel""".stripMargin
  }

  private def q214(t: Tables): DataFrame = {
    val wt = TextOps.wordPieceWordTable(graft.Fanout(t.documents), col("text"))
    val merges = TextOps.wordPieceMerges(graft.Fanout(t.documents),
      col("text"), WpRounds, requireFull = true)
      .orderBy(col("merge_round"))
      .select(col("sym_a"), col("sym_b"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    TextOps.encodeWords(wt.select(col("w")).distinct(),
      TextOps.Encoder.WordPiece(TextOps.wordPieceVocab(wt, merges)))
      .select(col("w"), size(col("toks")).cast("long").as("n_toks"),
        array_join(col("toks"), " ").as("toks_str"))
  }

  private val q214Sql = {
    // vocab = wp0's initial symbols ∪ every round's merge product
    val products = (1 to WpRounds).map(i =>
      s"SELECT a || CASE WHEN b[1:2] = '##' THEN b[3:] ELSE b END AS s FROM wq$i")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE ${wpCteChain(WpRounds, applyLast = false)},
       |words AS MATERIALIZED (SELECT DISTINCT w FROM wp0),
       |pv AS MATERIALIZED (
       |  SELECT DISTINCT (s[1:2] = '##') AS cont,
       |    CASE WHEN s[1:2] = '##' THEN s[3:] ELSE s END AS piece, s AS sym,
       |    len(CASE WHEN s[1:2] = '##' THEN s[3:] ELSE s END) AS plen
       |  FROM (SELECT unnest(syms) AS s FROM wp0
       |  UNION ALL $products)),
       |posn AS (SELECT w, unnest(generate_series(1, len(w))) AS pos FROM words),
       |lm AS MATERIALIZED (
       |  SELECT w, pos, arg_max(sym, plen) AS sym, max(plen) AS plen FROM (
       |    SELECT p.w, p.pos, v.sym, v.plen FROM posn p JOIN pv v
       |      ON ((p.pos = 1) = (NOT v.cont))
       |     AND substr(p.w, p.pos, v.plen) = v.piece)
       |  GROUP BY 1, 2),
       |st AS (SELECT w, 1 AS pos, CAST([] AS VARCHAR[]) AS toks FROM words
       |  UNION ALL
       |  SELECT s.w, s.pos + l.plen, list_append(s.toks, l.sym)
       |  FROM st s JOIN lm l ON s.w = l.w AND s.pos = l.pos
       |  WHERE s.pos <= len(s.w)),
       |res AS (SELECT w, toks FROM st WHERE pos = len(w) + 1)
       |SELECT wd.w,
       |  CAST(CASE WHEN r.w IS NULL THEN 1 ELSE len(r.toks) END AS BIGINT) AS n_toks,
       |  CASE WHEN r.w IS NULL THEN '[UNK]'
       |       ELSE array_to_string(r.toks, ' ') END AS toks_str
       |FROM words wd LEFT JOIN res r ON wd.w = r.w""".stripMargin
  }

  // ===== q217 stored IVF-SQ8 index ========================================
  // q215's production form: the IVF store with the SQ8 codec —
  // quantizer stats (2·dim doubles) frozen beside cell-partitioned
  // 1-byte codes and the vec_id-sorted refine store, built, ingested,
  // compacted, deleted and probed by the same defs as every other
  // codec. Stored-and-probed ≡ the direct operator —
  // q215's oracle VERBATIM (the q209 contract on the fourth family);
  // the frozen-quantizer ingest lifecycle is spec-pinned.

  private def q217(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = RunCache.dir(t.dir, s"ivf_sq8_$IvfCells")(
      d => Similarity.writeIvfIndexVersioned(e, d, IvfCells,
        codec = Similarity.IvfCodec.Sq8))
    Similarity.ivfTopKAgainstIndex(queries, dir, IvfProbe, TopK, SqShort)
  }

  // ===== q219 incremental connected-components labels =====================
  // The near-dup CLUSTERING becomes a maintained artifact: q62 recomputes
  // components from scratch per run, but every leakage-safe downstream
  // (q170's split, q194's contrastive batches, q135's reps) consumes the
  // labeling continuously, so it gets the stored-index treatment —
  // build once, ingest batches by running CC over the batch-sized
  // QUOTIENT graph only (min-label algebra: merged label = min of merged
  // labels, exactly the from-scratch label), merge events as remap rows,
  // compaction folding the chain. The gate builds on two-thirds of the
  // corpus, ingests the rest, compacts, and must hash-match q62's
  // from-scratch oracle VERBATIM — incremental ≡ one-shot.

  private def q219(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = RunCache.dir(t.dir, "cc_labels") { d =>
      val docs = graft.Fanout(
        t.documents.select(col("doc_id").as("id"), col("text")))
      val pairs = Dedup.minhashLshPairs(docs, 3, MinHashes, Bands, CorpusT)
        .select(col("id_a"), col("id_b"))
      def isNew(c: Column) = c % 3 === 1
      val ids = t.documents.select(col("doc_id").as("id"))
      Dedup.writeCcLabels(ids.filter(!isNew(col("id"))),
        pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b"))), d)
      Dedup.ingestIntoCcLabels(ids.filter(isNew(col("id"))),
        pairs.filter(isNew(col("id_a")) || isNew(col("id_b"))), d, 1L)
      Dedup.compactCcLabels(spark, d)
    }
    Dedup.ccLabelsResolved(spark, dir).select(col("id"), col("comp"))
  }

  // ===== q218 packed training-shard export ================================
  // The artifact a pretraining loader actually mmaps — the step past
  // q191's manifest: per (source, bin), the ORDERED token stream
  // assembled from the stored byte-level BPE tokenizer's per-doc tokens
  // (q181's artifact, q183's application) through q72/q191's distributed
  // prefix-sum packing, reported as (n_tokens, stream md5) so the gate
  // hash-checks the exact bytes a trainer reads. This chains THREE
  // gate-proven contracts — tokenize, pack, assemble — into the one
  // deliverable they exist for; per-bin assembly state is bounded by the
  // budget BY CONSTRUCTION. Oracle = the q183 CTE chain + per-doc
  // flatten + q191's prefix sum + the slice/assembly arithmetic.

  private def q218(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val bpeDir = bpeByteModelDir(t)
    val merges = TextOps.loadBpeMerges(spark, bpeDir)
    // tokenize the VOCAB once (the q157/q183 cost shape), flatten per doc
    shardTail(TextOps.tokenArrays(shardPretokens(graft.Fanout(t.documents)),
      TextOps.Encoder.Bpe(merges, byteLevel = true)), None, None)
  }

  private lazy val q218Sql =
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = true, bpeWc0ByteLevel)},
       |${shardTailSql("documents", ids = false, None, "")}""".stripMargin

  // ===== q223 ANN quality evaluation (recall@k, reciprocal rank) =========
  // The index-quality monitor a production ANN deployment runs
  // continuously — every recall floor this repo's specs pin is this
  // computation, promoted to a first-class oracle-gated operator:
  // ground truth = exact brute-force top-k, system = the IVF probe,
  // per-query n_hits / recall / reciprocal-rank of the first true hit.
  // The oracle composes q35's and q44's chains verbatim-shaped and
  // replays the metric arithmetic (single divisions of exact integers).

  private def q223(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.annEvalReport(queries, e, IvfCells, IvfProbe, TopK)
  }

  private val q223Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q0 AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % $QueryMod = 0),
       |bt AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
       |    FROM (SELECT q_id, vec_id, round(${cosSql("qv", "v")}, 4) AS score
       |          FROM q0 CROSS JOIN e WHERE vec_id <> q_id))
       |  WHERE rn <= $TopK),
       |cents AS (SELECT vec_id AS cent_id, v AS cvec FROM e WHERE vec_id < $IvfCells),
       |lists AS (${ivfBestSql("e", "vec_id", "v", "1")}),
       |probes AS (${ivfBestSql("q0", "q_id", "qv", IvfProbe.toString)}),
       |sysr AS (SELECT q_id, vec_id, rnk FROM (
       |    SELECT q_id, vec_id,
       |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |    FROM (SELECT p.q_id, l.vec_id, round(${cosSql("p.qv", "l.v")}, 4) AS score
       |          FROM probes p JOIN lists l ON p.cell = l.cell AND l.vec_id <> p.q_id))
       |  WHERE rnk <= $TopK),
       |h AS (SELECT s.q_id, CAST(count(*) AS BIGINT) AS n_hits,
       |        min(s.rnk) AS fr
       |      FROM sysr s JOIN bt ON s.q_id = bt.q_id AND s.vec_id = bt.vec_id
       |      GROUP BY 1),
       |tc AS (SELECT q_id, count(*) AS n_truth FROM bt GROUP BY 1)
       |SELECT q0.q_id, COALESCE(h.n_hits, 0) AS n_hits,
       |  round(COALESCE(CAST(h.n_hits AS DOUBLE), 0) / tc.n_truth, 4) AS recall,
       |  round(COALESCE(CAST(1 AS DOUBLE) / h.fr, 0), 4) AS rr
       |FROM q0 LEFT JOIN tc ON q0.q_id = tc.q_id
       |  LEFT JOIN h ON q0.q_id = h.q_id""".stripMargin

  // ===== q224 unigram-byte round-trip integrity ===========================
  // q190's encode∘decode ≡ identity gate for the SECOND tokenizer family:
  // every byte-level pre-token maps to byte chars, Viterbi-encodes
  // through the STORED unigram artifact (q204's pattern at q210's
  // boundary), and decodes back (piece concat — Viterbi SEGMENTS, so the
  // concat is the byte-char word — then the byte→code-point inverse);
  // the oracle computes the md5 from the ORIGINAL pre-tokens and asserts
  // zero mismatches (q190Sql's shape verbatim — same pre-tokenizer).

  private def q224(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = RunCache.dir(t.dir,
      s"uni_byte_model_${UniSeedTopK}_$UniRounds") { d =>
      Unigram.writeModel(spark,
        Unigram.trainPiecesFrom(
          Unigram.wordTable(graft.Fanout(t.documents), col("text"),
            byteLevel = true),
          UniSeedTopK, UniRounds), d)
    }
    TextOps.roundTrip(docPretokens(t, byteLevel = true),
      TextOps.Encoder.Unigram(Unigram.loadModel(spark, dir), byteLevel = true))
      .select(col("id").as("doc_id"), col("n_pretokens"),
        col("n_mismatch"), col("rt_md5"))
  }

  private lazy val q224Sql =
    s"""SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_pretokens,
       |  CAST(0 AS BIGINT) AS n_mismatch,
       |  md5(array_to_string(ws, '')) AS rt_md5
       |FROM (SELECT doc_id, regexp_extract_all(lower(text),
       |    '${TextOps.byteLevelTokenPattern}') AS ws FROM documents)
       |WHERE len(ws) > 0""".stripMargin

  // ===== q225 WordPiece round-trip integrity ==============================
  // The THIRD family's deploy gate: every lowercased whitespace word
  // encodes greedy-longest-match-first through the STORED WordPiece
  // vocabulary (q216's artifact) and detokenizes back (first piece
  // verbatim + '##'-stripped continuations). The trainer's vocabulary
  // contains every initial symbol of its own word table, so the training
  // corpus segments UNK-free and the round trip is exact — which is
  // precisely what the oracle asserts (original-stream md5, 0 mismatches).

  private def q225(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = wpModelDir(t)
    TextOps.roundTrip(docPretokens(t, byteLevel = false),
      TextOps.Encoder.WordPiece(TextOps.loadWordPieceVocab(spark, dir)))
      .select(col("id").as("doc_id"), col("n_pretokens"),
        col("n_mismatch"), col("rt_md5"))
  }

  private val q225Sql =
    """SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_pretokens,
      |  CAST(0 AS BIGINT) AS n_mismatch,
      |  md5(array_to_string(ws, '')) AS rt_md5
      |FROM (SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'),
      |    x -> len(x) > 0) AS ws FROM documents)
      |WHERE len(ws) > 0""".stripMargin

  // ===== q226 token-ID shard export =======================================
  // q218's streams made literally consumable: a pretraining loader mmaps
  // INT token ids against a frozen (piece → id) vocabulary, not piece
  // strings. The vocab artifact freezes the GPT-2 layout (byte alphabet
  // 0..255 in byte order, merge products 256+round) beside the stored
  // tokenizer; the export maps every piece through it (expression data,
  // loud on OOV) and hashes the DECIMAL id stream per (source, bin) —
  // closing the last gap between "gate-proven contract" and "file a
  // trainer opens". Oracle = q218's chain with the vocab CTE composed in.

  private def q226(t: Tables): DataFrame = tokenIdShards(t, eos = None)

  private def tokenIdShards(t: Tables, eos: Option[Long],
      interleave: Boolean = false): DataFrame = {
    val spark = t.documents.sparkSession
    val bpeDir = bpeByteModelDir(t)
    val merges = TextOps.loadBpeMerges(spark, bpeDir)
    val vocabDir = RunCache.dir(t.dir, s"bpe_vocab_ids_$BpeRounds") { d =>
      TextOps.writeBpeVocabIds(spark,
        TextOps.bpeVocabIdsByteLevel(merges), d)
    }
    val vocab = TextOps.loadBpeVocabIds(spark, vocabDir)
    shardTail(TextOps.tokenArrays(shardPretokens(graft.Fanout(t.documents)),
      TextOps.Encoder.Bpe(merges, byteLevel = true)), Some(vocab), eos, interleave)
  }

  /** Packs per-doc byte-BPE tokens `dt(source, doc_id, toks)` into
    * PackBudget shards per source: piece-string streams without a
    * `vocab` (`packShards`), token-id streams with one (`packShardIds`),
    * EOS-separated when `eos` is also given (`packShardIdsSep`).
    */
  private def shardTail(dt: DataFrame, vocab: Option[Map[String, Long]],
      eos: Option[Long], interleave: Boolean = false): DataFrame = {
    import graft.operators.Curation
    val packed = (vocab, eos) match {
      case (None, None) =>
        Curation.packShards(dt, col("source"), col("doc_id"), col("toks"),
          PackBudget, partitions = 32)
      case (Some(v), None) =>
        Curation.packShardIds(dt, col("source"), col("doc_id"),
          col("toks"), v, PackBudget, partitions = 32,
          interleave = interleave)
      case (Some(v), Some(e)) =>
        Curation.packShardIdsSep(dt, col("source"), col("doc_id"),
          col("toks"), v, e, PackBudget, partitions = 32,
          interleave = interleave)
    }
    packed.select(col("domain").as("source"), col("bin"), col("n_tokens"),
      col("stream_md5"))
  }

  private lazy val q226Sql = tokenIdShardsSql(eos = None)

  private def tokenIdShardsSql(eos: Option[Long],
      interleave: Boolean = false): String = {
    val ordKey =
      if (interleave)
        s"${Dedup.SharedHash.hash28Sql("CAST(doc_id AS VARCHAR)")}, doc_id"
      else "doc_id"
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = true, bpeWc0ByteLevel)},
       |${shardTailSql("documents", ids = true, eos, "", ordKey)}""".stripMargin
  }

  /** The shard tail of the byte-BPE oracles, after a [[bpeCteChain]] of
    * BpeRounds rounds: the `vparts/v/wi` GPT-2 id layout when `ids`,
    * tokenize `src(source, doc_id, text)` (`dwr/dw/dt`), append the `eos`
    * id (`de`) when given, prefix-sum pack into PackBudget bins
    * (`${p}d/${p}c/${p}m`, in `ordKey` order) and hash each bin's stream of
    * pieces, or of decimal ids when `ids`. Ends with the final SELECT.
    */
  private def shardTailSql(src: String, ids: Boolean, eos: Option[Long],
      p: String, ordKey: String = "doc_id"): String = {
    val vocab = if (ids) s"$byteBpeIdVocabCtesSql,\n" else ""
    val (pieces, wordToks) = if (ids) ("ids", "wi") else ("syms", s"wc$BpeRounds")
    val de = eos.fold("") { e =>
      s"""de AS (SELECT source, doc_id,
         |    list_append(toks, CAST($e AS BIGINT)) AS toks FROM dt),
         |""".stripMargin
    }
    val stream = if (ids)
      s"""list_transform(flatten(list(sl ORDER BY $ordKey)),
         |    x -> CAST(x AS VARCHAR))""".stripMargin
    else s"flatten(list(sl ORDER BY $ordKey))"
    s"""${vocab}dwr AS (SELECT source, doc_id,
       |    regexp_extract_all(lower(text), '${TextOps.byteLevelTokenPattern}') AS ws
       |  FROM $src),
       |dw AS (SELECT source, doc_id, ws[i] AS w, i AS pos
       |  FROM dwr, unnest(generate_series(1, len(ws))) AS t(i)),
       |dt AS (SELECT source, doc_id, flatten(list($pieces ORDER BY pos)) AS toks
       |  FROM dw JOIN $wordToks USING (w) GROUP BY 1, 2),
       |$de${p}d AS (SELECT source, doc_id, toks,
       |    CAST(len(toks) AS BIGINT) AS n_tok FROM ${if (eos.isDefined) "de" else "dt"}),
       |${p}c AS (SELECT source, doc_id, toks, n_tok,
       |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY $ordKey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
       |  FROM ${p}d),
       |${p}m AS (SELECT source, doc_id, t.b AS bin,
       |    list_slice(toks, greatest(t.b * $PackBudget, cum) - cum + 1,
       |      least((t.b + 1) * $PackBudget, cum + n_tok) - cum) AS sl,
       |    CAST(least((t.b + 1) * $PackBudget, cum + n_tok)
       |      - greatest(t.b * $PackBudget, cum) AS BIGINT) AS span
       |  FROM ${p}c, unnest(generate_series(cum // $PackBudget,
       |    (cum + n_tok - 1) // $PackBudget)) AS t(b)
       |  WHERE n_tok > 0)
       |SELECT source, bin, CAST(sum(span) AS BIGINT) AS n_tokens,
       |  md5(array_to_string($stream, ' ')) AS stream_md5
       |FROM ${p}m GROUP BY 1, 2""".stripMargin
  }

  /** The byte-BPE GPT-2 id layout as oracle CTEs over `wc$BpeRounds`:
    * `v` maps the 256 byte pieces to 0..255 and round i's merge product to
    * 255 + i (lowest id wins); `wi` is each word's id list.
    */
  private def byteBpeIdVocabCtesSql: String = {
    val products = (1 to BpeRounds).map(i =>
      s"SELECT a || b AS piece, CAST(${255 + i} AS BIGINT) AS id FROM p$i")
      .mkString("\n  UNION ALL ")
    s"""vparts AS (
       |  SELECT lpad(upper(to_hex(i)), 2, '0') AS piece, CAST(i AS BIGINT) AS id
       |  FROM generate_series(0, 255) AS t(i)
       |  UNION ALL $products),
       |v AS MATERIALIZED (SELECT piece, min(id) AS id FROM vparts GROUP BY 1),
       |wi AS MATERIALIZED (SELECT w, list(id ORDER BY j) AS ids FROM (
       |    SELECT u.w, u.j, v.id FROM (
       |      SELECT w, syms[j] AS s, j
       |      FROM wc$BpeRounds, unnest(generate_series(1, len(syms))) AS t(j)) u
       |    JOIN v ON u.s = v.piece)
       |  GROUP BY w)""".stripMargin
  }

  // ===== q227/q228 TRAINED multiclass language identification ============
  // The actual CCNet/RefinedWeb stage 0 — a trained fastText-style
  // classifier over hashed char 2-/3-grams (q29's stopword scorer is the
  // rule-based teaching form, exactly the relationship q175's add-one
  // had to q211's Kneser-Ney): one-vs-rest logistic heads trained with
  // q179's integerized gradient recipe over a SHARED featurization, a
  // stored K-row artifact, argmax serving with alphabetic tie-break.
  // q227 trains-and-stores on everything and classifies everything
  // (is_match against the fixture's lang column, q29's report shape);
  // q228 trains on the doc_id % 3 ≠ 0 split ONLY and reports the
  // held-out confusion matrix (the q182 protocol — on this fixture the
  // lang label is independent of the text, and the matrix SAYS so; the
  // spec shows the same protocol reporting diagonal generalization on a
  // fixture where language signal actually transfers). The oracle
  // re-derives every class's weights from scratch with unrolled CTE
  // rounds — per-class exact-integer gradients, half-up integer-division
  // weight updates — and must land on the identical model.

  private val LangDim = 512
  private val LangIters = 12
  private val LangLrNum = 1L
  private val LangLrDen = 2L
  /** CCNet stage-0 keep rule for the curation flagships: winning-class
    * raw score ≥ τ, where τ is the STORED quantile-artifact threshold
    * ([[graft.operators.TextOps.writeLangIdGate]]): the exact 5th
    * percentile of the training corpus's winning scores, written next
    * to the model (one artifact family carries model AND threshold).
    * CCNet publishes the rule on the PROBABILITY (keep when p ≥ 0.5 ⟺
    * s ≥ 0), but this fixture's one-vs-rest heads are over-confident
    * (every winning score lands in [1.8, 52] at sf0.01 — measured
    * before pinning), so s ≥ 0 would be a vacuous gate; the measured
    * 5th-percentile quantile makes the stage a REAL split (a few
    * percent of docs drop on langid alone) while leaving the downstream
    * dedup/trainer stages a full-sized corpus. The oracle replays the
    * quantile derivation ([[langIdGateCtes]]' lg_tau) — the rank rule
    * is [[graft.operators.Profiling.exactQuantiles]]' lower-nearest
    * element at rank max(1, ⌈p·n − 1e-6⌉).
    */
  private val LangGateProb = 0.05

  /** The stored gate threshold for the trainAll model (1-row read of
    * the [[graft.operators.TextOps.writeLangIdGate]] artifact).
    */
  private def langGateTau(t: Tables): Double =
    TextOps.loadLangIdGateTau(t.documents.sparkSession,
      langIdModelDir(t, trainAll = true))

  private def langIdModelDir(t: Tables, trainAll: Boolean): String = {
    val spark = t.documents.sparkSession
    val (tag, slice) =
      if (trainAll) ("langid_model", t.documents)
      else ("langid_eval_model", t.documents.filter(col("doc_id") % 3 =!= 0))
    RunCache.dir(t.dir,
      s"${tag}_${LangDim}_${LangIters}_${LangLrNum}_$LangLrDen") { d =>
      TextOps.writeLangIdModel(spark,
        TextOps.trainHashedLangId(graft.Fanout(slice), col("doc_id"),
          col("text"), col("lang"), LangDim, LangIters, LangLrNum,
          LangLrDen), d)
      // the gate quantile is measured on the TRAINING corpus under the
      // just-stored model — τ versions with the model it gates for
      if (trainAll)
        TextOps.writeLangIdGate(graft.Fanout(slice), col("doc_id"),
          col("text"), d, LangGateProb, d)
    }
  }

  /** The word-level bigram LM (q176's stored model), trained on the
    * doc_id % 10 = 0 slice.
    */
  private def lmModelDir(t: Tables): String =
    RunCache.dir(t.dir, s"lm_model_${LmMaxV}_$LmMaxB") { d =>
      TextOps.writeLmModel(
        graft.Fanout(t.documents.filter(col("doc_id") % 10 === 0)),
        col("doc_id"), col("text"), 2, LmMaxV, LmMaxB, d)
    }

  /** The persisted (id, ws) pre-tokens of the corpus documents. */
  private def docPretokens(t: Tables, byteLevel: Boolean): DataFrame =
    TextOps.pretokenize(graft.Fanout(t.documents), Seq(col("doc_id").as("id")),
      col("text"), byteLevel)

  /** The persisted (source, doc_id, ws) byte-level pre-tokens of a
    * (source, doc_id, text) frame — the input of the shard tails'
    * tokenize.
    */
  private def shardPretokens(docs: DataFrame): DataFrame =
    TextOps.pretokenize(docs, Seq(col("source"), col("doc_id")), col("text"),
      byteLevel = true)

  /** The byte-level BPE merges, trained on the full corpus. */
  private def bpeByteModelDir(t: Tables): String =
    RunCache.dir(t.dir, s"bpe_byte_model_$BpeRounds") { d =>
      TextOps.writeBpeModel(
        TextOps.bpeMerges(graft.Fanout(t.documents), col("text"),
          BpeRounds, requireFull = true, byteLevel = true), d)
    }

  /** The WordPiece vocabulary, trained on the full corpus. */
  private def wpModelDir(t: Tables): String =
    RunCache.dir(t.dir, s"wp_model_$WpRounds") { d =>
      TextOps.writeWordPieceModel(
        TextOps.wordPieceWordTable(graft.Fanout(t.documents), col("text")),
        TextOps.wordPieceMerges(graft.Fanout(t.documents), col("text"),
          WpRounds, requireFull = true), d)
    }

  /** The word-level Unigram pieces, trained on the full corpus. */
  private def uniModelDir(t: Tables): String =
    RunCache.dir(t.dir, s"uni_model_${UniSeedTopK}_$UniRounds") { d =>
      Unigram.writeModel(t.documents.sparkSession,
        Unigram.trainPieces(graft.Fanout(t.documents), col("text"),
          UniSeedTopK, UniRounds), d)
    }

  /** The langid drift reference: the trainAll model's predictions over
    * the doc_id % 3 ≠ 0 slice.
    */
  private def langIdRefDir(t: Tables): String =
    RunCache.dir(t.dir,
      s"langid_ref_${LangDim}_${LangIters}_${LangLrNum}_$LangLrDen") { d =>
      TextOps.writeLangIdReference(
        graft.Fanout(t.documents.filter(col("doc_id") % 3 =!= 0)),
        col("doc_id"), col("text"), langIdModelDir(t, trainAll = true), d)
    }

  private def q227(t: Tables): DataFrame =
    TextOps.langIdScoreAgainstModel(graft.Fanout(t.documents),
        col("doc_id"), col("text"), langIdModelDir(t, trainAll = true))
      .join(t.documents.select(col("doc_id").as("id"), col("lang")), "id")
      .select(col("id").as("doc_id"), col("pred_lang"), col("score"),
        (col("pred_lang") === col("lang")).as("is_match"))

  private def q228(t: Tables): DataFrame =
    TextOps.langIdScoreAgainstModel(
        graft.Fanout(t.documents.filter(col("doc_id") % 3 === 0)),
        col("doc_id"), col("text"), langIdModelDir(t, trainAll = false))
      .join(t.documents.select(col("doc_id").as("id"), col("lang")), "id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** The multiclass-langid oracle generator — clsSql's shape with a class
    * dimension: weights live as ONE BIGINT-ten-thousandths list PER CLASS
    * (w$i has K rows), scores/residuals/gradients carry `ci`, and the
    * update CTE is a flat (class × feature) join folded back to lists.
    * Serving replays the engine's doc-order gram fold (bigrams then
    * trigrams) per class and argmaxes with the same (score DESC, ci ASC)
    * tie-break. `finalSelect` sees CTE `sc(id, lang, pred_lang, score)`.
    */
  private def langIdGram(e: String) = Dedup.SharedHash.hash28Sql(e)

  /** The char 2-/3-gram list of a normalized text expression — the
    * oracle replay of langIdBase's featurization, shared by training
    * and every serving site.
    */
  private def langIdGramList(t: String): String =
    s"""list_concat(
       |  list_transform(generate_series(1, len($t) - 1), i -> substr($t, i, 2)),
       |  CASE WHEN len($t) >= 3
       |    THEN list_transform(generate_series(1, len($t) - 2), i -> substr($t, i, 3))
       |    ELSE CAST([] AS VARCHAR[]) END)""".stripMargin

  /** TRAINING replay CTE chain (d0 … w$LangIters) — re-derives the
    * stored langid model's weights from scratch; embeddable wherever a
    * serving site needs the frozen model (q227/q228 via [[langIdSql]],
    * the langid-gated curation flagships via [[langIdGateCtes]]).
    */
  private def langIdTrainCtes(trainPred: String): String = {
    val dim = LangDim
    def h(e: String) = langIdGram(e)
    def iterCtes(i: Int): String =
      s"""s$i AS MATERIALIZED (SELECT fv.id, fv.yi, w.ci, fv.fs,
         |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(fv.fs, x -> (w.wil[x.j + 1] / 10000.0) * x.c)),
         |      (a, b) -> a + b), 4) AS s
         |  FROM fv CROSS JOIN w${i - 1} w),
         |r$i AS MATERIALIZED (SELECT id, ci, fs,
         |    CAST(round((round(1/(1 + exp(-s)), 4)
         |      - CASE WHEN yi = ci THEN 1 ELSE 0 END) * 10000) AS BIGINT) AS ri
         |  FROM s$i),
         |g$i AS (SELECT r.ci, u.x.j AS j, sum(r.ri * u.x.c) AS g
         |        FROM r$i r, unnest(r.fs) AS u(x) GROUP BY 1, 2),
         |w$i AS MATERIALIZED (SELECT ci, list(wv - dd ORDER BY j) AS wil FROM (
         |    SELECT w.ci, t0.jj AS j, w.wil[t0.jj + 1] AS wv,
         |      CASE WHEN COALESCE(g.g, 0) >= 0
         |        THEN (2*$LangLrNum*COALESCE(g.g, 0) + $LangLrDen*COALESCE(nf.nj, 1))
         |               // (2*$LangLrDen*COALESCE(nf.nj, 1))
         |        ELSE -((2*$LangLrNum*(-COALESCE(g.g, 0)) + $LangLrDen*COALESCE(nf.nj, 1))
         |               // (2*$LangLrDen*COALESCE(nf.nj, 1))) END AS dd
         |    FROM w${i - 1} w CROSS JOIN generate_series(0, $dim) AS t0(jj)
         |    LEFT JOIN g$i g ON g.ci = w.ci AND g.j = t0.jj
         |    LEFT JOIN nf ON nf.j = t0.jj)
         |  GROUP BY ci)""".stripMargin
    s"""d0 AS (SELECT doc_id AS id, lang,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |b AS MATERIALIZED (SELECT id, lang, t FROM d0
       |  WHERE len(t) >= 2 AND ($trainPred)),
       |cls AS MATERIALIZED (SELECT lang AS cl,
       |    CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS ci
       |  FROM (SELECT DISTINCT lang FROM b)),
       |f0 AS (SELECT id, lang, unnest(${langIdGramList("t")}) AS f FROM b),
       |fc AS (SELECT id, lang, ${langIdGram("f")} % $dim AS j,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM f0 GROUP BY 1, 2, 3),
       |fv AS MATERIALIZED (SELECT id, cc.ci AS yi,
       |    list_append(list_sort(list({'j': j, 'c': fc.c})),
       |      {'j': CAST($dim AS BIGINT), 'c': CAST(1 AS BIGINT)}) AS fs
       |  FROM fc JOIN cls cc ON fc.lang = cc.cl GROUP BY id, cc.ci),
       |nf AS MATERIALIZED (SELECT u.x.j AS j, CAST(sum(u.x.c) AS BIGINT) AS nj
       |  FROM fv, unnest(fv.fs) AS u(x) GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT ci, list_transform(generate_series(0, $dim),
       |    x -> CAST(0 AS BIGINT)) AS wil FROM cls),
       |${(1 to LangIters).map(iterCtes).mkString(",\n")}""".stripMargin
  }

  private def langIdSql(trainPred: String, servePred: String,
      finalSelect: String): String = {
    val dim = LangDim
    s"""WITH ${langIdTrainCtes(trainPred)},
       |sv AS (SELECT id, lang, t FROM d0 WHERE len(t) >= 2 AND ($servePred)),
       |u AS (SELECT sv.id, sv.lang, w.ci,
       |    round(w.wil[$dim + 1] / 10000.0
       |      + list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(${langIdGramList("sv.t")},
       |            x -> w.wil[(${langIdGram("x")} % $dim) + 1] / 10000.0)),
       |        (a, b) -> a + b), 4) AS s
       |  FROM sv CROSS JOIN w$LangIters w),
       |pr AS (SELECT id, lang, ci, s,
       |    row_number() OVER (PARTITION BY id ORDER BY s DESC, ci) AS rn
       |  FROM u),
       |sc AS (SELECT p.id, p.lang, c.cl AS pred_lang, p.s AS score
       |  FROM pr p JOIN cls c USING (ci) WHERE rn = 1)
       |$finalSelect""".stripMargin
  }

  /** SERVING + GATE replay over any (doc_id, text) source CTE: score
    * every doc under the replayed frozen model (the exact doc-order
    * gram fold + argmax tie-break of langIdScore) and keep ids whose
    * winning score clears the STORED gate quantile τ — replayed in
    * lg_tau as the [[graft.operators.Profiling.exactQuantiles]] rank
    * rule (lower-nearest element at rank max(1, ⌈p·n − 1e-6⌉)) over the
    * winning scores of the RAW training corpus (`documents` — always,
    * even when `src` is the extracted-text chain: τ versions with the
    * model's own training corpus, not with the serving input). Docs
    * whose normalized text is shorter than 2 chars have no grams, no
    * score, and do not pass (matching langIdBase's length filter). CTE
    * names are lg_-prefixed to coexist with the tg_/ht_/x_/pk_ chains.
    * Ends in `lg_keep(doc_id)`.
    */
  private def langIdGateCtes(src: String): String = {
    val dim = LangDim
    def serve(p: String, from: String) =
      s"""${p}sv AS (SELECT doc_id AS id,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
         |  FROM $from),
         |${p}u AS (SELECT s0.id, w.ci,
         |    round(w.wil[$dim + 1] / 10000.0
         |      + list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(${langIdGramList("s0.t")},
         |            x -> w.wil[(${langIdGram("x")} % $dim) + 1] / 10000.0)),
         |        (a, b) -> a + b), 4) AS s
         |  FROM (SELECT id, t FROM ${p}sv WHERE len(t) >= 2) s0
         |  CROSS JOIN w$LangIters w),
         |${p}pr AS (SELECT id, ci, s,
         |    row_number() OVER (PARTITION BY id ORDER BY s DESC, ci) AS rn
         |  FROM ${p}u)""".stripMargin
    s"""${serve("lg_", src)},
       |${serve("lg_t", "documents")},
       |lg_tau AS (SELECT s AS tau FROM (
       |    SELECT s, row_number() OVER (ORDER BY s) AS r,
       |      count(*) OVER () AS n
       |    FROM (SELECT s FROM lg_tpr WHERE rn = 1))
       |  WHERE r = greatest(1,
       |    CAST(ceil($LangGateProb * n - 0.000001) AS BIGINT))),
       |lg_keep AS (SELECT id AS doc_id FROM lg_pr, lg_tau
       |  WHERE rn = 1 AND s >= tau)""".stripMargin
  }

  private lazy val q227Sql = langIdSql("TRUE", "TRUE",
    """SELECT id AS doc_id, pred_lang, score,
      |  (pred_lang = lang) AS is_match FROM sc""".stripMargin)

  private lazy val q228Sql = langIdSql("id % 3 <> 0", "id % 3 = 0",
    """SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
      |FROM sc GROUP BY 1, 2""".stripMargin)

  // ===== q231 language-ID drift monitoring ================================
  // The retrain-trigger signal for the stored classifier made
  // first-class and ORACLE-GATED (the n_unk counterpart of the tokenizer
  // family): the model trains on everything (q227's cached artifact),
  // the REFERENCE distribution freezes from the doc_id % 3 ≠ 0 slice's
  // predictions (writeLangIdReference), and the % 3 = 0 slice serves as
  // the monitored "batch" — per class (n_batch, n_ref, smoothed
  // fractions) and the q200-recipe Jensen-Shannon divergence. The
  // oracle re-trains the model from scratch (langIdSql's unrolled
  // rounds), replays both distributions from the SAME sc, and must land
  // on the identical round-4 jsd.

  private def q231(t: Tables): DataFrame = {
    val modelDir = langIdModelDir(t, trainAll = true)
    val refDir = langIdRefDir(t)
    TextOps.langIdDriftReport(
      graft.Fanout(t.documents.filter(col("doc_id") % 3 === 0)),
      col("doc_id"), col("text"), modelDir, refDir)
  }

  private lazy val q231Sql = langIdSql("TRUE", "TRUE",
    """SELECT * FROM (
      |  WITH cells AS (
      |    SELECT c.cl,
      |      CAST(coalesce(b.bn, 0) AS BIGINT) AS bn,
      |      CAST(coalesce(r.rn, 0) AS BIGINT) AS rn,
      |      CAST(coalesce(b.bn, 0) + 1 AS DOUBLE) / (bt.t + kk.k) AS p,
      |      CAST(coalesce(r.rn, 0) + 1 AS DOUBLE) / (rt.t + kk.k) AS q
      |    FROM cls c
      |    LEFT JOIN (SELECT pred_lang, count(*) AS bn FROM sc
      |               WHERE id % 3 = 0 GROUP BY 1) b ON b.pred_lang = c.cl
      |    LEFT JOIN (SELECT pred_lang, count(*) AS rn FROM sc
      |               WHERE id % 3 <> 0 GROUP BY 1) r ON r.pred_lang = c.cl
      |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS t FROM sc
      |                WHERE id % 3 = 0) bt
      |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS t FROM sc
      |                WHERE id % 3 <> 0) rt
      |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS k FROM cls) kk),
      |  ct AS (SELECT cl, bn, rn, p, q,
      |      0.5 * p * ln(2 * p / (p + q))
      |        + 0.5 * q * ln(2 * q / (p + q)) AS term
      |    FROM cells),
      |  tj AS (SELECT round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(list_sort(list({'w': cl, 't': term})),
      |        x -> x.t)), (a, v) -> a + v), 4) AS jsd FROM ct)
      |  SELECT cl AS pred_lang, bn AS n_batch, rn AS n_ref,
      |    round(p, 6) AS batch_p, round(q, 6) AS ref_p, tj.jsd
      |  FROM ct CROSS JOIN tj)""".stripMargin)

  // ===== q249 drift ALERT decision over resampled batches =================
  // The monitoring contract a deployment actually sets (q231 reports ONE
  // jsd; an operator needs a per-batch alert with a calibrated
  // threshold): the monitored slice resamples into eight deterministic
  // in-distribution batches ((doc_id div 3) % 8 — each a random-ish
  // subsample of the same distribution) plus one PLANTED drifted batch
  // (the slice's true-'en' docs only — single-language skew, the
  // failure mode language-ID drift monitoring exists to catch), and
  // each batch gets the q231-recipe smoothed JSD against the frozen
  // reference plus alert = jsd > tau. The gate pins the FALSE-POSITIVE
  // half of the calibration: eight resampled in-distribution batches,
  // every one below tau (FPR = 0 at the documented threshold, with the
  // per-batch jsd spread visible in the row values). The ALERT-FIRES
  // half cannot be planted from this corpus — the fixture's lang label
  // is independent of the text (q182's lesson), so the trained model
  // predicts one class everywhere and every corpus subset has the same
  // prediction distribution; LangIdDriftSpec therefore pins the
  // separation (in-distribution FPR 0 AND planted single-language batch
  // alerting > 0.2) on the disjoint-alphabet fixture where language
  // signal actually transfers.

  private val DriftTau = 0.08

  private def q249(t: Tables): DataFrame = {
    val modelDir = langIdModelDir(t, trainAll = true)
    val refDir = langIdRefDir(t)
    val mon = t.documents.filter(col("doc_id") % 3 === 0)
    val inDist = mon.select(expr("(doc_id div 3) % 8").as("batch"),
      col("doc_id"), col("text"))
    TextOps.langIdDriftBatches(graft.Fanout(inDist),
      col("doc_id"), col("text"), col("batch"), modelDir, refDir, DriftTau)
  }

  private lazy val q249Sql = langIdSql("TRUE", "TRUE",
    s"""SELECT * FROM (
      |  WITH mon AS (
      |    SELECT s.id, s.pred_lang, (s.id // 3) % 8 AS batch
      |    FROM sc s WHERE s.id % 3 = 0),
      |  bts AS (SELECT batch, CAST(count(*) AS BIGINT) AS bt
      |          FROM mon GROUP BY 1),
      |  bns AS (SELECT batch, pred_lang, CAST(count(*) AS BIGINT) AS bn
      |          FROM mon GROUP BY 1, 2),
      |  refc AS (SELECT pred_lang, count(*) AS rn FROM sc
      |           WHERE id % 3 <> 0 GROUP BY 1),
      |  rts AS (SELECT CAST(count(*) AS BIGINT) AS t FROM sc
      |          WHERE id % 3 <> 0),
      |  kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cls),
      |  cells AS (
      |    SELECT b.batch, b.bt, c.cl,
      |      CAST(coalesce(n.bn, 0) + 1 AS DOUBLE) / (b.bt + kk.k) AS p,
      |      CAST(coalesce(r.rn, 0) + 1 AS DOUBLE) / (rts.t + kk.k) AS q
      |    FROM bts b
      |    CROSS JOIN cls c
      |    LEFT JOIN bns n ON n.batch = b.batch AND n.pred_lang = c.cl
      |    LEFT JOIN refc r ON r.pred_lang = c.cl
      |    CROSS JOIN rts CROSS JOIN kk),
      |  ct AS (SELECT batch, bt, cl,
      |      0.5 * p * ln(2 * p / (p + q))
      |        + 0.5 * q * ln(2 * q / (p + q)) AS term
      |    FROM cells),
      |  tj AS (SELECT batch, any_value(bt) AS n_docs,
      |      round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |        list_transform(list_sort(list({'w': cl, 't': term})),
      |          x -> x.t)), (a, v) -> a + v), 4) AS jsd
      |    FROM ct GROUP BY batch)
      |  SELECT batch, n_docs, jsd, (jsd > $DriftTau) AS alert FROM tj)""".stripMargin)

  // ===== q232 word-blocklist content filter ===============================
  // The wordlist-based safety stage published pipelines run before any
  // model-based filter (C4 dropped pages on ANY blocklist hit, Raffel et
  // al. 2020 §2.2; Dolma/RefinedWeb gate on the blocked FRACTION — the
  // form here): whitespace tokens vs a bounded blocklist, keep while
  // n_blocked·10⁴ < τ·n_words (exact integers — no float boundary). The
  // fixture list {slow, dup, stale} at τ = 400 (4%) splits sf0.01 about
  // 62/38, so the gate exercises both branches.

  private val BlockList = Seq("slow", "dup", "stale")
  private val BlockTau = 400L

  private def q232(t: Tables): DataFrame =
    TextOps.blocklistFilter(graft.Fanout(t.documents), col("doc_id"),
      col("text"), BlockList, BlockTau)
      .select(col("id").as("doc_id"), col("n_words"), col("n_blocked"),
        col("blocked_ratio"), col("kept"))

  private val q232Sql =
    s"""WITH w AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '\\S+') AS ws FROM documents),
       |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(ws, x -> list_contains(
       |      [${BlockList.map(w => s"'$w'").mkString(", ")}], x))) AS BIGINT)
       |      AS n_blocked
       |  FROM w)
       |SELECT doc_id, n_words, n_blocked,
       |  CASE WHEN n_words = 0 THEN 0.0
       |    ELSE round(CAST(n_blocked AS DOUBLE) / n_words, 4) END
       |    AS blocked_ratio,
       |  (n_words = 0 OR n_blocked * 10000 < $BlockTau * n_words) AS kept
       |FROM c""".stripMargin

  // ===== q233 EOS-separated token-id shards ===============================
  // The literal GPT-2 packing contract (Radford et al. 2019: tokenize,
  // append <|endoftext|>, concatenate, slice into fixed contexts) on
  // q226's export: every document contributes its ids plus one trailing
  // EOS — so a loader slicing any shard recovers document boundaries and
  // the LM observes the end-of-document event. The separator counts
  // against the budget (it occupies a context position); the EOS id is
  // the GPT-2 convention's next free slot past the merge products
  // (256 + rounds). The oracle is q226's chain with one list_append CTE
  // composed in — every bin boundary shifts, so the hash catches a
  // separator dropped, doubled, or placed before the document instead
  // of after.

  // lazy: BpeRounds is declared further down the file (object vals
  // initialize in declaration order)
  private lazy val EosId = 256L + BpeRounds

  private def q233(t: Tables): DataFrame =
    tokenIdShards(t, eos = Some(EosId))

  private lazy val q233Sql = tokenIdShardsSql(eos = Some(EosId))

  // ===== q250 content-hash-interleaved shard export =======================
  // The shard-order consumption contract's OPT-IN half (the default
  // export is id-ordered — shuffle belongs to the loader; see
  // packShardIds' scaladoc): for loaders that read shards strictly
  // sequentially, the per-domain pack order becomes (hash28(id), id) —
  // a deterministic content-hash interleave baked into the artifact.
  // Same q233 EOS contract, same bin invariants; ONLY the order key
  // changes, and the oracle replays the identical hash28 ordering, so
  // the hash pins that the interleave is the documented permutation and
  // nothing else.

  private def q250(t: Tables): DataFrame =
    tokenIdShards(t, eos = Some(EosId), interleave = true)

  private lazy val q250Sql =
    tokenIdShardsSql(eos = Some(EosId), interleave = true)

  // ===== q234/q235 perceptual image hash + image near-dup pairs ==========
  // Image DEDUP — the multimodal counterpart of q32's SimHash, and the
  // stage LAION ran over billions of images: q234 fingerprints every
  // REAL-decoded image with the average hash (8×8 exact-integer nearest
  // resize → ITU-601 luma numerators → strict above-mean bits, carried
  // as non-negative 32-bit halves so bit arithmetic is sign-safe in
  // both engines); q235 plants a near-duplicate family (base image =
  // id % 40, odd classes perturb the one source pixel cell (3,3)
  // samples) and reports all pairs within hamming 3 via the lossless
  // 4×16-bit banding — identical rows to the O(n²) scan the oracle
  // runs. Decode runs ONCE per image; only 64-bit fingerprints shuffle.

  private val AHashGroups = 40

  private def q234(t: Tables): DataFrame = {
    val withImg = Multimodal.withImageColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id")
    Multimodal.decodeImageAHash(withImg, "media")
      .select(col("doc_id"), col("img_w"), col("img_h"),
        col("ah_hi"), col("ah_lo"))
  }

  /** The aHash cell/bit CTEs shared by q234/q235: per doc, the 8×8
    * resized luma grid of [[Multimodal.ImageCodec.synthImage]](idExpr)
    * (optionally with q235's variant perturbation), the strict
    * above-mean bits, and the (hi, lo) halves.
    */
  private def ahashSql(idExpr: String, variant: Boolean): String = {
    val lum =
      s"""299 * (($idExpr * 31 + ((tx.x * w) // 8) * 7
         |      + ((ty.y * h) // 8) * 13) % 256)
         |  + 587 * (($idExpr + ((tx.x * w) // 8) * ((ty.y * h) // 8)) % 256)
         |  + 114 * ((((tx.x * w) // 8) + 3 * ((ty.y * h) // 8)) % 256)""".stripMargin
    val lumExpr =
      if (variant)
        s"""CASE WHEN (doc_id // $AHashGroups) % 2 = 1
           |      AND tx.x = 3 AND ty.y = 3 THEN 255000
           |    ELSE $lum END""".stripMargin
      else lum
    s"""d AS (SELECT doc_id,
       |    CAST(8 + ($idExpr) % 24 AS INTEGER) AS w,
       |    CAST(8 + (($idExpr) // 24) % 24 AS INTEGER) AS h
       |  FROM documents),
       |cell AS (SELECT doc_id, w, h, ty.y * 8 + tx.x AS i,
       |    CAST($lumExpr AS BIGINT) AS lum
       |  FROM d,
       |    unnest(generate_series(0, 7)) AS tx(x),
       |    unnest(generate_series(0, 7)) AS ty(y)),
       |s AS (SELECT doc_id, sum(lum) AS tot FROM cell GROUP BY 1),
       |ah AS (SELECT c.doc_id, c.w, c.h,
       |    CAST(sum(CASE WHEN c.i >= 32 AND 64 * c.lum > s.tot
       |      THEN CAST(1 AS BIGINT) << (c.i - 32) ELSE 0 END) AS BIGINT) AS ah_hi,
       |    CAST(sum(CASE WHEN c.i < 32 AND 64 * c.lum > s.tot
       |      THEN CAST(1 AS BIGINT) << c.i ELSE 0 END) AS BIGINT) AS ah_lo
       |  FROM cell c JOIN s USING (doc_id) GROUP BY 1, 2, 3)""".stripMargin
  }

  private lazy val q234Sql =
    s"""WITH ${ahashSql("doc_id", variant = false)}
       |SELECT doc_id, w AS img_w, h AS img_h, ah_hi, ah_lo FROM ah""".stripMargin

  private def q235(t: Tables): DataFrame = {
    val withImg = Multimodal.withImageColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id", AHashGroups)
    val hashes = Multimodal.decodeImageAHash(withImg, "media")
      .select(col("doc_id").as("id"), col("ah_hi"), col("ah_lo"))
    Dedup.ahashPairs(hashes, MaxHamming)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  private lazy val q235Sql =
    s"""WITH ${ahashSql(s"doc_id % $AHashGroups", variant = true)}
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |  CAST(bit_count(xor(x.ah_hi, y.ah_hi))
       |    + bit_count(xor(x.ah_lo, y.ah_lo)) AS BIGINT) AS hamming
       |FROM ah x JOIN ah y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.ah_hi, y.ah_hi))
       |    + bit_count(xor(x.ah_lo, y.ah_lo)) <= $MaxHamming""".stripMargin

  // ===== q236 stored image-fingerprint index (probe on arrival) ==========
  // The image dedup made a STORE with the text/BM25/IVF lifecycle: build
  // the versioned aHash index on doc_id % 10 ≠ 5 (batch 0), ingest the
  // rest as batch 1, probe EVERY image against it and report all stored
  // matches within the frozen hamming radius — the crawler's
  // dedup-on-arrival shape. The banded store carries its fingerprints
  // (no second fetch join) and its `bkt` partition unit prunes probes to
  // candidate buckets; since batch 0 ∪ batch 1 = the corpus, the oracle
  // is the O(n²) directed scan with self-matches excluded — build/ingest
  // split drift, banding loss, or a band-geometry drift between build
  // and probe all break the match set.

  private def ahashFingerprints(t: Tables, pred: Column): DataFrame =
    Multimodal.decodeImageAHash(
      Multimodal.withImageColumn(
        graft.Fanout(t.documents.filter(pred)).select(col("doc_id")),
        "doc_id", AHashGroups), "media")
      .select(col("doc_id").as("id"), col("ah_hi"), col("ah_lo"))

  private def q236(t: Tables): DataFrame = {
    val dir = RunCache.dir(t.dir, s"ahash_idx_$AHashGroups") { d =>
      Dedup.writeAHashIndex(ahashFingerprints(t, col("doc_id") % 10 =!= 5), d)
      Dedup.ingestIntoAHashIndex(
        ahashFingerprints(t, col("doc_id") % 10 === 5), d, batchId = 1)
    }
    Dedup.ahashAgainstIndex(ahashFingerprints(t, lit(true)), dir)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  private lazy val q236Sql =
    s"""WITH ${ahashSql(s"doc_id % $AHashGroups", variant = true)}
       |SELECT x.doc_id AS id, y.doc_id AS match_id,
       |  CAST(bit_count(xor(x.ah_hi, y.ah_hi))
       |    + bit_count(xor(x.ah_lo, y.ah_lo)) AS BIGINT) AS hamming
       |FROM ah x JOIN ah y ON x.doc_id <> y.doc_id
       |WHERE bit_count(xor(x.ah_hi, y.ah_hi))
       |    + bit_count(xor(x.ah_lo, y.ah_lo)) <= $MaxHamming""".stripMargin

  // ===== q237 Dolma tagger table + mixer decision =========================
  // The published curation ARCHITECTURE, not just its stages: Dolma's
  // taggers emit per-doc attributes and a config-driven mixer applies
  // keep rules — here four taggers (blocklist, PII exposure, Gopher
  // repetition, stopword quality) evaluated in ONE narrow zero-shuffle
  // pass with the conjunction plus a `reasons` audit string naming every
  // failed tagger. The oracle recomputes each tagger with its own
  // operator's oracle recipe (q232/q55/q169/q28) and rebuilds the same
  // reasons string — a drift in ANY tagger's semantics or in the mixer
  // rule breaks the hash. (On this fixture the PII tagger passes every
  // row — the vocabulary has no emails/urls/phones — but its leg is
  // live code both sides; the spec exercises it on planted PII.)

  private val TagPiiMax = 2L
  private val TagMinStopword = 0.02
  // Gopher A1.1 document-shape thresholds (exact-integer carry — the
  // blocklistFilter convention). minWords 20 (not Gopher's 50) so the
  // fixture's short docs exercise the rule; the rest are the published
  // values: mean word length 3–10 chars, 10% symbol ratio, 90% bullet
  // lines, 30% ellipsis lines, 30% duplicate lines.
  private val TagGopher = TextOps.GopherRules(minWords = 20L,
    maxWords = 100000L, minMeanWordLen = 3L, maxMeanWordLen = 10L,
    symbolTau = 1000L, bulletTau = 9000L, ellipsisTau = 3000L,
    dupLineTau = 3000L, dupCharTau = 2000L)

  private def q237(t: Tables): DataFrame =
    TextOps.taggerTable(graft.Fanout(t.documents), col("doc_id"),
      col("text"), BlockList, BlockTau, TagPiiMax,
      RepMaxTok, RepMaxBigram, RepMinTtr, TagMinStopword, TagGopher)
      .select(col("id").as("doc_id"), col("keep_blocklist"),
        col("keep_pii"), col("keep_repetition"), col("keep_quality"),
        col("keep_doclen"), col("keep_symbols"), col("keep_lines"),
        col("kept"), col("reasons"))

  /** The tagger-table CTE chain (prefix tg_), ending in `tg_k` with the
    * seven keep columns + kept — shared by q237, the q238 composed
    * flagship's front end, and (over extracted HTML text, via `src`)
    * the q245 composed extraction flagship.
    */
  private def taggerCteFor(src: String): String = {
    val enStop = TextOps.stopwords.head._2
    s"""tg_w AS (SELECT doc_id, text,
       |    regexp_extract_all(lower(text), '\\S+') AS ws FROM $src),
       |tg_blk AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw,
       |    CAST(len(list_filter(ws, x -> list_contains(
       |      [${BlockList.map(w => s"'$w'").mkString(", ")}], x))) AS BIGINT)
       |      AS nb
       |  FROM tg_w),
       |tg_pii AS (SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '${TextOps.emailPattern}'))
       |      + len(regexp_extract_all(text, '${TextOps.urlPattern}'))
       |      + len(regexp_extract_all(text, '${TextOps.phonePattern}'))
       |      AS BIGINT) AS npii
       |  FROM $src),
       |tg_tt AS (SELECT doc_id AS id, len(ws) AS n, unnest(ws) AS tk
       |  FROM tg_w WHERE len(ws) > 0),
       |tg_ttc AS (SELECT id, n, tk, count(*) AS c FROM tg_tt GROUP BY 1, 2, 3),
       |tg_tts AS (SELECT id, n, max(c) AS topc,
       |    CAST(count(*) AS BIGINT) AS nd FROM tg_ttc GROUP BY 1, 2),
       |tg_bg0 AS (SELECT doc_id AS id, ws,
       |    unnest(generate_series(1, len(ws) - 1)) AS i
       |  FROM tg_w WHERE len(ws) >= 2),
       |tg_bg AS (SELECT id, ws[i] || ' ' || ws[i+1] AS b FROM tg_bg0),
       |tg_bc AS (SELECT id, b, count(*) AS c FROM tg_bg GROUP BY 1, 2),
       |tg_bs AS (SELECT id, max(c) AS topb FROM tg_bc GROUP BY 1),
       |tg_rep AS (SELECT tg_tts.id AS doc_id,
       |    (round(CAST(tg_tts.topc AS DOUBLE) / tg_tts.n, 4) <= $RepMaxTok
       |     AND CASE WHEN tg_bs.topb IS NOT NULL
       |       THEN round(CAST(tg_bs.topb AS DOUBLE) / (tg_tts.n - 1), 4)
       |       ELSE 0.0 END <= $RepMaxBigram
       |     AND round(CAST(tg_tts.nd AS DOUBLE) / tg_tts.n, 4) >= $RepMinTtr)
       |      AS kr
       |  FROM tg_tts LEFT JOIN tg_bs USING (id)),
       |tg_qual AS (SELECT doc_id, CASE WHEN len(ws) = 0 THEN false
       |    ELSE round(CAST(len(regexp_extract_all(lower(text), '$enStop'))
       |      AS DOUBLE) / len(ws), 4) >= $TagMinStopword END AS kq
       |  FROM tg_w),
       |tg_len AS (SELECT doc_id, CAST(list_reduce(list_prepend(0,
       |      list_transform(ws, x -> len(x))), (a, b) -> a + b) AS BIGINT)
       |      AS sumlen,
       |    CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS nhash,
       |    CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS BIGINT)
       |      AS nellsym
       |  FROM tg_w),
       |tg_li AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS nl,
       |    CAST(len(list_filter(ls, l -> starts_with(ltrim(l), '-')
       |      OR starts_with(ltrim(l), '*')
       |      OR starts_with(ltrim(l), '•'))) AS BIGINT) AS nbul,
       |    CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...')
       |      OR ends_with(rtrim(l), '…'))) AS BIGINT) AS nell,
       |    CAST(len(list_distinct(ls)) AS BIGINT) AS ndist,
       |    CAST(list_reduce(list_prepend(0, list_transform(ls,
       |      l -> len(l))), (a, b) -> a + b) AS BIGINT) AS lentot,
       |    CAST(list_reduce(list_prepend(0, list_transform(list_distinct(ls),
       |      l -> len(l))), (a, b) -> a + b) AS BIGINT) AS lendist
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
       |        FROM $src)),
       |tg_k AS (SELECT tg_blk.doc_id,
       |    (tg_blk.nw = 0 OR tg_blk.nb * 10000 < $BlockTau * tg_blk.nw)
       |      AS keep_blocklist,
       |    (tg_pii.npii <= $TagPiiMax) AS keep_pii,
       |    coalesce(tg_rep.kr, false) AS keep_repetition,
       |    tg_qual.kq AS keep_quality,
       |    (tg_blk.nw >= ${TagGopher.minWords}
       |      AND tg_blk.nw <= ${TagGopher.maxWords}
       |      AND tg_len.sumlen >= ${TagGopher.minMeanWordLen} * tg_blk.nw
       |      AND tg_len.sumlen <= ${TagGopher.maxMeanWordLen} * tg_blk.nw)
       |      AS keep_doclen,
       |    (tg_blk.nw = 0
       |      OR (tg_len.nhash * 10000 <= ${TagGopher.symbolTau} * tg_blk.nw
       |        AND tg_len.nellsym * 10000 <= ${TagGopher.symbolTau} * tg_blk.nw))
       |      AS keep_symbols,
       |    (tg_li.nbul * 10000 <= ${TagGopher.bulletTau} * tg_li.nl
       |      AND tg_li.nell * 10000 <= ${TagGopher.ellipsisTau} * tg_li.nl
       |      AND (tg_li.nl - tg_li.ndist) * 10000
       |        <= ${TagGopher.dupLineTau} * tg_li.nl
       |      AND (tg_li.lentot = 0 OR (tg_li.lentot - tg_li.lendist) * 10000
       |        <= ${TagGopher.dupCharTau} * tg_li.lentot)) AS keep_lines,
       |    ((tg_blk.nw = 0 OR tg_blk.nb * 10000 < $BlockTau * tg_blk.nw)
       |      AND tg_pii.npii <= $TagPiiMax AND coalesce(tg_rep.kr, false)
       |      AND tg_qual.kq
       |      AND (tg_blk.nw >= ${TagGopher.minWords}
       |        AND tg_blk.nw <= ${TagGopher.maxWords}
       |        AND tg_len.sumlen >= ${TagGopher.minMeanWordLen} * tg_blk.nw
       |        AND tg_len.sumlen <= ${TagGopher.maxMeanWordLen} * tg_blk.nw)
       |      AND (tg_blk.nw = 0
       |        OR (tg_len.nhash * 10000 <= ${TagGopher.symbolTau} * tg_blk.nw
       |          AND tg_len.nellsym * 10000
       |            <= ${TagGopher.symbolTau} * tg_blk.nw))
       |      AND (tg_li.nbul * 10000 <= ${TagGopher.bulletTau} * tg_li.nl
       |        AND tg_li.nell * 10000 <= ${TagGopher.ellipsisTau} * tg_li.nl
       |        AND (tg_li.nl - tg_li.ndist) * 10000
       |          <= ${TagGopher.dupLineTau} * tg_li.nl
       |        AND (tg_li.lentot = 0
       |          OR (tg_li.lentot - tg_li.lendist) * 10000
       |            <= ${TagGopher.dupCharTau} * tg_li.lentot))) AS kept
       |  FROM tg_blk JOIN tg_pii USING (doc_id) JOIN tg_qual USING (doc_id)
       |  JOIN tg_len USING (doc_id) JOIN tg_li USING (doc_id)
       |  LEFT JOIN tg_rep USING (doc_id))""".stripMargin
  }

  private lazy val taggerCteSql = taggerCteFor("documents")

  private lazy val q237Sql =
    s"""WITH $taggerCteSql
       |SELECT doc_id, keep_blocklist, keep_pii, keep_repetition,
       |  keep_quality, keep_doclen, keep_symbols, keep_lines, kept,
       |  coalesce(array_to_string(list_filter([
       |    CASE WHEN NOT keep_blocklist THEN 'blocklist' END,
       |    CASE WHEN NOT keep_pii THEN 'pii' END,
       |    CASE WHEN NOT keep_repetition THEN 'repetition' END,
       |    CASE WHEN NOT keep_quality THEN 'quality' END,
       |    CASE WHEN NOT keep_doclen THEN 'doclen' END,
       |    CASE WHEN NOT keep_symbols THEN 'symbols' END,
       |    CASE WHEN NOT keep_lines THEN 'lines' END],
       |    x -> x IS NOT NULL), ','), '') AS reasons
       |FROM tg_k""".stripMargin

  // ===== q239/q240 audio fingerprint + audio near-dup pairs ==============
  // The THIRD modality joins the dedup-fingerprint family: q239 decodes
  // REAL WAV-PCM clips and reduces each to the energy-delta hash
  // (Haitsma–Kalker/Chromaprint's teaching form — 65 exact-integer
  // window energies, bit i = e_i > e_{i+1}, no division), carried as the
  // same sign-safe (hi, lo) halves as the image aHash so the banded-pair
  // and stored-index machinery is SHARED, not duplicated. q240 plants a
  // near-duplicate clip family (base = id % 40, odd classes clamp the
  // one sample at n/2 — at most the two bits its window's deltas feed)
  // and reports all pairs within hamming 3 via the lossless banding —
  // identical rows to the oracle's O(n²) scan over arithmetic replays.

  private val AudioGroups = 40

  /** Energy-delta fingerprint CTEs: per doc the synthetic sample replay,
    * 65 window energies (empty windows 0), delta bits, (hi, lo) halves.
    */
  private def audioFpSql(idExpr: String, variant: Boolean): String = {
    val sBase = s"((($idExpr) * 13 + t.k * 7919) % 65536) - 32768"
    val sExpr =
      if (variant)
        s"""CASE WHEN (doc_id // $AudioGroups) % 2 = 1 AND t.k = n // 2
           |      THEN 32767 ELSE $sBase END""".stripMargin
      else sBase
    s"""d AS (SELECT doc_id,
       |    CAST(64 + ($idExpr) % 192 AS BIGINT) AS n FROM documents),
       |samp AS (SELECT doc_id, n, t.k, CAST($sExpr AS BIGINT) AS s
       |  FROM d, unnest(generate_series(0, n - 1)) AS t(k)),
       |aw AS (SELECT doc_id, (k * 65) // n AS w, sum(s * s) AS e
       |  FROM samp GROUP BY 1, 2),
       |grid AS (SELECT doc_id, t.w
       |  FROM d, unnest(generate_series(0, 64)) AS t(w)),
       |ew AS (SELECT g.doc_id, g.w, CAST(coalesce(a.e, 0) AS BIGINT) AS e
       |  FROM grid g LEFT JOIN aw a ON a.doc_id = g.doc_id AND a.w = g.w),
       |bits AS (SELECT x.doc_id, x.w AS i,
       |    CASE WHEN x.e > y.e THEN 1 ELSE 0 END AS bit
       |  FROM ew x JOIN ew y ON x.doc_id = y.doc_id AND y.w = x.w + 1
       |  WHERE x.w < 64),
       |af AS (SELECT b.doc_id, d.n AS n_samples,
       |    CAST(sum(CASE WHEN i >= 32
       |      THEN bit * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END)
       |      AS BIGINT) AS af_hi,
       |    CAST(sum(CASE WHEN i < 32
       |      THEN bit * (CAST(1 AS BIGINT) << i) ELSE 0 END)
       |      AS BIGINT) AS af_lo
       |  FROM bits b JOIN d USING (doc_id) GROUP BY 1, 2)""".stripMargin
  }

  private def q239(t: Tables): DataFrame = {
    val withWav = Multimodal.withAudioColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id")
    Multimodal.decodeAudioFingerprint(withWav, "media")
      .select(col("doc_id"), col("n_samples"), col("af_hi"), col("af_lo"))
  }

  private lazy val q239Sql =
    s"""WITH ${audioFpSql("doc_id", variant = false)}
       |SELECT doc_id, n_samples, af_hi, af_lo FROM af""".stripMargin

  private def q240(t: Tables): DataFrame = {
    val withWav = Multimodal.withAudioColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id",
      groups = AudioGroups)
    val fps = Multimodal.decodeAudioFingerprint(withWav, "media")
      .select(col("doc_id").as("id"), col("af_hi").as("ah_hi"),
        col("af_lo").as("ah_lo"))
    Dedup.ahashPairs(fps, MaxHamming)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  private lazy val q240Sql =
    s"""WITH ${audioFpSql(s"doc_id % $AudioGroups", variant = true)}
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |  CAST(bit_count(xor(x.af_hi, y.af_hi))
       |    + bit_count(xor(x.af_lo, y.af_lo)) AS BIGINT) AS hamming
       |FROM af x JOIN af y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.af_hi, y.af_hi))
       |    + bit_count(xor(x.af_lo, y.af_lo)) <= $MaxHamming""".stripMargin

  // ===== q241 video keyframe perceptual hash ==============================
  // Video dedup's standard reduction (fingerprint a representative frame,
  // then dedup frames like images): the middle frame's Y plane — already
  // luma — through the same 8×8 exact-integer nearest map and strict
  // above-mean bits as the image aHash; the shared (hi, lo) carry means
  // pairs and the stored lifecycle reuse Dedup.ahashPairs / the aHash
  // index with zero new machinery. All THREE modalities now fingerprint
  // into one dedup family. The oracle replays the synthetic Y formula at
  // the keyframe index over the nearest map — container parsing, frame
  // indexing and the resize arithmetic all sit under the hash.

  private def q241(t: Tables): DataFrame = {
    val withVid = Multimodal.withVideoColumn(
      graft.Fanout(t.documents).select(col("doc_id")), "doc_id")
    Multimodal.decodeVideoKeyframeAHash(withVid, "media")
      .select(col("doc_id"), col("vid_w"), col("vid_h"), col("n_frames"),
        col("kf"), col("kf_hi"), col("kf_lo"))
  }

  private lazy val q241Sql =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(4 + 2 * (doc_id % 6) AS INTEGER) AS w,
       |    CAST(4 + 2 * ((doc_id // 6) % 6) AS INTEGER) AS h,
       |    CAST(3 + doc_id % 5 AS INTEGER) AS nf
       |  FROM documents),
       |cell AS (SELECT doc_id, w, h, nf, ty.y * 8 + tx.x AS i,
       |    CAST((doc_id * 17 + (nf // 2) * 29
       |      + ((tx.x * w) // 8) * 5 + ((ty.y * h) // 8) * 11) % 256
       |      AS BIGINT) AS lum
       |  FROM d,
       |    unnest(generate_series(0, 7)) AS tx(x),
       |    unnest(generate_series(0, 7)) AS ty(y)),
       |s AS (SELECT doc_id, sum(lum) AS tot FROM cell GROUP BY 1)
       |SELECT c.doc_id, c.w AS vid_w, c.h AS vid_h, c.nf AS n_frames,
       |  CAST(c.nf // 2 AS INTEGER) AS kf,
       |  CAST(sum(CASE WHEN c.i >= 32 AND 64 * c.lum > s.tot
       |    THEN CAST(1 AS BIGINT) << (c.i - 32) ELSE 0 END) AS BIGINT) AS kf_hi,
       |  CAST(sum(CASE WHEN c.i < 32 AND 64 * c.lum > s.tot
       |    THEN CAST(1 AS BIGINT) << c.i ELSE 0 END) AS BIGINT) AS kf_lo
       |FROM cell c JOIN s USING (doc_id) GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // ===== q242 stored attribute table + two mixer configs ==================
  // Dolma's architectural POINT, gated: taggers run ONCE and their
  // attribute table persists; a mixer is a config-time projection over
  // the stored artifact, so changing keep rules never re-tags the
  // corpus. The gate stores q237's table (the stored-artifact
  // discipline every trained model here follows) and applies two mixes
  // — `strict` (all four taggers) and `safety_only` (blocklist + PII,
  // the mix a pretraining-ablation run would use) — as reads of the
  // SAME artifact; the oracle re-derives both memberships from the
  // tagger CTE chain. Re-tagging drift between the mixes is impossible
  // by construction, which is exactly what the shared artifact asserts.

  private def q242(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = RunCache.dir(t.dir, "tagger_attrs") { d =>
      TextOps.taggerTable(graft.Fanout(t.documents), col("doc_id"),
          col("text"), BlockList, BlockTau, TagPiiMax,
          RepMaxTok, RepMaxBigram, RepMinTtr, TagMinStopword, TagGopher)
        .write.mode("overwrite").parquet(s"$d/attrs")
    }
    val attrs = spark.read.parquet(s"$dir/attrs")
    attrs.filter(col("kept"))
      .select(lit("strict").as("mix"), col("id").as("doc_id"))
      .union(attrs.filter(col("keep_blocklist") && col("keep_pii"))
        .select(lit("safety_only").as("mix"), col("id").as("doc_id")))
  }

  private lazy val q242Sql =
    s"""WITH $taggerCteSql
       |SELECT 'strict' AS mix, doc_id FROM tg_k WHERE kept
       |UNION ALL
       |SELECT 'safety_only' AS mix, doc_id FROM tg_k
       |WHERE keep_blocklist AND keep_pii""".stripMargin

  // ===== q243 audio through the shared fingerprint store ==================
  // The stored aHash-index lifecycle is modality-AGNOSTIC by the shared
  // (hi, lo) carry — q243 proves it loudly: the same
  // build/ingest/probe surface as q236, fed audio energy-delta
  // fingerprints instead of image hashes. One store implementation
  // serves every modality; the oracle is the directed O(n²) scan over
  // the audio-variant arithmetic replay. Nothing about the store is
  // image-shaped — which is exactly what this gate pins.

  private def audioFps(t: Tables, pred: Column): DataFrame =
    Multimodal.decodeAudioFingerprint(
      Multimodal.withAudioColumn(
        graft.Fanout(t.documents.filter(pred)).select(col("doc_id")),
        "doc_id", groups = AudioGroups), "media")
      .select(col("doc_id").as("id"), col("af_hi").as("ah_hi"),
        col("af_lo").as("ah_lo"))

  private def q243(t: Tables): DataFrame = {
    val dir = RunCache.dir(t.dir, s"ahash_audio_idx_$AudioGroups") { d =>
      Dedup.writeAHashIndex(audioFps(t, col("doc_id") % 10 =!= 5), d)
      Dedup.ingestIntoAHashIndex(
        audioFps(t, col("doc_id") % 10 === 5), d, batchId = 1)
    }
    Dedup.ahashAgainstIndex(audioFps(t, lit(true)), dir)
      .withColumn("hamming", col("hamming").cast("long"))
  }

  private lazy val q243Sql =
    s"""WITH ${audioFpSql(s"doc_id % $AudioGroups", variant = true)}
       |SELECT x.doc_id AS id, y.doc_id AS match_id,
       |  CAST(bit_count(xor(x.af_hi, y.af_hi))
       |    + bit_count(xor(x.af_lo, y.af_lo)) AS BIGINT) AS hamming
       |FROM af x JOIN af y ON x.doc_id <> y.doc_id
       |WHERE bit_count(xor(x.af_hi, y.af_hi))
       |    + bit_count(xor(x.af_lo, y.af_lo)) <= $MaxHamming""".stripMargin

  // ===== q244 HTML/markup text extraction =================================
  // The pipeline ENTRY POINT every published curation stack starts from
  // (C4, CCNet, RefinedWeb, Dolma all begin at crawled HTML): the
  // deterministic resiliparse-lite extractor — script/style/comment
  // drop, block segmentation by container element with per-block type
  // tags, residual tag strip, entity decode (&amp; last), whitespace
  // normalization — as ONE narrow zero-shuffle pass of codegen'd string
  // expressions. The fixture synthesizes HTML from the corpus text
  // (the withImageColumn discipline) with a trap for every rule: a
  // script with tag-looking source, a comment with a ghost <p>, nav/
  // footer chrome, encoded literals that must DECODE (not render as
  // markup) — and the oracle replays both the synthesis concatenation
  // and every strip/decode rule in SQL, so drift in either side breaks
  // the hash.

  private def q244(t: Tables): DataFrame = {
    val withHtml = Html.withHtmlColumn(
      graft.Fanout(t.documents).select(col("doc_id"), col("text")),
      col("text"), "html")
    Html.blockTable(withHtml, col("doc_id"), col("html"))
  }

  /** HTML synthesis + extraction replay CTEs (prefix ht_), ending in
    * `ht_k` (doc_id, rank, block_type, block_idx, block_text) — shared
    * by q244 and the q245 composed flagship.
    */
  /** NUMERIC character-reference decode over a SQL expression — the
    * sentinel-split replay of
    * [[graft.functions.NativeKernels.decodeNumericRefs]]: a control
    * char is inserted before every `&#`, the string splits there, and
    * each piece starting with a VALID reference (1-8 digits, value in
    * 1..0x10FFFF, not a surrogate — the kernel's exact guards)
    * decodes via chr(). Invalid refs stay literal, like the kernel.
    */
  private def numericRefSql(e: String): String = {
    val dec = "CAST(regexp_extract(p, '^&#([0-9]{1,8});', 1) AS BIGINT)"
    val hex = "CAST('0x' || regexp_extract(p, '^&#[xX]([0-9a-fA-F]{1,8});', 1) AS BIGINT)"
    s"array_to_string(list_transform(string_split(replace($e, '&#', chr(1) || '&#'), chr(1)), " +
      "p -> CASE " +
      s"WHEN regexp_matches(p, '^&#[0-9]{1,8};') AND $dec BETWEEN 1 AND 1114111 " +
      s"AND NOT ($dec BETWEEN 55296 AND 57343) " +
      s"THEN chr(CAST($dec AS INTEGER)) || regexp_replace(p, '^&#[0-9]{1,8};', '') " +
      s"WHEN regexp_matches(p, '^&#[xX][0-9a-fA-F]{1,8};') AND $hex BETWEEN 1 AND 1114111 " +
      s"AND NOT ($hex BETWEEN 55296 AND 57343) " +
      s"THEN chr(CAST($hex AS INTEGER)) || regexp_replace(p, '^&#[xX][0-9a-fA-F]{1,8};', '') " +
      "ELSE p END), '')"
  }

  /** The br→newline → strip → decode (named, numeric, &amp; last) →
    * newline-preserving whitespace-normalize chain over a SQL
    * expression — must mirror Html.cleanBlock exactly.
    */
  private def cleanBlockSql(e: String): String = {
    val br = s"regexp_replace($e, '<br\\s*/?>', chr(10), 'gi')"
    val strip = s"regexp_replace($br, '<[^>]*>', '', 'gs')"
    val named = "replace(replace(replace(replace(replace(" +
      s"$strip, " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
      "'&nbsp;', ' ')"
    val amp = s"replace(${numericRefSql(named)}, '&amp;', '&')"
    s"trim(regexp_replace(regexp_replace($amp, '\\s*\\n\\s*', chr(10), 'g'), " +
      "'[ \\t\\x0B\\f\\r]+', ' ', 'g'), ' ' || chr(10))"
  }

  /** The fixture page synthesized by Html.withHtmlColumn, replayed as
    * one DuckDB concat — every static trap string must match the Scala
    * side byte for byte.
    */
  private lazy val htmlSynthSql =
    s"""concat(
      |      '<html><head><title>fixture</title><style>p { color: #fff; }</style><script>if (1 < 2) { alert("x &amp; y"); }</script><link rel="stylesheet" href="/css/main.css"></head><body><!-- <p>ghost block</p> --><nav><abbr title="ht">HT</abbr> <a href="/">home</a> | <a href="/about">about</a><p>nested menu item</p></nav><h1>',
      |      array_to_string(ws[1:3], ' &amp; '),
      |      '</h1><h2>section &#8212; overview</h2><blockquote>quoted words here</blockquote><pre>raw &amp; code</pre>',
      |      CASE WHEN n >= 4 THEN array_to_string(list_transform(
      |        generate_series(0, (n - 4) // 10),
      |        k -> concat('<p>', array_to_string(ws[k*10+4 : k*10+13], ' '),
      |          ' &lt;eop&gt;</p>')), '') ELSE '' END,
      |      '<p>line one<br>line two</p><ul><li>',
      |      CASE WHEN n >= 2 THEN concat(ws[n-1], '&nbsp;', ws[n])
      |        ELSE 'item&nbsp;only' END,
      |      '</li><li>it&#x27;s &quot;quoted&quot;</li></ul><table><tr><td>cell &#65; text</td></tr></table><div class="footer">contact us<p>div nested para</p></div>${graft.operators.Html.divNestTrap}</body></html>')""".stripMargin

  private lazy val htmlCteSql = {
    // Regex priority-chain segmentation replay, generated from the SAME
    // tag table the Scala extractor uses (Html.blockTags) so the two
    // sides cannot drift independently: tag k extracts from the
    // residual of tags 0..k-1 and removes its own spans for tag k+1.
    // The Scala side is now the STACK kernel (htmlSegmentBlocks), which
    // is block-for-block identical to this chain on markup WITHOUT
    // same-tag nesting — the one construct regex CTEs cannot express.
    // The fixture's single same-tag construct is the STATIC divNestTrap
    // string: the chain replay runs on the page with that substring
    // removed (ht_c), and the trap's two expected div blocks join in as
    // CONSTRUCTED rows (ht_b UNION — the q253 expectation discipline),
    // pinning the kernel's depth pairing.
    val tagChain = graft.operators.Html.blockTags.zipWithIndex.map {
      case ((tag, _), k) =>
        val src = if (k == 0) "ht_c" else s"ht_g${k - 1}"
        val in = if (k == 0) "ch" else "res"
        val rx = s"<$tag\\b[^>]*>(.*?)</$tag>"
        s"""ht_g$k AS (SELECT doc_id,
           |    regexp_extract_all($in, '$rx', 1, 's') AS arr,
           |    regexp_replace($in, '$rx', '', 'gs') AS res
           |  FROM $src)"""
    }.mkString(",\n")
    val tagUnion = graft.operators.Html.blockTags.zipWithIndex.map {
      case ((tag, rank), k) =>
        s"SELECT doc_id, $rank AS rank, '$tag' AS block_type, arr FROM ht_g$k"
    }.mkString("\n  UNION ALL ")
    s"""ht_w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n
       |  FROM documents),
       |ht_html AS (SELECT doc_id,
       |    $htmlSynthSql
       |    AS html FROM ht_w),
       |ht_c AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(
       |      replace(html, '${graft.operators.Html.divNestTrap}', ''),
       |      '<script\\b[^>]*>.*?</script>', '', 'gs'),
       |      '<style\\b[^>]*>.*?</style>', '', 'gs'),
       |      '<!--.*?-->', '', 'gs') AS ch
       |  FROM ht_html),
       |$tagChain,
       |ht_t AS (
       |  $tagUnion),
       |ht_b AS (SELECT doc_id, rank, block_type,
       |    CAST(i - 1 AS BIGINT) AS block_idx, arr[i] AS raw,
       |    ${cleanBlockSql("arr[i]")} AS block_text
       |  FROM ht_t, unnest(generate_series(1, len(arr))) AS t(i)
       |  UNION ALL
       |  SELECT doc_id, 11 AS rank, 'div' AS block_type,
       |    CAST(1 AS BIGINT) AS block_idx,
       |    'outer scope  tail text' AS raw,
       |    ${cleanBlockSql("'outer scope  tail text'")} AS block_text
       |  FROM ht_html
       |  UNION ALL
       |  SELECT doc_id, 11 AS rank, 'div' AS block_type,
       |    CAST(2 AS BIGINT) AS block_idx, 'inner scope' AS raw,
       |    ${cleanBlockSql("'inner scope'")} AS block_text
       |  FROM ht_html),
       |ht_k AS (SELECT doc_id, rank, block_type, block_idx, block_text
       |  FROM ht_b WHERE len(block_text) > 0)""".stripMargin
  }

  private lazy val q244Sql =
    s"""WITH $htmlCteSql
       |SELECT doc_id, block_type, block_idx, block_text FROM ht_k""".stripMargin

  // ===== q245 composed: raw HTML → extract → tag → dedup ==================
  // The q238 discipline applied to the extraction entry point: crawled
  // HTML in, curated survivor set out, as ONE hash — synthesis →
  // extraction (content blocks only; nav/div chrome dropped as
  // boilerplate) → the seven-tagger mixer over the EXTRACTED text →
  // exact-dedup election (min doc_id per identical extracted text).
  // Drift in any extraction rule changes the extracted text, flips a
  // tagger or the election, and breaks the hash.

  private def q245(t: Tables): DataFrame = {
    val withHtml = Html.withHtmlColumn(
      graft.Fanout(t.documents).select(col("doc_id"), col("text")),
      col("text"), "html")
    // extract ONCE: four consumers below (tagger, kept join, n_docs,
    // election) would otherwise re-run the whole synthesis + regex
    // extraction chain per branch — measured 4.3s -> 1.3s at sf0.01
    val content = Html.extractText(withHtml, col("html"), "ctext")
      .select(col("doc_id"), col("ctext"))
      .persistScoped()
    val keptIds = TextOps.taggerTable(content, col("doc_id"), col("ctext"),
        BlockList, BlockTau, TagPiiMax, RepMaxTok, RepMaxBigram,
        RepMinTtr, TagMinStopword, TagGopher)
      .filter(col("kept")).select(col("id").as("doc_id"))
      .persistScoped() // `kept` is evaluated twice (election + n_kept)
    val kept = content.join(keptIds, Seq("doc_id"), "left_semi")
    val survivors = kept.groupBy(col("ctext"))
      .agg(min(col("doc_id")).as("sid"))
    val nIn = content.agg(count(lit(1)).as("n_docs"))
    val nKept = kept.agg(count(lit(1)).as("n_kept"))
    val sv = survivors.agg(count(lit(1)).as("n_survivors"),
      md5(array_join(transform(sort_array(collect_list(col("sid"))),
        x => x.cast("string")), " ")).as("ids_md5"))
    nIn.crossJoin(broadcast(nKept)).crossJoin(broadcast(sv))
  }

  private lazy val q245Sql =
    s"""WITH $htmlCteSql,
       |ht_doc AS (SELECT d.doc_id, coalesce(b.text, '') AS text
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, array_to_string(
       |        list(block_text ORDER BY rank, block_idx), chr(10)) AS text
       |    FROM ht_k WHERE rank BETWEEN 1 AND 10 GROUP BY doc_id) b
       |  USING (doc_id)),
       |${taggerCteFor("ht_doc")},
       |ht_kept AS (SELECT d.doc_id, d.text FROM ht_doc d
       |  JOIN tg_k USING (doc_id) WHERE tg_k.kept),
       |ht_el AS (SELECT text, min(doc_id) AS sid FROM ht_kept GROUP BY text)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ht_doc) AS n_docs,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ht_kept) AS n_kept,
       |  CAST(count(*) AS BIGINT) AS n_survivors,
       |  md5(array_to_string(list_transform(list_sort(list(sid)),
       |    x -> CAST(x AS VARCHAR)), ' ')) AS ids_md5
       |FROM ht_el""".stripMargin

  // ===== q252 link-density block boilerplate signals ======================
  // The jusText/trafilatura heuristic the tag-name chrome rule cannot
  // express: a block whose text is mostly anchor text is navigation
  // regardless of its element — per block, link_chars (Σ cleaned <a>
  // inner text) vs text_chars, boilerplate = chrome-by-tag OR
  // 2·link_chars > text_chars (exact integers). On the fixture the nav
  // fires BOTH rules, the div footer only the tag rule (no links) —
  // the gate pins the two rules' independence; HtmlSpec plants a
  // link-farm <p> the tag rule misses.

  private def q252(t: Tables): DataFrame = {
    val withHtml = Html.withHtmlColumn(
      graft.Fanout(t.documents).select(col("doc_id"), col("text")),
      col("text"), "html")
    Html.blockSignals(withHtml.select(col("doc_id"), col("html")),
      col("html"))
      .select(col("doc_id"), col("block_type"), col("block_idx"),
        col("link_chars"), col("text_chars"), col("boilerplate"))
  }

  private lazy val q252Sql = {
    s"""WITH $htmlCteSql,
       |ht_lk AS (SELECT doc_id, rank, block_type, block_idx, block_text,
       |    CAST(list_reduce(list_prepend(0, list_transform(
       |      regexp_extract_all(raw, '<a\\b[^>]*>(.*?)</a>', 1, 's'),
       |      x -> len(${cleanBlockSql("x")}))),
       |      (a, b) -> a + b) AS BIGINT) AS link_chars
       |  FROM ht_b WHERE len(block_text) > 0)
       |SELECT doc_id, block_type, block_idx, link_chars,
       |  CAST(len(block_text) AS BIGINT) AS text_chars,
       |  (rank IN (0, 11) OR 2 * link_chars > len(block_text))
       |    AS boilerplate
       |FROM ht_lk""".stripMargin
  }

  // ===== q253 WARC container ingestion ====================================
  // "Crawl in" end-to-end: the fixture packs every synthesized page
  // (q244's HTML) into multi-record WARC FILES — 16 records per file,
  // Content-Length framing, identity carried ONLY inside the record's
  // target URI, and every 23rd doc's version line corrupted to
  // WARC/9.9 (length-preserving, so the framing of the REST of the
  // file is intact) — then the operator chain splits files into
  // records by exact offset arithmetic and parses typed fields,
  // quarantining the corrupted records as data (nulls + flag). The
  // oracle replays the synthesis arithmetic directly: a parser that
  // mis-frames any record, loses a payload char, or fails to
  // quarantine diverges from the synthesized expectation.
  // (Truncated-file framing breaks are WarcSpec's to pin — they poison
  // the remainder of one file by design, which this fixture never
  // exercises.)

  private val WarcMalformEvery = 23

  private def q253(t: Tables): DataFrame = {
    val withHtml = Html.withHtmlColumn(
      graft.Fanout(t.documents).select(col("doc_id"), col("source"),
        col("text")), col("text"), "html")
    val files = Warc.withWarcFiles(
      Warc.withWarcRecord(withHtml, col("doc_id"), col("source"),
        col("html"), "rec", malformEvery = WarcMalformEvery),
      col("doc_id"), col("rec"))
    Warc.parseFields(Warc.records(files, "warc"), col("rec"))
      .select(col("warc_version"), col("url"), col("status"),
        col("content_type"), md5(col("html")).as("html_md5"),
        col("malformed"))
  }

  private lazy val q253Sql =
    s"""$warcHeadSql
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN NULL
       |    ELSE 'text/html; charset=utf-8' END AS content_type,
       |  CASE WHEN doc_id % $WarcMalformEvery = 0 THEN NULL
       |    ELSE md5(html) END AS html_md5,
       |  (doc_id % $WarcMalformEvery = 0) AS malformed
       |FROM wr""".stripMargin

  // ===== q238 FULL curation flagship: langid+tag → dedup → train → shards =
  // The complete published production path as ONE DataFrame and ONE
  // hash: CCNet's stage-0 language gate under the STORED q227
  // classifier (winning score ≥ τ — the trained-model discipline, not
  // the rule-based q29 scorer) composes with the Dolma tagger-mixer
  // dropping unsafe/low-quality docs (q237), the survivors dedup
  // (exact + MinHash-LSH, q61's operator), the byte-level BPE trains
  // ON THE CURATED SURVIVORS (training before filtering would
  // overweight junk text's merges), the frozen GPT-2 id layout derives
  // from those survivor merges, and the shards materialize as
  // EOS-separated token-id streams (q233's loader contract). Raw
  // corpus in, the file a trainer mmaps out — drift in the langid
  // model replay, its gate, ANY tagger, the mixer rule, the survivor
  // election, the trainer slice, the id layout, the EOS placement or
  // the pack order breaks the hash.

  private def q238(t: Tables): DataFrame = {
    // persisted: docs0 below is evaluated three times (exactGroups and
    // exactSurvivors inside dedupCorpus, plus the survivors join) and the
    // seven-tagger pass is the expensive leg of its lineage — unpersisted
    // it ran 3x per execution (guide §1.2)
    val keptIds = TextOps.taggerTable(graft.Fanout(t.documents),
        col("doc_id"), col("text"), BlockList, BlockTau, TagPiiMax,
        RepMaxTok, RepMaxBigram, RepMinTtr, TagMinStopword, TagGopher)
      .filter(col("kept")).select(col("id").as("doc_id"))
      .persistScoped()
    // CCNet stage 0 composed into the mixer: classify under the STORED
    // q227 artifact and keep docs whose winning score clears the gate.
    // The scored frame localCheckpoints BEFORE the τ filter: a filter
    // directly on `score` pushes the predicate through the serving
    // projections, substituting the whole K-fold scoring tree below
    // the shared gram-hash projection (langIdBase's documented 40×
    // pathology — measured 17s for 500 docs here); the checkpoint
    // evaluates the scoring exactly once, truncates the K × dim
    // literal tree out of the flagship's lineage, and the filter runs
    // over materialized rows (3 columns/doc, distributed).
    val langKept = TextOps.langIdScoreAgainstModel(
        graft.Fanout(t.documents), col("doc_id"), col("text"),
        langIdModelDir(t, trainAll = true))
      .localCheckpoint()
      .filter(col("score") >= langGateTau(t)).select(col("id").as("doc_id"))
    val docs0 = graft.Fanout(t.documents)
      .join(keptIds, Seq("doc_id"), "left_semi")
      .join(langKept, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("text"))
    survivorShards(docs0, ids = true, Some(EosId))
  }

  /** The full-curation oracle chain (tagger → dedup → survivor BPE →
    * EOS id shards) over any (doc_id, source, text) source table —
    * q238 runs it on `documents`, q251 on the HTML-extracted `ht_src`.
    * `pre` prepends extra CTEs (the ht_ extraction chain for q251).
    */
  private def fullCurationShardsSql(src: String, pre: String): String =
    s"""WITH $pre${taggerCteFor(src)},
       |${langIdTrainCtes("TRUE")},
       |${langIdGateCtes(src)},
       |din AS MATERIALIZED (SELECT d.doc_id, d.source, d.text
       |  FROM $src d JOIN tg_k USING (doc_id)
       |  JOIN lg_keep USING (doc_id) WHERE tg_k.kept),
       |${survivorShardsSql("din", ids = true, Some(EosId))}""".stripMargin

  /** Exact + MinHash-LSH survivor election over `src(doc_id, source, text)`
    * as oracle CTEs (`x_ex … x_drops`, Dedup.dedupCorpus's rule), ending in
    * `out(doc_id, source, text)`: the rows of `src` whose id survives.
    */
  private def survivorCtesSql(src: String, out: String = "sv",
      k: String = "k"): String = {
    val rows = MinHashes / Bands
    s"""x_ex AS MATERIALIZED (SELECT min(doc_id) AS id, text FROM $src GROUP BY text),
       |x_h AS MATERIALIZED (SELECT id, ss, len(ss) AS n_sh,
       |    list_transform(ss, s -> ${Dedup.SharedHash.hash28Sql("s")}) AS xs FROM (
       |    SELECT id, ${shinglesSql(3)} AS ss FROM (
       |      SELECT id, regexp_split_to_array(lower(text), '\\s+') AS words
       |      FROM x_ex))
       |  WHERE len(ss) > 0),
       |x_sig AS MATERIALIZED (SELECT id, ss, n_sh, $minhashSigSql AS sig FROM x_h),
       |x_bands AS (SELECT id, t.b AS band,
       |    array_to_string(list_transform(list_slice(sig, t.b*$rows+1, t.b*$rows+$rows),
       |      z -> CAST(z AS VARCHAR)), '_') AS key
       |  FROM x_sig CROSS JOIN generate_series(0, ${Bands - 1}) AS t(b)),
       |x_drops AS (SELECT DISTINCT id_b FROM (
       |    SELECT c.id_a, c.id_b, len(list_intersect(a.ss, b.ss)) AS c,
       |      a.n_sh AS na, b.n_sh AS nb
       |    FROM (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |          FROM x_bands x JOIN x_bands y
       |          ON x.band = y.band AND x.key = y.key AND x.id < y.id) c
       |    JOIN x_sig a ON c.id_a = a.id JOIN x_sig b ON c.id_b = b.id)
       |  WHERE round(CAST(c AS DOUBLE)/(na+nb-c), 4) >= $CorpusT),
       |$out AS MATERIALIZED (SELECT d.doc_id, d.source, d.text FROM $src d JOIN (
       |    SELECT id FROM x_ex WHERE id NOT IN (SELECT id_b FROM x_drops)
       |  ) $k ON d.doc_id = $k.id)""".stripMargin
  }

  /** The oracle twin of [[survivorShards]]: [[survivorCtesSql]] over `src`,
    * byte-level BPE trained on the survivors `sv`, then [[shardTailSql]].
    */
  private def survivorShardsSql(src: String, ids: Boolean,
      eos: Option[Long]): String =
    s"""${survivorCtesSql(src)},
       |${bpeCteChain(BpeRounds, applyLast = true, bpeWc0ByteLevelFrom("sv"))},
       |${shardTailSql("sv", ids, eos, "pk_")}""".stripMargin

  // ===== q222 dedup → survivor-trained tokenizer → packed shards =========
  // The core production path (dedup, THEN train the tokenizer on the
  // survivors, THEN materialize shards) composed as ONE DataFrame and
  // oracled as ONE SQL — the q188 discipline applied to the round's new
  // tail: exact + MinHash-LSH dedup (q61's operator), byte-level BPE
  // trained ON THE SURVIVING corpus (the vocabulary shifts with the
  // dedup — training on the raw corpus would overweight duplicated
  // text's merges, exactly the bias dedup-first exists to remove), and
  // q218's tokenize → prefix-sum pack → per-bin stream assembly. Any
  // cross-stage contract drift (dedup's survivor rule, the trainer's
  // slice, the packer's id order) breaks one hash.

  private def q222(t: Tables): DataFrame = {
    val docs0 = graft.Fanout(t.documents)
      .select(col("doc_id"), col("source"), col("text"))
    survivorShards(docs0, ids = false, None)
  }

  /** The survivor shard chain of q222/q230/q238/q251: exact + MinHash-LSH
    * dedup of `docs0(doc_id, source, text)`, byte-level BPE trained on the
    * survivors, then [[shardTail]] — with the survivor-trained GPT-2 id
    * layout when `ids`.
    */
  private def survivorShards(docs0: DataFrame, ids: Boolean,
      eos: Option[Long]): DataFrame = {
    val survivors = docs0.join(Dedup.dedupCorpus(
        docs0.select(col("doc_id").as("id"), col("text")),
        3, MinHashes, Bands, CorpusT).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint() // feeds trainer AND tokenization AND packing
    // ONE regex pass feeds trainer AND packing tokenize (guide §1.2):
    // the pre-token frame persists once; the trainer's word counts and
    // the per-doc rejoin both read it
    val tokWords = shardPretokens(survivors)
    val merges = TextOps.bpeMergesByteLevelFromPretokens(tokWords,
      BpeRounds, requireFull = true)
    val vocab = if (ids) Some(TextOps.bpeVocabIdsByteLevel(merges)) else None
    shardTail(TextOps.tokenArrays(tokWords,
      TextOps.Encoder.Bpe(merges, byteLevel = true)), vocab, eos)
  }

  private lazy val q222Sql =
    s"WITH\n${survivorShardsSql("documents", ids = false, None)}"

  // ===== q230 dedup → survivor tokenizer → TOKEN-ID shards ================
  // q222's composed flagship taken to its literal deliverable: the same
  // dedup → survivor-trained byte-BPE → pack chain, but the frozen
  // (piece → id) vocabulary derives from the SURVIVOR-trained merges
  // (q226's GPT-2 layout) and the shards materialize as INT token-id
  // arrays — the end-to-end production path from raw corpus to the file
  // a trainer mmaps, gated as ONE hash over the decimal id stream. Any
  // drift in dedup's survivor rule, the trainer's slice, the id layout,
  // or the packer's order breaks it.

  private def q230(t: Tables): DataFrame = {
    val docs0 = graft.Fanout(t.documents)
      .select(col("doc_id"), col("source"), col("text"))
    survivorShards(docs0, ids = true, None)
  }

  private lazy val q230Sql =
    s"WITH\n${survivorShardsSql("documents", ids = true, None)}"

  private lazy val q238Sql = fullCurationShardsSql("documents", "")

  // ===== q251 THE pipeline end-to-end: WARC crawl → trainer file ==========
  // The complete story this engine exists to tell, as ONE DataFrame and
  // ONE hash: WARC container files (multi-record, Content-Length
  // framing — q253's operator) → record split + field parse → the
  // crawled HTML payload (q244's synthesis) → deterministic extraction
  // (content blocks, chrome dropped) → CCNet stage-0 langid gate
  // (stored q227 model, scored on the EXTRACTED text) + the
  // seven-tagger mixer → exact + MinHash-LSH dedup → byte-BPE trained
  // on the curated survivors → survivor-derived GPT-2 id layout →
  // EOS-separated token-id shards. Document identity (doc_id, source)
  // is recovered from the record's target URI — the only identity a
  // crawl actually carries. q238 starts from plain text; q245 stops at
  // the survivor election; this row closes the gap — drift in the WARC
  // framing, ANY extraction rule, tagger, election, trainer slice, id
  // layout, EOS placement or pack order breaks the hash. Oracle = the
  // shared full-curation chain over the ht_ extraction CTEs (synthesis
  // replayed; the container round-trip must be exactly lossless to
  // match it).

  private def q251(t: Tables): DataFrame = {
    val withHtml = Html.withHtmlColumn(
      graft.Fanout(t.documents).select(col("doc_id"), col("source"),
        col("text")), col("text"), "html")
    val files = Warc.withWarcFiles(
      Warc.withWarcRecord(withHtml, col("doc_id"), col("source"),
        col("html"), "rec"),
      col("doc_id"), col("rec"))
    // malformEvery = 0 here, so the filter drops nothing today — it
    // pins the CONTRACT: a future malformed-record fixture (null url →
    // null doc_id) drops visibly at the gate instead of flowing
    // null-id rows into extraction and tagging
    val pages = Warc.parseFields(Warc.records(files, "warc"),
        col("rec"))
      .filter(!col("malformed"))
      .select(
        regexp_extract(col("url"), "/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        regexp_extract(col("url"), "example\\.com/([^/]+)/", 1)
          .as("source"),
        col("html"))
    // extract ONCE (the q245 lesson): the content frame feeds the
    // tagger, the dedup election, the trainer and the packing tail
    val content = Html.extractText(pages, col("html"), "ctext")
      .select(col("doc_id"), col("source"), col("ctext").as("text"))
      .persistScoped()
    val keptIds = TextOps.taggerTable(content, col("doc_id"), col("text"),
        BlockList, BlockTau, TagPiiMax, RepMaxTok, RepMaxBigram,
        RepMinTtr, TagMinStopword, TagGopher)
      .filter(col("kept")).select(col("id").as("doc_id"))
      .persistScoped() // docs0 is evaluated 3x below — see q238
    // CCNet stage 0 over the EXTRACTED text, stored-model discipline;
    // checkpoint-before-filter for the same pushdown pathology as q238
    val langKept = TextOps.langIdScoreAgainstModel(content,
        col("doc_id"), col("text"), langIdModelDir(t, trainAll = true))
      .localCheckpoint()
      .filter(col("score") >= langGateTau(t)).select(col("id").as("doc_id"))
    val docs0 = content.join(keptIds, Seq("doc_id"), "left_semi")
      .join(langKept, Seq("doc_id"), "left_semi")
    survivorShards(docs0, ids = true, Some(EosId))
  }

  private lazy val q251Sql = fullCurationShardsSql("ht_src",
    s"""$htmlCteSql,
       |ht_src AS (SELECT d.doc_id, d.source, coalesce(b.text, '') AS text
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, array_to_string(
       |        list(block_text ORDER BY rank, block_idx), chr(10)) AS text
       |    FROM ht_k WHERE rank BETWEEN 1 AND 10 GROUP BY doc_id) b
       |  USING (doc_id)),
       |""".stripMargin)

  // ===== q216 stored-WordPiece tokenization ===============================
  // q214's production form: the flat serving vocabulary (initial symbols
  // ∪ merge products) and the merge audit trail freeze into parquet (the
  // q181/q204 tokenizer-artifact contract); serving tokenizes against
  // the LOADED vocabulary with the identical greedy longest-match-first
  // expression. Membership-set semantics round-trip parquet losslessly,
  // so stored ≡ fresh — q214's oracle VERBATIM, the tokenizer-integrity
  // contract on the third family.

  private def q216(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = wpModelDir(t)
    val wt = TextOps.wordPieceWordTable(graft.Fanout(t.documents), col("text"))
    TextOps.encodeWords(wt.select(col("w")).distinct(),
      TextOps.Encoder.WordPiece(TextOps.loadWordPieceVocab(spark, dir)))
      .select(col("w"), size(col("toks")).cast("long").as("n_toks"),
        array_join(col("toks"), " ").as("toks_str"))
  }

  // ===== q215 IVF-SQ8 scalar-quantized ANN ================================
  // The third compressed-index family member (FAISS's
  // IndexIVFScalarQuantizer; q168 PQ, q208 residual-PQ): each dimension
  // quantizes independently to one byte under a per-dim affine map —
  // 4× smaller than float32 with a quantizer model of only 2·dim
  // doubles. Approx scores are cosine against the RECONSTRUCTED vector,
  // top-SqShort re-rank exactly on raw vectors (the shared refine
  // discipline). Every step — float min/max stats, step = (mx−mn)/255,
  // clamp(⌊(x−mn)/step + ½⌋), reconstruction, index-ordered folds,
  // round-4, vec_id tie-break — is replayed verbatim by the oracle.

  private val SqShort = 50

  private def q215(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Similarity.sq8TopK(queries, e, IvfCells, IvfProbe, TopK, SqShort)
  }

  private val q215Sql = {
    // 0D-init index-ordered fold — the engine's aggregate(_, 0D, +) exactly
    def fsum(items: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $items), (p,q) -> p+q)"
    s"""${ivfProbeCtesSql(materialize = true)},
       |stt AS (SELECT i AS d, min(v[i]) AS mn, (max(v[i]) - min(v[i])) / 255 AS step
       |        FROM e, unnest(generate_series(1, $Dim)) AS t(i) GROUP BY 1),
       |sta AS (SELECT list({'mn': mn, 'step': step} ORDER BY d) AS st FROM stt),
       |codes AS MATERIALIZED (SELECT vec_id, cell,
       |    list_transform(generate_series(1, $Dim),
       |      i -> CASE WHEN st[i].step > 0
       |        THEN least(greatest(CAST(floor((l.v[i] - st[i].mn) / st[i].step + 0.5) AS INT), 0), 255)
       |        ELSE 0 END) AS c
       |  FROM lists l CROSS JOIN sta),
       |cand AS (SELECT p.q_id, q.qv, c.vec_id,
       |    list_transform(generate_series(1, $Dim),
       |      i -> st[i].mn + c.c[i] * st[i].step) AS rv
       |  FROM probes p JOIN codes c ON p.cell = c.cell AND c.vec_id <> p.q_id
       |  JOIN q0 q ON q.q_id = p.q_id CROSS JOIN sta),
       |appr AS (SELECT q_id, vec_id, round(
       |    ${fsum(s"list_transform(generate_series(1, $Dim), i -> qv[i]*rv[i])")}
       |    / (sqrt(${fsum("list_transform(qv, x -> x*x)")})
       |       * sqrt(${fsum("list_transform(rv, x -> x*x)")})), 4) AS score
       |  FROM cand),
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
       |    FROM appr) WHERE rn <= $SqShort),
       |rr AS (SELECT sh.q_id, sh.vec_id, round(${cosSql("q.qv", "x.v")}, 4) AS score
       |       FROM short sh JOIN q0 q USING (q_id) JOIN e x ON sh.vec_id = x.vec_id),
       |r AS (SELECT q_id, vec_id, score,
       |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |      FROM rr)
       |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= $TopK""".stripMargin
  }

  private def q204(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = uniModelDir(t)
    TextOps.encodeWords(
      Unigram.wordTable(graft.Fanout(t.documents), col("text")),
      TextOps.Encoder.Unigram(Unigram.loadModel(spark, dir), byteLevel = false))
      .select(col("w"), size(col("toks")).cast("long").as("n_toks"),
        array_join(col("toks"), " ").as("toks_str"))
  }

  private lazy val q204Sql =
    s"""WITH ${uniCteChain(UniRounds, applyFinal = true)}
       |SELECT w, CAST(len(toks) AS BIGINT) AS n_toks,
       |  array_to_string(toks, ' ') AS toks_str
       |FROM utk${UniRounds + 1}""".stripMargin

  private def q205(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val bpeDir = bpeByteModelDir(t)
    val bpe = TextOps.tokenCounts(docPretokens(t, byteLevel = true),
        TextOps.Encoder.Bpe(TextOps.loadBpeMerges(spark, bpeDir), byteLevel = true))
      .select(col("id").as("doc_id"), col("n_tokens").as("bpe_tok"))
    val uniDir = uniModelDir(t)
    // unpersisted: the whitespace split is cheap to run twice, and
    // persisting the (id, ws) frame costs a cache-build job
    val uni = TextOps.tokenCounts(graft.Fanout(t.documents).select(
        col("doc_id"), TextOps.wordsOf(col("text")).as("ws")),
        TextOps.Encoder.Unigram(Unigram.loadModel(spark, uniDir), byteLevel = false))
      .withColumnRenamed("n_tokens", "uni_tok")
    t.documents
      .select(col("doc_id"), col("lang"),
        TextOps.wsTokenCount(col("text")).cast("long").as("ws_tok"))
      .join(bpe, Seq("doc_id")).join(uni, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tok")).as("ws_tokens"),
        sum(col("bpe_tok")).as("bpe_tokens"),
        sum(col("uni_tok")).as("uni_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"), col("uni_tokens"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4)
          .as("bpe_fertility"),
        round(col("uni_tokens").cast("double") / col("ws_tokens"), 4)
          .as("uni_fertility"))
  }

  private lazy val q205Sql =
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = true, bpeWc0ByteLevel)},
       |btok AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM wc$BpeRounds),
       |bwords AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text),
       |    '${TextOps.byteLevelTokenPattern}')) AS w FROM documents),
       |bpe AS (SELECT id AS doc_id, CAST(sum(nt) AS BIGINT) AS bpe_tok
       |        FROM bwords JOIN btok USING (w) GROUP BY id),
       |${uniCteChain(UniRounds, applyFinal = true)},
       |utok AS (SELECT w, CAST(len(toks) AS BIGINT) AS nt
       |         FROM utk${UniRounds + 1}),
       |uwords AS (SELECT doc_id AS id, unnest(list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS w
       |  FROM documents),
       |uni AS (SELECT id AS doc_id, CAST(sum(nt) AS BIGINT) AS uni_tok
       |        FROM uwords JOIN utok USING (w) GROUP BY id),
       |dd AS (SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tok
       |  FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws_tok) AS BIGINT) AS ws_tokens,
       |  CAST(sum(bpe_tok) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(uni_tok) AS BIGINT) AS uni_tokens,
       |  round(CAST(sum(bpe_tok) AS DOUBLE) / sum(ws_tok), 4) AS bpe_fertility,
       |  round(CAST(sum(uni_tok) AS DOUBLE) / sum(ws_tok), 4) AS uni_fertility
       |FROM dd JOIN bpe USING (doc_id) JOIN uni USING (doc_id)
       |GROUP BY lang""".stripMargin

  // ===== q186 temperature-mixture token allocation =======================
  // The multilingual/multi-source "α-sampling" stage (Conneau & Lample;
  // mT5/XLM-R): per-source weights T^0.5 over token counts, a global
  // token budget apportioned by the largest-remainder method, documents
  // selected per source in content-hash order until the allocation runs
  // out. α is pinned at 0.5 because sqrt is the one power IEEE defines
  // correctly rounded — no libm pow surface between engines. The oracle
  // replays the sorted-source Σw fold, the floor/remainder apportionment
  // and the exclusive per-source prefix sum verbatim.

  private val MixBudget = 16000L // ≈ 60% of the sf0.01 corpus tokens

  private def q186(t: Tables): DataFrame =
    graft.operators.Curation.temperatureMixtureAlloc(
      graft.Fanout(t.documents).select(col("doc_id"), col("source"),
        size(TextOps.wordsOf(col("text"))).cast("long").as("n_tokens")),
      col("doc_id"), col("source"), col("n_tokens"), MixBudget)

  private val q186Sql =
    s"""WITH b AS (SELECT doc_id AS id, source,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |st AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_total
       |       FROM b GROUP BY 1),
       |sw AS (SELECT source, tok_total,
       |       sqrt(CAST(tok_total AS DOUBLE)) AS w FROM st),
       |wt AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_sort(list({'s': source, 'w': w})),
       |      x -> x.w)), (a, c) -> a + c) AS wsum FROM sw),
       |sh AS (SELECT source, CAST($MixBudget AS DOUBLE) * w / wsum AS share
       |       FROM sw CROSS JOIN wt),
       |ba AS (SELECT source, CAST(floor(share) AS BIGINT) AS base,
       |       share - floor(share) AS rem FROM sh),
       |rr AS (SELECT $MixBudget - CAST(sum(base) AS BIGINT) AS r FROM ba),
       |al AS (SELECT source, base + CASE WHEN
       |    row_number() OVER (ORDER BY rem DESC, source) <= r
       |    THEN 1 ELSE 0 END AS alloc_tokens FROM ba CROSS JOIN rr),
       |o AS (SELECT id, source, n_tokens, coalesce(sum(n_tokens) OVER (
       |    PARTITION BY source
       |    ORDER BY ${Dedup.SharedHash.hash28Sql("CAST(id AS VARCHAR)")}, id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS cum_before
       |  FROM b)
       |SELECT o.id, o.source, o.n_tokens,
       |  CAST(al.alloc_tokens AS BIGINT) AS alloc_tokens,
       |  CAST(o.cum_before AS BIGINT) AS cum_before,
       |  (o.cum_before < al.alloc_tokens) AS keep
       |FROM o JOIN al USING (source)""".stripMargin

  // ===== q187 kNN-graph label propagation ================================
  // The semi-supervised annotation stage (Zhu & Ghahramani 2002): a small
  // labeled seed slice (vec_id ≡ 0 mod SeedMod keeps its true label)
  // spreads over a symmetrized LSH-kNN similarity graph for a fixed
  // number of synchronous rounds — plurality vote among labeled
  // neighbors, exact integer counts, ties to the smallest label, seeds
  // clamped. The edge builder is q36's proven lshTopK chain (fewer
  // planes so buckets actually collide at harness scale; at 100 TB any
  // kNN family — IVF, multi-probe — feeds the same edge shape). The
  // oracle replays bucketing, top-k, symmetrization and all three
  // voting rounds as unrolled CTEs.

  private val KnnK = 5
  private val LpPlanes = 5
  private val LpSeedMod = 4
  private val LpIters = 3

  /** The label-propagation graph of q187/q189: the symmetrized LSH-kNN
    * edges (id_a < id_b) and every node with its seed label (the true
    * label on every LpSeedMod-th vector, else null).
    */
  private def lpGraph(t: Tables): (DataFrame, DataFrame) = {
    val e = graft.Fanout(t.embeddings)
    val knn = Similarity.lshTopK(
      e.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      e, Dim, KnnK, LpPlanes)
    val edges = knn.select(least(col("q_id"), col("vec_id")).as("id_a"),
      greatest(col("q_id"), col("vec_id")).as("id_b")).distinct()
    val nodes = e.select(col("vec_id").as("id"),
      when(col("vec_id") % LpSeedMod === 0, col("label"))
        .cast("long").as("seed_label"))
    (edges, nodes)
  }

  private def q187(t: Tables): DataFrame = {
    val (edges, nodes) = lpGraph(t)
    Graph.labelPropagation(edges, nodes, LpIters)
  }

  /** The LP oracle with `rounds` unrolled voting CTEs — shared by q187
    * (fixed LpIters rounds, RE-voting recurrence) and q189 (FROZEN
    * recurrence unrolled past the measured fixpoint: a converged frozen
    * round reproduces the labeling verbatim, the q149 over-unroll
    * idempotence trick — re-voting never converges on this graph, so
    * only the frozen form can sit on an over-unrolled oracle).
    * MATERIALIZED per the q149 discipline: every round references the
    * previous labeling twice. The recurrences differ only in the
    * coalesce: re-voting re-derives every non-seed label each round
    * (seed wins, else this round's plurality); frozen keeps the previous
    * label (previous wins, else this round's plurality).
    */
  private def lpUnrolledSql(rounds: Int, frozen: Boolean = false): String = {
    val roundCtes = (1 to rounds).map { i =>
      val keep = if (frozen) s"l${i - 1}.label" else "n.seed_label"
      val from = if (frozen) s"l${i - 1}" else "n"
      s"""c$i AS MATERIALIZED (SELECT dir.dst AS id, l${i - 1}.label, count(*) AS c
         |      FROM dir JOIN l${i - 1} ON dir.src = l${i - 1}.id
         |      WHERE l${i - 1}.label IS NOT NULL GROUP BY 1, 2),
         |p$i AS (SELECT id, label FROM (SELECT id, label,
         |        row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
         |      FROM c$i) WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT $from.id, coalesce($keep, p$i.label) AS label
         |      FROM $from LEFT JOIN p$i USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${bucketCtesSql(LpPlanes)},
       |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b),
       |s AS (SELECT q_id, b.vec_id, round(${cosSql("qv", "b.v")}, 4) AS score
       |      FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id,
       |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
       |      FROM s),
       |ed AS (SELECT DISTINCT least(q_id, vec_id) AS id_a,
       |         greatest(q_id, vec_id) AS id_b FROM r WHERE rnk <= $KnnK),
       |dir AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ed
       |        UNION ALL SELECT id_b, id_a FROM ed),
       |n AS MATERIALIZED (SELECT vec_id AS id, CASE WHEN vec_id % $LpSeedMod = 0
       |        THEN CAST(label AS BIGINT) END AS seed_label FROM embeddings),
       |l0 AS (SELECT id, seed_label AS label FROM n),
       |$roundCtes
       |SELECT n.id, l$rounds.label,
       |  (n.seed_label IS NOT NULL) AS is_seed
       |FROM n JOIN l$rounds USING (id)""".stripMargin
  }

  private val q187Sql = lpUnrolledSql(LpIters)

  // ===== q189 FROZEN label propagation to the fixpoint ===================
  // The data-dependent-iteration LP form on the hash gate
  // (Graph.labelPropagationFrozen): monotone layered seed expansion —
  // once labeled, frozen — looped to CONVERGENCE with a one-scalar
  // non-null count per round + localCheckpoint. The oracle unrolls 8
  // frozen rounds, past the measured fixpoint (2 rounds at sf0.01, 3 at
  // sf0.001 on the LSH-kNN graph) — a converged frozen round is
  // idempotent, so the extra rounds reproduce the fixpoint verbatim (the
  // q149 discipline). The RE-voting recurrence (q187's) measurably NEVER
  // converges on this graph (28/500 labels still flipping at round 14),
  // which is exactly why the fixpoint gate runs the frozen form and the
  // re-voting exact loop stays a spec-pinned maxRounds-bounded API.
  private val LpUnroll = 8

  private def q189(t: Tables): DataFrame = {
    val (edges, nodes) = lpGraph(t)
    // gate safety: the oracle unrolls LpUnroll frozen rounds and relies on
    // over-unroll idempotence, so the MEASURED convergence must stay under
    // the unroll — assert it here (fail-visible with a named knob) rather
    // than letting a scale/seed-density shift surface as a hash mismatch
    val (lab, rounds) = Graph.labelPropagationFrozenRounds(edges, nodes)
    require(rounds <= LpUnroll, s"frozen LP converged in $rounds rounds but " +
      s"q189's oracle unrolls only $LpUnroll — raise LpUnroll")
    lab
  }

  private val q189Sql = lpUnrolledSql(LpUnroll, frozen = true)

  // ===== q190 tokenizer round-trip integrity =============================
  // encode∘decode ≡ identity over the real corpus — the deploy gate a
  // tokenizer artifact ships behind (a lossy tokenizer silently corrupts
  // every downstream count and packed sequence). Every distinct
  // pre-token encodes through the trained byte-level BPE and decodes
  // back (concat hex → unhex → UTF-8 — BEFORE unhex, because merges can
  // split a multi-byte character's bytes across tokens); per doc the
  // gate reports pre-token count, mismatch count and the md5 of the
  // position-ordered decoded stream. The oracle is the q45
  // guarantee-gate shape: it computes the md5 from the ORIGINAL
  // pre-tokens and asserts zero mismatches — ground truth vs the
  // engine's actual round trip.

  private def q190(t: Tables): DataFrame = {
    // ONE regex pass feeds trainer AND round-trip (guide §1.2)
    val words = docPretokens(t, byteLevel = true)
    val merges = TextOps.bpeMergesByteLevelFromPretokens(words, BpeRounds,
      requireFull = true)
    TextOps.roundTrip(words, TextOps.Encoder.Bpe(merges, byteLevel = true))
      .select(col("id").as("doc_id"), col("n_pretokens"),
        col("n_mismatch"), col("rt_md5"))
  }

  // lazy: byteLevelTokenPattern interpolates fine eagerly, but keep the
  // q172Sql order-safety convention for anything reading TextOps state
  private lazy val q190Sql =
    s"""SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_pretokens,
       |  CAST(0 AS BIGINT) AS n_mismatch,
       |  md5(array_to_string(ws, '')) AS rt_md5
       |FROM (SELECT doc_id, regexp_extract_all(lower(text),
       |    '${TextOps.byteLevelTokenPattern}') AS ws FROM documents)
       |WHERE len(ws) > 0""".stripMargin

  // ===== q191 packed-sequence manifest ===================================
  // q72's missing half: the per-(doc, bin) SPAN manifest a pretraining
  // data loader actually reads — a doc whose tokens straddle a bin
  // boundary contributes a span to every bin it crosses (off_in_doc,
  // span_tokens), so every bin except each source's last is exactly
  // budget-full by construction. Spark side is the distributed prefix
  // scan + one narrow explode of ≤ ⌈n/B⌉+1 spans per doc; the oracle
  // replays the window prefix sum and the span arithmetic via
  // generate_series.

  private def q191(t: Tables): DataFrame =
    graft.operators.Curation.packManifest(
      t.documents.select(col("source"), col("doc_id"),
        graft.operators.TextOps.wsTokenCount(col("text")).cast("long")
          .as("n_tok")),
      col("source"), col("doc_id"), col("n_tok"), PackBudget,
      partitions = 32)
      .select(col("domain").as("source"), col("id").as("doc_id"),
        col("bin"), col("off_in_doc"), col("span_tokens"))

  // lazy: PackBudget is declared later in this file (the q172Sql
  // order-safety lesson — an eager s-string reads it as 0)
  private lazy val q191Sql =
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (SELECT source, doc_id, n_tok,
       |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum
       |  FROM d)
       |SELECT source, doc_id, t.b AS bin,
       |  CAST(greatest(t.b * $PackBudget, cum) - cum AS BIGINT) AS off_in_doc,
       |  CAST(least((t.b + 1) * $PackBudget, cum + n_tok)
       |    - greatest(t.b * $PackBudget, cum) AS BIGINT) AS span_tokens
       |FROM c, unnest(generate_series(cum // $PackBudget,
       |  (cum + n_tok - 1) // $PackBudget)) AS t(b)
       |WHERE n_tok > 0""".stripMargin

  // ===== q192 CCNet head/middle/tail perplexity partition ================
  // The published CCNet pipeline doesn't FILTER on perplexity — it
  // BUCKETS (Wenzek et al. 2019 §4.3): per source, the best/middle/worst
  // thirds by reference-LM perplexity, with downstream sampling drawing
  // mostly from the head. Boundaries are ONE exact-percentile aggregate
  // per source (two doubles, broadcast), rounded to 4 dp before the
  // comparison — the same rounded-percentile cross-engine contract q100
  // pinned. Oracle = q175's scoring chain (anchor-replace discipline)
  // extended by the source join, quantile_cont boundaries and the CASE.

  private def q192(t: Tables): DataFrame =
    TextOps.perplexityPartition(graft.Fanout(t.documents), col("doc_id"),
      col("text"), col("source"), col("doc_id") % 10 === 0, LmMaxV, LmMaxB,
      LmLambda)
      .select(col("id"), col("group").as("source"), col("ppl"), col("bucket"))

  private lazy val q192Sql = {
    // q175Sql's final SELECT replaced wholesale (the q135/q170 anchor
    // mechanics); fail loudly if q175Sql is ever reworded
    val anchor = "SELECT id, n_bigrams, h, round(exp(h), 4) AS ppl,"
    require(q175Sql.contains(anchor), "q175Sql anchor reworded — fix q192Sql")
    val withPart = q175Sql.substring(0, q175Sql.indexOf(anchor)).trim
    s"""$withPart,
       |pp AS (SELECT g.id, d2.source, round(exp(h), 4) AS ppl
       |       FROM g JOIN documents d2 ON g.id = d2.doc_id),
       |bd AS (SELECT source,
       |    round(quantile_cont(ppl, ${1.0 / 3}), 4) AS b1,
       |    round(quantile_cont(ppl, ${2.0 / 3}), 4) AS b2
       |  FROM pp GROUP BY 1)
       |SELECT id, source, ppl,
       |  CASE WHEN ppl <= b1 THEN 'head'
       |       WHEN ppl <= b2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM pp JOIN bd USING (source)""".stripMargin
  }

  // ===== q193 group-centroid similarity map ===============================
  // The domain-similarity diagnostic mixture design reads (which groups
  // are near-duplicates in embedding space, which are distinct): mean
  // embedding per label class, cosine over all unordered class pairs.
  // Distributed float means are partial-sum-order nondeterministic, so
  // components integerize (floor(x·2^20) — exact in double for float32,
  // and floor agrees across engines where round-half and double→int cast
  // rules do not) and the per-dim sums are order-free BIGINT sums; the
  // pair cosine is the house index-ordered fold (cosSql mirror).

  private def q193(t: Tables): DataFrame =
    Similarity.groupCentroidCosine(graft.Fanout(t.embeddings),
      col("label"), col("embedding"))
      .select(col("g_a").as("label_a"), col("g_b").as("label_b"),
        col("n_a"), col("n_b"), col("cos_sim"))

  // ===== q194 leakage-safe contrastive batches ===========================
  // In-batch-negative training (DPR/CLIP) treats every other batch member
  // as a negative — two near-dups sharing a batch are FALSE negatives,
  // the within-batch twin of q170's train/eval leak. Batch = (hash28 of
  // the near-dup cluster + rank within cluster) mod nBatches: no two
  // cluster members share a batch while the cluster fits; overflow rows
  // (rank ≥ nBatches — unseparable by pigeonhole) report safe = false.
  // Oracle = q62's recursive-CTE clustering (anchor-replace discipline)
  // + the identical rank/hash arithmetic.

  private val CbBatches = 8

  private def q194(t: Tables): DataFrame =
    graft.operators.Sampling.contrastiveBatches(
      t.documents.select(col("doc_id")), col("doc_id"), q62(t), CbBatches)

  private val q194Sql = {
    // q62's final SELECT replaced wholesale (the q135/q170 anchor
    // mechanics); fail loudly if q62Sql is ever reworded
    val anchor =
      """SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
        |FROM documents LEFT JOIN comp c ON doc_id = c.id""".stripMargin
    require(q62Sql.contains(anchor), "q194 oracle anchor missing from q62Sql")
    q62Sql.replace(anchor,
      s""",cl AS (SELECT doc_id AS id, COALESCE(c.comp, doc_id) AS comp
         |       FROM documents LEFT JOIN comp c ON doc_id = c.id),
         |rk AS (SELECT id, comp,
         |         row_number() OVER (PARTITION BY comp ORDER BY id) - 1 AS r
         |       FROM cl)
         |SELECT id, comp AS cluster,
         |  CAST((${Dedup.SharedHash.hash28Sql("CAST(comp AS VARCHAR)")} + r)
         |    % $CbBatches AS BIGINT) AS batch,
         |  (r < $CbBatches) AS safe
         |FROM rk""".stripMargin)
  }

  // ===== q195 CountMin sketch on the gate =================================
  // The third heavy-hitter family member (exact q106, Misra-Gries bound
  // gate q121): CountMin is a pure LINEAR aggregation over the shared
  // hash family — order-free integer sums — so unlike MG the oracle
  // replays the ENTIRE sketch and the per-token estimates hash-compare
  // directly. The gate emits every token's exact count, sketch estimate,
  // the overcount, and the one-sided guarantee est ≥ exact (constant
  // TRUE iff the sketch is sound).

  private val CmDepth = 4
  private val CmWidth = 256

  private def q195(t: Tables): DataFrame = {
    import graft.CacheScope.ScopedPersist
    val toks = graft.Fanout(t.documents)
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .persistScoped() // feeds the sketch AND the exact counts
    val sk = graft.operators.Sketches.countMin(toks, col("token"),
      CmDepth, CmWidth)
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact"))
    graft.operators.Sketches
      .countMinEstimate(sk, exact.select(col("token")), col("token"),
        CmDepth, CmWidth)
      .join(exact, col("key") === col("token"))
      .select(col("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"),
        (col("est") >= col("exact")).as("sound"))
  }

  private val q195Sql = {
    def bucket(h: String, r: Int) =
      s"((${Dedup.hashA(r)} * $h + ${Dedup.hashB(r)}) % ${Dedup.P}) % $CmWidth"
    val rows = (0 until CmDepth).map { r =>
      s"SELECT $r AS row, ${bucket("h", r)} AS bucket, h FROM tk"
    }.mkString("\nUNION ALL ")
    s"""WITH t0 AS (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
       |  FROM documents),
       |t1 AS (SELECT token FROM t0 WHERE len(token) > 0),
       |tk AS (SELECT token, ${Dedup.SharedHash.hash28Sql("token")} AS h FROM t1),
       |cells AS ($rows),
       |sk AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS c
       |       FROM cells GROUP BY 1, 2),
       |ex AS (SELECT token, ${Dedup.SharedHash.hash28Sql("token")} AS h,
       |         CAST(count(*) AS BIGINT) AS exact
       |       FROM t1 GROUP BY 1, 2),
       |est AS (SELECT e.token, min(coalesce(sk.c, 0)) AS est
       |  FROM (${(0 until CmDepth).map(r =>
      s"SELECT token, $r AS row, ${bucket("h", r)} AS bucket FROM ex")
      .mkString("\nUNION ALL ")}) e
       |  LEFT JOIN sk USING (row, bucket) GROUP BY e.token)
       |SELECT ex.token, ex.exact, CAST(est AS BIGINT) AS est,
       |  CAST(est - exact AS BIGINT) AS overcount,
       |  (est >= exact) AS sound
       |FROM ex JOIN est USING (token)""".stripMargin
  }

  /** The lower-cased whitespace tokens of `docs`' text, as `token`. */
  private def wsTokens(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)

  /** The CountMin store report of q197/q229: every corpus token's exact
    * count beside its estimate probed from the store at `dir`.
    */
  private def countMinReport(t: Tables, dir: String): DataFrame = {
    val exact = wsTokens(graft.Fanout(t.documents)).persistScoped()
      .groupBy(col("token")).agg(count(lit(1)).as("exact"))
    graft.operators.Sketches
      .countMinEstimateAgainstStore(dir, exact.select(col("token")),
        col("token"))
      .join(exact, col("key") === col("token"))
      .select(col("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"),
        (col("est") >= col("exact")).as("sound"))
  }

  // ===== q229 compacted CountMin store =====================================
  // q197's maintenance closure — the op the sketch store was missing:
  // probes SUM cells across every batch dir forever, so an
  // ever-ingesting store's probe cost grows without compaction. CountMin
  // LINEARITY makes the fold trivially exact (summed cells are the same
  // exact integer sums, associativity), so a THREE-batch store folded by
  // compactCountMin to one batch=0 in the next epoch must still satisfy
  // q195's full-corpus oracle VERBATIM — the probe-identical contract as
  // a hash gate. The IfNeeded trigger + epoch/file assertions are
  // spec-pinned (SketchesSpec).

  private def q229(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    def toksOf(f: Column => Column) =
      wsTokens(graft.Fanout(t.documents).filter(f(col("doc_id"))))
    val dir = RunCache.dir(t.dir,
      s"cm_compact_${CmDepth}_$CmWidth") { d =>
      graft.operators.Sketches.writeCountMin(
        toksOf(_ % 3 === 0), col("token"), CmDepth, CmWidth, d)
      graft.operators.Sketches.ingestIntoCountMin(
        toksOf(_ % 3 === 1), col("token"), d, batchId = 1L)
      graft.operators.Sketches.ingestIntoCountMin(
        toksOf(_ % 3 === 2), col("token"), d, batchId = 2L)
      // threshold crossed (3 batches > 2) → fold to one batch, epoch 1
      require(graft.operators.Sketches
        .compactCountMinIfNeeded(spark, d, maxBatches = 2).contains(1))
    }
    countMinReport(t, dir)
  }

  // ===== q198 stored perplexity-partition serving ==========================
  // q192's production form: the reference LM AND the tercile boundaries
  // train/derive ONCE into parquet artifacts and serving buckets against
  // the FROZEN values (recomputing terciles per serving batch would make
  // a document's bucket depend on its batch-mates). Rounded counts and
  // boundaries round-trip parquet losslessly, so stored-and-bucketed ≡
  // freshly-partitioned — q192's oracle applies VERBATIM (the q176/q181
  // stored-artifact integrity contract, third instance).

  private def q198(t: Tables): DataFrame = {
    val lmDir = lmModelDir(t)
    val bDir = RunCache.dir(t.dir, s"ppl_bounds_${LmMaxV}_$LmMaxB") { d =>
      TextOps.writePplBoundaries(graft.Fanout(t.documents), col("doc_id"),
        col("text"), col("source"), col("doc_id") % 10 === 0, LmMaxV,
        LmMaxB, LmLambda, d)
    }
    TextOps.pplBucketAgainstBoundaries(graft.Fanout(t.documents),
      col("doc_id"), col("text"), col("source"), lmDir, bDir, LmLambda)
      .select(col("id"), col("group").as("source"), col("ppl"), col("bucket"))
  }

  // ===== q197 stored CountMin lifecycle ====================================
  // q195's production form: the sketch builds from HALF the corpus
  // (doc_id ≡ 0 mod 2), the other half ingests as a versioned batch
  // (overwrite-own-partition, the index families' replay contract), and
  // the probe sums cells across batches before the per-key min. CountMin
  // LINEARITY makes store+ingest ≡ a one-shot sketch of the union BY
  // CONSTRUCTION — so q195's full-corpus oracle applies VERBATIM, which
  // is exactly the integrity contract (the q176/q181 stored-model
  // discipline applied to a sketch).

  private def q197(t: Tables): DataFrame = {
    def toksOf(f: Column => Column) =
      wsTokens(graft.Fanout(t.documents).filter(f(col("doc_id"))))
    val dir = RunCache.dir(t.dir, s"cm_sketch_${CmDepth}_$CmWidth") { d =>
      graft.operators.Sketches.writeCountMin(
        toksOf(_ % 2 === 0), col("token"), CmDepth, CmWidth, d)
      graft.operators.Sketches.ingestIntoCountMin(
        toksOf(_ % 2 =!= 0), col("token"), d, batchId = 1L)
    }
    countMinReport(t, dir)
  }

  // ===== q196 tokenizer fertility report ==================================
  // The tokenizer-QA number every multilingual pipeline tracks: BPE
  // tokens per whitespace word, per language — a language whose
  // fertility blows up is under-served by the learned vocabulary. The
  // byte-level tokenizer TRAINS ONCE into a stored artifact
  // (RunCache + writeBpeModel — the byte-level twin of q181's
  // stored word-level model) and the report applies the loaded merges,
  // proving the byte-level artifact round-trips storage too. Exact
  // integer sums; ONE division per language at the end.

  private def q196(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = bpeByteModelDir(t)
    val merges = TextOps.loadBpeMerges(spark, dir)
    val bpe = TextOps.tokenCounts(docPretokens(t, byteLevel = true),
        TextOps.Encoder.Bpe(merges, byteLevel = true))
      .select(col("id").as("doc_id"), col("n_tokens").as("bpe_tok"))
    t.documents
      .select(col("doc_id"), col("lang"),
        TextOps.wsTokenCount(col("text")).cast("long").as("ws_tok"))
      .join(bpe, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tok")).as("ws_tokens"),
        sum(col("bpe_tok")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4)
          .as("fertility"))
  }

  // lazy: bpeCteChain and friends are declared later in the file
  private lazy val q196Sql =
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = true, bpeWc0ByteLevel)},
       |tok AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM wc$BpeRounds),
       |words AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text),
       |    '${TextOps.byteLevelTokenPattern}')) AS w FROM documents),
       |bpe AS (SELECT id AS doc_id, CAST(sum(nt) AS BIGINT) AS bpe_tok
       |        FROM words JOIN tok USING (w) GROUP BY id),
       |d AS (SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tok
       |  FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(ws_tok) AS BIGINT) AS ws_tokens,
       |  CAST(sum(bpe_tok) AS BIGINT) AS bpe_tokens,
       |  round(CAST(sum(bpe_tok) AS DOUBLE) / sum(ws_tok), 4) AS fertility
       |FROM d JOIN bpe USING (doc_id)
       |GROUP BY lang""".stripMargin

  private val q193Sql =
    s"""WITH e AS (SELECT CAST(label AS VARCHAR) AS g,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x AS (SELECT g, t.i AS d,
       |    CAST(floor(v[t.i] * 1048576) AS BIGINT) AS fx
       |  FROM e, unnest(generate_series(1, len(v))) AS t(i)),
       |s AS (SELECT g, d, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(fx) AS BIGINT) AS sx FROM x GROUP BY 1, 2),
       |c AS (SELECT g, max(n) AS n,
       |    list_transform(list_sort(list(
       |      {'d': d, 'c': CAST(sx AS DOUBLE) / (n * 1048576.0)})),
       |      z -> z.c) AS cv
       |  FROM s GROUP BY g)
       |SELECT a.g AS label_a, b.g AS label_b, a.n AS n_a, b.n AS n_b,
       |  round(${cosSql("a.cv", "b.cv")}, 4) AS cos_sim
       |FROM c a JOIN c b ON a.g <= b.g""".stripMargin

  // ===== q188 end-to-end training-data pipeline ==========================
  // The round-7–10 surface chained the way q95 chained round-1's: Gopher
  // repetition filter (q169) → CCNet perplexity gate (q175) → exact +
  // MinHash-LSH dedup (q61) → DSIR importance selection (q184) →
  // temperature-mixture token allocation (q186) → byte-level BPE
  // tokenizer TRAINED ON THE SURVIVORS (q180/q183) → token-budget
  // packing (q72) — one DataFrame, oracled as ONE SQL statement whose
  // every stage runs on the previous stage's survivors. This catches the
  // cross-operator contract drift no per-operator row can: each stage's
  // implicit row-dropping rules (repetition needs ≥1 token, perplexity
  // ≥2 tokens, DSIR ≥1 feature, BPE tokenize ≥1 pre-token) become the
  // next stage's input contract, and the tokenizer/model stages train on
  // PIPELINE-FILTERED slices (the perplexity reference slice and BPE
  // vocabulary shift with the upstream filters). Scale posture is the
  // union of the stages' (each individually plan-audited); the only
  // collect is the BPE merge table — a bounded model artifact.

  private val P2Quota = 100 // DSIR quota over the deduped survivors
  private val P2MixBudget = 3000L // α-sampling token budget
  private val P2PackBudget = 500L // tokens per packed bin

  private def q188(t: Tables): DataFrame = {
    val docs0 = graft.Fanout(t.documents)
      .select(col("doc_id"), col("source"), col("text"))
    def keptIds(scored: DataFrame): DataFrame =
      scored.filter(col("keep")).select(col("id").as("doc_id"))
    // every stage boundary localCheckpoints: each operator references its
    // input frame several times internally, so five composed stages would
    // otherwise multiply the logical plan exponentially (the lineage-
    // truncation discipline of the iterative graph operators, applied to
    // a DEEP composition instead of a loop). The checkpointed frames are
    // the shrinking survivor sets - tiny relative to the corpus scan.
    val d1 = docs0.join(keptIds(TextOps.repetitionFilter(docs0,
      col("doc_id"), col("text"), RepMaxTok, RepMaxBigram, RepMinTtr)),
      Seq("doc_id"), "left_semi").localCheckpoint()
    val d2 = d1.join(keptIds(TextOps.lmPerplexityFilter(d1, col("doc_id"),
      col("text"), col("doc_id") % 10 === 0, LmMaxV, LmMaxB, LmLambda,
      LmPplThresh)), Seq("doc_id"), "left_semi").localCheckpoint()
    val d3 = d2.join(Dedup.dedupCorpus(
      d2.select(col("doc_id").as("id"), col("text")),
      3, MinHashes, Bands, CorpusT).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi").localCheckpoint()
    val d4 = d3.join(keptIds(TextOps.dsirSelect(d3, col("doc_id"),
      col("text"), col("doc_id") % 10 === 0, DsirDim, P2Quota)),
      Seq("doc_id"), "left_semi").localCheckpoint()
    val d5 = d4.join(keptIds(graft.operators.Curation.temperatureMixtureAlloc(
      d4.select(col("doc_id"), col("source"),
        size(TextOps.wordsOf(col("text"))).cast("long").as("n_tokens")),
      col("doc_id"), col("source"), col("n_tokens"), P2MixBudget)),
      Seq("doc_id"), "left_semi")
      .localCheckpoint() // feeds BPE training AND tokenization AND packing
    // ONE regex pass feeds trainer AND token counting (guide §1.2)
    val words5 = TextOps.pretokenize(d5, Seq(col("doc_id").as("id")),
      col("text"), byteLevel = true)
    val merges = TextOps.bpeMergesByteLevelFromPretokens(words5, BpeRounds,
      requireFull = true)
    val toks = TextOps.tokenCounts(words5,
        TextOps.Encoder.Bpe(merges, byteLevel = true))
      .select(col("id").as("doc_id"), col("n_tokens"))
    graft.operators.Curation.packBinsScalable(
      d5.select(col("doc_id"), col("source")).join(toks, Seq("doc_id")),
      col("source"), col("doc_id"), col("n_tokens"), P2PackBudget,
      partitions = 32)
      .select(col("domain").as("source"), col("bin"), col("n_docs"),
        col("bin_tokens"))
  }

  // lazy: bpeCteChain/bpeWc0ByteLevelFrom/byteLevelTokenPattern and the
  // Bpe/Bm constants are declared later in this file (the q172Sql
  // order-safety lesson)
  private lazy val q188Sql =
    s"""WITH
       |r_w AS (SELECT doc_id AS id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS words
       |  FROM documents),
       |r_tc AS (SELECT id, n, tk, count(*) AS c FROM (
       |    SELECT id, len(words) AS n, unnest(words) AS tk FROM r_w
       |    WHERE len(words) > 0) GROUP BY 1, 2, 3),
       |r_ts AS (SELECT id, n, max(c) AS topc, count(*) AS nd FROM r_tc GROUP BY 1, 2),
       |r_bc AS (SELECT id, b, count(*) AS c FROM (
       |    SELECT id, words[i] || ' ' || words[i+1] AS b FROM (
       |      SELECT id, words, unnest(generate_series(1, len(words)-1)) AS i
       |      FROM r_w WHERE len(words) >= 2)) GROUP BY 1, 2),
       |r_bs AS (SELECT id, max(c) AS topb FROM r_bc GROUP BY 1),
       |d1 AS MATERIALIZED (SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN (
       |    SELECT r_ts.id FROM r_ts LEFT JOIN r_bs USING (id)
       |    WHERE round(CAST(r_ts.topc AS DOUBLE)/r_ts.n, 4) <= $RepMaxTok
       |      AND (CASE WHEN r_bs.topb IS NOT NULL
       |        THEN round(CAST(r_bs.topb AS DOUBLE)/(r_ts.n-1), 4)
       |        ELSE 0.0 END) <= $RepMaxBigram
       |      AND round(CAST(r_ts.nd AS DOUBLE)/r_ts.n, 4) >= $RepMinTtr
       |  ) k1 ON d.doc_id = k1.id),
       |p_d AS MATERIALIZED (SELECT doc_id AS id, ws FROM (
       |    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws FROM d1)
       |  WHERE len(ws) >= 2),
       |p_ru AS (SELECT w, count(*) AS uc FROM (
       |    SELECT unnest(ws) AS w FROM p_d WHERE id % 10 = 0) GROUP BY 1),
       |p_voc AS MATERIALIZED (SELECT w, uc FROM p_ru ORDER BY uc DESC, w LIMIT $LmMaxV),
       |p_vst AS (SELECT CAST(sum(uc) AS BIGINT) AS tt,
       |               CAST(count(*) AS BIGINT) AS nv FROM p_voc),
       |p_ap AS MATERIALIZED (SELECT id, ws[i] AS w1, ws[i+1] AS w2 FROM (
       |    SELECT id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM p_d)),
       |p_big AS (SELECT w1, w2, bc FROM (
       |    SELECT w1, w2, count(*) AS bc FROM p_ap
       |      JOIN p_voc v1 ON p_ap.w1 = v1.w JOIN p_voc v2 ON p_ap.w2 = v2.w
       |      WHERE id % 10 = 0 GROUP BY 1, 2)
       |  ORDER BY bc DESC, w1, w2 LIMIT $LmMaxB),
       |p_sc AS (SELECT dn.id, dn.w1, dn.w2, dn.n,
       |    ln($LmLambda * COALESCE(CAST(b.bc AS DOUBLE) / u1.uc, 0)
       |       + ${1.0 - LmLambda} * CAST(COALESCE(u2.uc, 0) + 1 AS DOUBLE)
       |         / CAST(tt + nv + 1 AS DOUBLE)) AS lp
       |  FROM (SELECT id, w1, w2, count(*) AS n FROM p_ap GROUP BY 1, 2, 3) dn
       |  LEFT JOIN p_big b ON dn.w1 = b.w1 AND dn.w2 = b.w2
       |  LEFT JOIN p_voc u1 ON dn.w1 = u1.w
       |  LEFT JOIN p_voc u2 ON dn.w2 = u2.w
       |  CROSS JOIN p_vst),
       |p_f AS (SELECT id, CAST(sum(n) AS BIGINT) AS m,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'w1': w1, 'w2': w2, 'v': n * lp})),
       |        x -> x.v)), (a, b) -> a + b) AS s
       |  FROM p_sc GROUP BY id),
       |d2 AS MATERIALIZED (SELECT d.doc_id, d.source, d.text FROM d1 d JOIN (
       |    SELECT id FROM p_f WHERE round(exp(-s / m), 4) <= $LmPplThresh
       |  ) k2 ON d.doc_id = k2.id),
       |${survivorCtesSql("d2", "d3", "k3")},
       |i_d AS MATERIALIZED (SELECT doc_id AS id, (doc_id % 10 = 0) AS is_t, ws FROM (
       |    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws FROM d3)
       |  WHERE len(ws) > 0),
       |i_fb AS MATERIALIZED (SELECT id, is_t,
       |    (${Dedup.SharedHash.hash28Sql("ft")} % $DsirDim) AS b FROM (
       |    SELECT id, is_t, unnest(ws || list_transform(
       |      range(2, len(ws) + 1), i -> ws[i - 1] || ' ' || ws[i])) AS ft
       |    FROM i_d)),
       |i_bk AS (SELECT b,
       |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(count(*) AS BIGINT) AS cr FROM i_fb GROUP BY 1),
       |i_lr AS (SELECT b, ln(((ct + 1.0) / (tt + $DsirDim))
       |                    / ((cr + 1.0) / (tr + $DsirDim))) AS lr
       |  FROM i_bk CROSS JOIN (SELECT CAST(sum(ct) AS BIGINT) AS tt,
       |    CAST(sum(cr) AS BIGINT) AS tr FROM i_bk)),
       |i_ds AS MATERIALIZED (SELECT id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'b': b, 'v': n * lr})),
       |        x -> x.v)), (a, c) -> a + c)
       |      / CAST(sum(n) AS BIGINT), 4) AS w
       |  FROM (SELECT id, b, count(*) AS n FROM i_fb GROUP BY 1, 2)
       |  JOIN i_lr USING (b) GROUP BY id),
       |i_th AS (SELECT w AS thw, id AS thid FROM (
       |    SELECT id, w FROM i_ds ORDER BY w DESC, id LIMIT $P2Quota)
       |  ORDER BY w ASC, id DESC LIMIT 1),
       |d4 AS MATERIALIZED (SELECT d.doc_id, d.source, d.text FROM d3 d JOIN (
       |    SELECT id FROM i_ds CROSS JOIN i_th
       |    WHERE w > thw OR (w = thw AND id <= thid)
       |  ) k4 ON d.doc_id = k4.id),
       |m_b AS MATERIALIZED (SELECT doc_id AS id, source,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
       |  FROM d4),
       |m_sw AS (SELECT source, sqrt(CAST(tok_total AS DOUBLE)) AS w FROM (
       |    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_total
       |    FROM m_b GROUP BY 1)),
       |m_ba AS (SELECT source, CAST(floor(share) AS BIGINT) AS base,
       |    share - floor(share) AS rem FROM (
       |    SELECT source, CAST($P2MixBudget AS DOUBLE) * w / wsum AS share
       |    FROM m_sw CROSS JOIN (
       |      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(list_sort(list({'s': source, 'w': w})),
       |          x -> x.w)), (a, c) -> a + c) AS wsum FROM m_sw))),
       |m_al AS (SELECT source, base + CASE WHEN
       |    row_number() OVER (ORDER BY rem DESC, source) <= r
       |    THEN 1 ELSE 0 END AS alloc_tokens FROM m_ba CROSS JOIN (
       |    SELECT $P2MixBudget - CAST(sum(base) AS BIGINT) AS r FROM m_ba)),
       |d5 AS MATERIALIZED (SELECT d.doc_id, d.source, d.text FROM d4 d JOIN (
       |    SELECT o.id FROM (
       |      SELECT id, source, coalesce(sum(n_tokens) OVER (
       |        PARTITION BY source
       |        ORDER BY ${Dedup.SharedHash.hash28Sql("CAST(id AS VARCHAR)")}, id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS cum_before
       |      FROM m_b) o
       |    JOIN m_al al USING (source)
       |    WHERE o.cum_before < al.alloc_tokens
       |  ) k5 ON d.doc_id = k5.id),
       |${bpeCteChain(BpeRounds, applyLast = true, bpeWc0ByteLevelFrom("d5"))},
       |b_tok AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM wc$BpeRounds),
       |b_nt AS (SELECT id, CAST(sum(nt) AS BIGINT) AS n_tokens FROM (
       |    SELECT doc_id AS id, unnest(regexp_extract_all(lower(text),
       |      '${TextOps.byteLevelTokenPattern}')) AS w FROM d5) bw
       |  JOIN b_tok USING (w) GROUP BY id),
       |pk AS (SELECT d.source, n_tokens,
       |    COALESCE(sum(n_tokens) OVER (PARTITION BY d.source ORDER BY d.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM d5 d JOIN b_nt ON d.doc_id = b_nt.id)
       |SELECT source, CAST(floor(cum / $P2PackBudget.0) AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
       |FROM pk GROUP BY 1, 2""".stripMargin

  // ===== q148 per-document novelty attribution ===========================
  // "How much does each document ADD to the corpus?" — for every doc,
  // the fraction of its distinct 3-shingles owned by no lower-id doc
  // (owner = min doc id per shingle, the same first-owner election as
  // q81's segment dedup). Near-1 novelty = genuinely new text; near-0 =
  // recombination of existing corpus material — the ranking signal
  // curation uses BETWEEN exact dedup (which only catches identity) and
  // pairwise near-dup (which only catches concentrated overlap).
  // Scale: one explode + two hash aggregates + one equi-join on the
  // shingle (AQE-splittable); everything is integer/string — no float
  // determinism surface at all.
  private def q148(t: Tables): DataFrame = {
    val sized = shingledDocs(t)
      .withColumn("n_sh", size(col("shingles")).cast("long"))
      .filter(col("n_sh") > 0)
    val inv = sized.select(col("id"), col("n_sh"), explode(col("shingles")).as("s"))
    val owner = inv.groupBy(col("s")).agg(min(col("id")).as("owner"))
    inv.join(owner, "s")
      .groupBy(col("id"), col("n_sh"))
      .agg(sum(when(col("owner") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("id"), col("n_sh"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_sh"), 4).as("novelty"))
  }

  private val q148Sql =
    s"""WITH $wordsCte,
       |d AS (SELECT id, ${shinglesSql(3)} AS ss FROM w),
       |s AS (SELECT id, CAST(len(ss) AS BIGINT) AS n_sh, unnest(ss) AS s
       |      FROM d WHERE len(ss) > 0),
       |o AS (SELECT s, min(id) AS owner FROM s GROUP BY s)
       |SELECT s.id, s.n_sh,
       |  CAST(count(CASE WHEN o.owner = s.id THEN 1 END) AS BIGINT) AS n_novel,
       |  round(CAST(count(CASE WHEN o.owner = s.id THEN 1 END) AS DOUBLE) / s.n_sh, 4) AS novelty
       |FROM s JOIN o ON s.s = o.s
       |GROUP BY s.id, s.n_sh""".stripMargin

  // ===== q76 semantic dedup (SemDeDup-style) =============================
  // Cluster-then-dedup: IVF-cell assignment (deterministic centroids, as
  // q44), then drop any vector with cosine ≥ threshold to a lower-id
  // vector within its cell. Output = surviving vec_ids.

  private def q76(t: Tables): DataFrame =
    Similarity.semanticDedup(graft.Fanout(t.embeddings), IvfCells, CosT)

  private val q76Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, v AS cvec FROM e WHERE vec_id < $IvfCells),
       |lists AS MATERIALIZED (${ivfBestSql("e", "vec_id", "v", "1")}),
       |drops AS (SELECT DISTINCT y.vec_id AS drop_id
       |          FROM lists x JOIN lists y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |          WHERE round(${cosSql("x.v", "y.v")}, 4) >= $CosT)
       |SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT drop_id FROM drops)""".stripMargin

  // ===== q151 top-2-cell semantic dedup ==================================
  // q76's cross-cell recall knob ON the gate: every vector enters its
  // top-2 cells during candidate generation
  // (Similarity.semanticDedupMultiCell), so near-dup pairs straddling a
  // cell boundary — each one's best cell is the other's runner-up — are
  // witnessed in a shared cell. On this corpus the drop set more than
  // doubles vs q76 (recall 0.271 → 0.596 of the true pairs,
  // SimilaritySpec) at ≤4× the pair bound. The oracle is q76's with the
  // assignment rank widened to 2 — same rounded scoring, same cent_id
  // tiebreak, same distinct'ed drop set.

  private def q151(t: Tables): DataFrame =
    Similarity.semanticDedupMultiCell(
      graft.Fanout(t.embeddings), IvfCells, CosT, nAssign = 2)

  private val q151Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, v AS cvec FROM e WHERE vec_id < $IvfCells),
       |lists AS MATERIALIZED (${ivfBestSql("e", "vec_id", "v", "2")}),
       |drops AS (SELECT DISTINCT y.vec_id AS drop_id
       |          FROM lists x JOIN lists y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |          WHERE round(${cosSql("x.v", "y.v")}, 4) >= $CosT)
       |SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT drop_id FROM drops)""".stripMargin

  // ===== q152 BM25 more-like-this retrieval ==============================
  // Ranked retrieval over the corpus (Retrieval.bm25TopK): each seed
  // document's top-3 tf-idf bigrams form a query bag, and every other
  // document is BM25-scored against it — the "find documents like these
  // seeds" primitive behind targeted corpus expansion. Terms are word
  // bigrams for the q142 reason (unigram idf degenerates on this corpus's
  // ~31-word vocabulary). dl rides on every tf row from tokenize time, so
  // scoring needs NO corpus-wide length join; the query side (seeds ×
  // 3 terms) broadcasts; per-(seed, doc) scores fold contributions in
  // sorted term order and round to 4 decimals before the bounded top-k
  // aggregate ranks them. The oracle replays the identical arithmetic —
  // float literals are interpolated from the same Scala constants, so
  // both engines parse bit-identical doubles.

  private val BmK1 = 1.2
  private val BmB = 0.75
  private val BmSeeds = 4 // seed docs: doc_id < BmSeeds (exist at every SF)
  private val BmQTerms = 3
  private val BmTopK = 10

  /** The bigram-BM25 oracle CTEs `tf … agg`: per-doc bigram tf, df, corpus
    * stats, the seed bags (`sw` rows of the seed docs `seedFilter` keeps,
    * top BmQTerms by tf·idf in `qt`), per-term scores and each (seed, doc)
    * score summed in term order.
    */
  private def bigramBm25Sql(seedFilter: String): String =
    s"""tf AS (SELECT id, dl, term, count(*) AS tf FROM (
       |    SELECT id, CAST(len(ws) - 1 AS BIGINT) AS dl,
       |      unnest(list_transform(range(2, len(ws) + 1),
       |        i -> ws[i - 1] || ' ' || ws[i])) AS term
       |    FROM (SELECT doc_id AS id, list_filter(
       |            regexp_split_to_array(lower(text), '\\s+'),
       |            x -> len(x) > 0) AS ws
       |          FROM documents)
       |    WHERE len(ws) >= 2)
       |  GROUP BY 1, 2, 3),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl
       |       FROM (SELECT DISTINCT id, dl FROM tf)),
       |sw AS (SELECT id AS q_id, term,
       |    CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) AS w
       |  FROM tf JOIN dfs USING (term) CROSS JOIN st$seedFilter),
       |qt AS (SELECT q_id, e.t AS term FROM (
       |    SELECT q_id, list_sort(list({'nw': -w, 't': term}))[1:$BmQTerms] AS v
       |    FROM sw GROUP BY q_id), unnest(v) AS u(e)),
       |sc AS (SELECT q.q_id, f.id, f.term,
       |    ln(${1.0} + (CAST(n_docs AS DOUBLE) - df + ${0.5})
       |         / (CAST(df AS DOUBLE) + ${0.5}))
       |      * (CAST(tf AS DOUBLE) * ${BmK1 + 1.0})
       |      / (CAST(tf AS DOUBLE) + ${BmK1} * (${1.0 - BmB}
       |           + ${BmB} * CAST(dl AS DOUBLE)
       |             / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS c
       |  FROM tf f JOIN qt q USING (term) JOIN dfs USING (term) CROSS JOIN st
       |  WHERE f.id <> q.q_id),
       |agg AS (SELECT q_id, id AS doc_id,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list({'t': term, 'c': c})), e -> e.c)),
       |      (a, b) -> a + b), 4) AS score
       |  FROM sc GROUP BY q_id, id)""".stripMargin

  /** Corpus bigram tf with per-doc length attached: (id, dl, term, tf). */
  private def bigramTf(t: Tables): DataFrame =
    graft.Fanout(t.documents)
      .select(col("doc_id").as("id"),
        TextOps.wordsOf(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("id"), (size(col("ws")) - 1).cast("long").as("dl"),
        explode(expr(
          "transform(sequence(1, size(ws) - 1, 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
          .as("term"))
      .groupBy(col("id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))

  /** Seed query bags over a bigram tf frame: each seed doc's top BmQTerms
    * bigrams by (tf·idf desc, term) — the q142 deterministic total order
    * both engines replay. Shared by q152 (direct), q154 (stored index)
    * and q155 (build+append index), so all three probe with identical
    * query terms and q152's oracle applies verbatim.
    */
  private def bm25SeedQueries(tf: DataFrame,
      seedPred: Column = col("id") < BmSeeds): DataFrame = {
    val dfs = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = tf.agg(count_distinct(col("id")).as("n_docs")) // 1 row
    val seedW = tf.filter(seedPred)
      .join(dfs, "term").crossJoin(broadcast(nd))
      .select(col("id").as("q_id"), col("term"),
        (col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df"))).as("w"))
    seedW.groupBy(col("q_id"))
      .agg(slice(sort_array(collect_list(struct(
        (-col("w")).as("nw"), col("term").as("t")))), 1, BmQTerms).as("v"))
      .select(col("q_id"), explode(col("v.t")).as("term"))
  }

  private def q152(t: Tables): DataFrame = {
    val tf = bigramTf(t).persistScoped() // feeds seed weights AND retrieval
    Retrieval.bm25TopK(tf, bm25SeedQueries(tf), BmTopK, BmK1, BmB,
      excludeSelf = true)
      .select(col("q_id").as("seed_id"), col("doc_id"), col("score"), col("rnk"))
  }

  private val q152Sql =
    s"""WITH ${bigramBm25Sql(s" WHERE id < $BmSeeds")}
       |SELECT seed_id, doc_id, score, rnk FROM (
       |  SELECT q_id AS seed_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id) AS rnk
       |  FROM agg)
       |WHERE rnk <= $BmTopK""".stripMargin

  // ===== q154 stored-BM25-index probe ====================================
  // q152's production form and q145's lexical sibling: the corpus is
  // tokenized ONCE into a stored posting layout (term-bucket-partitioned
  // lists + one stats summary row) and the seed queries probe it — probe
  // cost is ∝ the query's term set via dynamic partition pruning of the
  // bucket directories, never a corpus re-tokenize. df derives from the
  // pruned postings themselves and stats from the summed summary rows,
  // so stored-and-probed must equal freshly-derived — q152's oracle
  // applies verbatim, which is exactly the index-integrity contract.

  private val BmBuckets = 64

  private def q154(t: Tables): DataFrame = {
    val dir = RunCache.dir(t.dir, s"bm25_index_$BmBuckets")(
      Retrieval.writeBm25IndexVersioned(bigramTf(t), _, BmBuckets))
    // round-16 optimization: seed queries derive AGAINST THE INDEX
    // (Retrieval.seedQueriesAgainstIndex — seed text tokenized batch-local,
    // df from the bucket-pruned postings, n_docs from the summed stats),
    // not from a full-corpus bigramTf re-tokenize. Same integer counts →
    // bit-identical weights and top-term tie-breaks, so q152's oracle
    // applies verbatim; the probe's corpus-sized scan and two corpus-wide
    // aggregates are gone (guide §1.2: don't compute what you throw away).
    Retrieval.bm25AgainstIndex(
      Retrieval.seedQueriesAgainstIndex(bm25Seeds(t), dir, BmQTerms),
      dir, BmTopK, BmK1, BmB, excludeSelf = true)
      .select(col("q_id").as("seed_id"), col("doc_id"), col("score"), col("rnk"))
  }

  /** The stored-index probes' seed documents: (id, text) rows of the
    * BmSeeds prefix — the only corpus rows the PROBE path reads.
    */
  private def bm25Seeds(t: Tables): DataFrame =
    t.documents.filter(col("doc_id") < BmSeeds)
      .select(col("doc_id").as("id"), col("text"))

  // ===== q155 incremental BM25-index ingestion ===========================
  // The ingestion companion of q154 (and q146's lexical sibling): the
  // versioned index is built on the INITIAL corpus slice and the
  // remaining docs are ingested as batch 1 — postings to their own bucket
  // partitions, the batch's stats row beside the build's. Unlike the IVF
  // case there is no frozen quantizer: df is counted from the postings
  // and stats rows sum, so build+ingest equals a from-scratch build over
  // the union EXACTLY and q152's oracle applies verbatim. Cost per ingest
  // ∝ batch.

  private def q155(t: Tables): DataFrame = {
    // build+ingest, all-or-nothing as one cached build
    val dir = RunCache.dir(t.dir, s"bm25_inc_$BmBuckets") { d =>
      val tf = bigramTf(t).persistScoped()
      Retrieval.writeBm25IndexVersioned(tf.filter(col("id") % 10 =!= 7), d, BmBuckets)
      Retrieval.ingestIntoBm25Index(tf.filter(col("id") % 10 === 7), d, 1L)
    }
    // index-derived seed queries (the q154 rationale; build+ingest indexes
    // the full corpus, so df/n_docs equal the from-scratch derivation's)
    Retrieval.bm25AgainstIndex(
      Retrieval.seedQueriesAgainstIndex(bm25Seeds(t), dir, BmQTerms),
      dir, BmTopK, BmK1, BmB, excludeSelf = true)
      .select(col("q_id").as("seed_id"), col("doc_id"), col("score"), col("rnk"))
  }

  // ===== q166 compacted BM25-index probe =================================
  // q155's maintenance companion ON the gate (and q167's lexical
  // sibling): versioned build on the initial slice, replay-safe ingest of
  // the rest, then Retrieval.compactBm25Index — postings consolidated to
  // one batch, the per-batch stats rows reduced to one summed row, the
  // atomic EPOCH swap — and the probe runs against the compacted index.
  // df is re-derived from the (consolidated) postings and stats sum to
  // the same totals, so q152's from-scratch oracle applies verbatim.

  private def q166(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    val dir = RunCache.dir(t.dir, s"bm25_compact_$BmBuckets") { d =>
      val tf = bigramTf(t).persistScoped()
      Retrieval.writeBm25IndexVersioned(tf.filter(col("id") % 10 =!= 7), d, BmBuckets)
      Retrieval.ingestIntoBm25Index(tf.filter(col("id") % 10 === 7), d, 1L)
      Retrieval.compactBm25Index(spark, d)
    }
    // index-derived seed queries (the q154 rationale; compaction preserves
    // postings and stats exactly, so df/n_docs equal the from-scratch ones)
    Retrieval.bm25AgainstIndex(
      Retrieval.seedQueriesAgainstIndex(bm25Seeds(t), dir, BmQTerms),
      dir, BmTopK, BmK1, BmB, excludeSelf = true)
      .select(col("q_id").as("seed_id"), col("doc_id"), col("score"), col("rnk"))
  }

  // ===== q156 BPE vocabulary induction ===================================
  // Learn a tokenizer from the corpus (TextOps.bpeMerges): one
  // distributed word-frequency pass, then `BpeRounds` merge rounds in
  // driver memory on the vocab-sized table — each round picks the most frequent adjacent
  // symbol pair (exact integer counts, lexicographic tie-break) and
  // applies it with the exact greedy left-to-right stack fold. The output
  // is the merge table a tokenizer ships. The oracle unrolls the rounds
  // as MATERIALIZED CTEs (the q149 discipline — DuckDB's default CTE
  // inlining re-evaluates the prefix per back-reference) and replays the
  // identical fold via list_reduce over singleton lists.

  private val BpeRounds = 8

  private def q156(t: Tables): DataFrame =
    TextOps.bpeMerges(graft.Fanout(t.documents), col("text"), BpeRounds,
      requireFull = true) // the oracle unrolls exactly BpeRounds CTE rounds

  /** The BPE trainer's oracle CTE chain (wc0..wcN, p1..pN), MATERIALIZED
    * per the q149 discipline. Carries the word `w` through every round so
    * the applier oracle (q157) can read the final per-word tokenization;
    * `applyLast` controls whether round N's merge is applied (the trainer
    * output doesn't need it, the tokenizer does).
    */
  private def bpeCteChain(rounds: Int, applyLast: Boolean,
      wc0Body: String = bpeWc0WordLevel): String = {
    def pickCte(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT a, b, cnt FROM (
         |    SELECT u.p.a AS a, u.p.b AS b, CAST(sum(n) AS BIGINT) AS cnt
         |    FROM wc${i - 1}, unnest(list_transform(range(1, len(syms)),
         |      j -> {'a': syms[j], 'b': syms[j + 1]})) AS u(p)
         |    WHERE len(syms) >= 2 GROUP BY 1, 2)
         |  ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
    def applyCte(i: Int): String =
      s"""wc$i AS MATERIALIZED (
         |  SELECT w, list_reduce(list_transform(syms, s -> [s]),
         |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = p$i.a
         |          AND x[1] = p$i.b
         |        THEN list_append(acc[1:len(acc) - 1], p$i.a || p$i.b)
         |        ELSE list_append(acc, x[1]) END) AS syms, n
         |  FROM wc${i - 1} CROSS JOIN p$i)""".stripMargin
    val roundsSql = (1 to rounds).map(i =>
      pickCte(i) + (if (i < rounds || applyLast) ",\n" + applyCte(i) else ""))
      .mkString(",\n")
    s"""wc0 AS MATERIALIZED (
       |$wc0Body),
       |$roundsSql""".stripMargin
  }

  /** q156/q157's word-level wc0: whitespace words → character symbols. */
  private val bpeWc0WordLevel =
    """  SELECT w, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms, n FROM (
      |    SELECT w, count(*) AS n FROM (
      |      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |        x -> len(x) > 0)) AS w FROM documents) GROUP BY w)""".stripMargin

  /** q180's byte-level wc0: regex pre-tokens → hex-pair UTF-8 byte
    * symbols (DuckDB hex(varchar) = hex of the UTF-8 bytes, uppercase —
    * Spark's hex-of-string semantics exactly). Parameterized by the
    * source relation so q188's composed pipeline can train the tokenizer
    * on its surviving-docs CTE instead of the raw table.
    */
  private def bpeWc0ByteLevelFrom(rel: String): String =
    s"""  SELECT w, list_transform(generate_series(1, len(hex(w)) // 2),
       |      i -> hex(w)[2*i - 1:2*i]) AS syms, n FROM (
       |    SELECT w, count(*) AS n FROM (
       |      SELECT unnest(regexp_extract_all(lower(text), '${TextOps.byteLevelTokenPattern}'))
       |        AS w FROM $rel) GROUP BY w)""".stripMargin

  private def bpeWc0ByteLevel = bpeWc0ByteLevelFrom("documents")

  private val q156Sql = {
    val sel = (1 to BpeRounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM p$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = false)}
       |$sel""".stripMargin
  }

  // ===== q159 recursive-CTE reachability =================================
  // Bounded-hop reachability from an audit seed set over the MinHash
  // near-dup graph, expressed as ANSI `WITH RECURSIVE` (new SQL surface
  // in Spark 4) — "which docs are within 3 near-dup hops of these flagged
  // seeds, and how close" is the triage query a contamination audit runs.
  // The recursion is hop-bounded with UNION ALL + a depth counter (finite
  // by construction; min(hops) collapses revisits), all-integer — both
  // engines run the IDENTICAL recursive text over the same q31-derived
  // edge set. Scale note: bounded-hop triage is exactly what recursion is
  // for; UNBOUNDED closure on the full graph stays with q62's
  // alternating-star CC operator (log-diameter rounds, no path
  // enumeration).

  private val ReachHops = 3
  private val ReachSeeds = 5

  /** The shared recursive body — identical text in Spark and DuckDB;
    * only the edge/seed relation names differ.
    *
    * Scale shape (the round-8 fix): the recursive member expands the
    * frontier through a UNION ALL of the edge set's two directed
    * projections joined on ONE equality — hash-joinable and
    * pushdown-friendly, where the previous `ON r.id = e.id_a OR r.id =
    * e.id_b` was a non-equi condition Catalyst could only plan as a
    * nested-loop of the frontier against the FULL edge set per level.
    * And the member SELECTs DISTINCT: within an iteration every row
    * carries the same hops value, so the DISTINCT dedups the frontier
    * per level — per-level rows are bounded by |V| BY CONSTRUCTION,
    * where the old form enumerated PATHS (~m^hops duplicate rows inside
    * an m-clique, the mass-dup corpus exactly this triage runs on)
    * and only collapsed them in the final min(hops). Result-identical:
    * BFS level sets are unchanged, min(hops) sees the same minima.
    */
  private[graft] def reachSql(seeds: String, edges: String,
      hops: Int = ReachHops): String =
    s"""reach(id, hops) AS (
       |  SELECT doc_id AS id, 0 AS hops FROM $seeds
       |  UNION ALL
       |  SELECT DISTINCT n.id, r.hops + 1 AS hops
       |  FROM reach r JOIN (
       |    SELECT id_a AS src, id_b AS id FROM $edges
       |    UNION ALL
       |    SELECT id_b AS src, id_a AS id FROM $edges) n
       |  ON r.id = n.src
       |  WHERE r.hops < $hops)
       |SELECT id AS doc_id, CAST(min(hops) AS BIGINT) AS hops
       |FROM reach GROUP BY id""".stripMargin

  private def q159(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    // per-call view names: a concurrently-running twin of this query must
    // not swap the views out from under this call's lazy plan
    val tag = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val edges = Dedup.minhashLshPairs(
        graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text"))),
        3, MinHashes, Bands, JaccardT)
      .select(col("id_a"), col("id_b"))
      .persistScoped() // feeds seed derivation AND every recursion step
    edges.createOrReplaceTempView(s"edges_$tag")
    // seeds = the lowest doc ids that actually participate in the
    // near-dup graph, so the recursion exercises real multi-hop expansion
    edges.select(col("id_a").as("doc_id")).distinct()
      .orderBy(col("doc_id")).limit(ReachSeeds)
      .createOrReplaceTempView(s"seeds_$tag")
    spark.sql(
      s"WITH RECURSIVE ${reachSql(s"seeds_$tag", s"edges_$tag")}")
  }

  private val q159Sql =
    s"""WITH RECURSIVE edges AS (SELECT id_a, id_b FROM ($q31Sql)),
       |seeds AS (SELECT DISTINCT id_a AS doc_id FROM edges
       |          ORDER BY doc_id LIMIT $ReachSeeds),
       |${reachSql("seeds", "edges")}""".stripMargin

  // ===== q158 hybrid retrieval (BM25 + ANN, reciprocal rank fusion) ======
  // Production retrieval is rarely one modality: the lexical list (exact
  // wording, q152's BM25) and the vector list (meaning, q35's exact
  // cosine) each miss what the other catches, and reciprocal rank fusion
  // — score = Σ 1/(60 + rank) over the lists a doc appears in — is the
  // standard parameter-free way to combine them. Both inputs are the
  // gate-proven components run verbatim (same seeds: doc_id < 4 ≡ vec_id
  // < 4, the tables share the id space); the fusion is a full-outer join
  // of two k-row-per-seed lists (tiny) + one bounded top-k. RRF scores
  // are rationals of exact integer ranks — no float-determinism surface
  // beyond the final round.

  private val RrfK = 60

  private def q158(t: Tables): DataFrame = {
    val tf = bigramTf(t).persistScoped()
    val lex = Retrieval.bm25TopK(tf, bm25SeedQueries(tf), BmTopK, BmK1, BmB,
      excludeSelf = true)
      .select(col("q_id"), col("doc_id"), col("rnk"))
    val e = graft.Fanout(t.embeddings)
    val queries = e.filter(col("vec_id") < BmSeeds)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val vec = Similarity.bruteForceTopK(queries, e, BmTopK)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk"))
    Retrieval.rrfFuse2(lex, vec, BmTopK, RrfK)
      .select(col("q_id").as("seed_id"), col("doc_id"), col("score"), col("rnk"))
  }

  private val q158Sql =
    s"""WITH lex AS (SELECT seed_id, doc_id, rnk FROM ($q152Sql)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |vq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $BmSeeds),
       |vs AS (SELECT q_id, vec_id, round(${cosSql("qv", "v")}, 4) AS score
       |       FROM vq CROSS JOIN e WHERE vec_id <> q_id),
       |vr AS (SELECT q_id, vec_id, rnk FROM (
       |    SELECT q_id, vec_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY score DESC, vec_id) AS BIGINT) AS rnk
       |    FROM vs) WHERE rnk <= $BmTopK),
       |fused AS (
       |  SELECT COALESCE(l.seed_id, v.q_id) AS seed_id,
       |    COALESCE(l.doc_id, v.vec_id) AS doc_id,
       |    round(COALESCE(CAST(1 AS DOUBLE) / ($RrfK + l.rnk), 0)
       |      + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + v.rnk), 0), 4) AS score
       |  FROM lex l FULL OUTER JOIN vr v
       |    ON l.seed_id = v.q_id AND l.doc_id = v.vec_id)
       |SELECT seed_id, doc_id, score, rnk FROM (
       |  SELECT seed_id, doc_id, score,
       |    CAST(row_number() OVER (PARTITION BY seed_id
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM fused)
       |WHERE rnk <= $BmTopK""".stripMargin

  // ===== q157 BPE tokenization (apply the learned vocab) =================
  // The data-prep-time companion of q156: per-document token counts under
  // the learned merge table — what sequence packing, token budgets and
  // mixture weights actually consume. The Spark side tokenizes the VOCAB
  // (one merge-chain pass per distinct word, a hash-aggregated set) and
  // joins the per-word counts back onto the exploded corpus; the oracle
  // extends q156's CTE chain through the final merge application and
  // reads each word's tokenization from the last wc table.

  private def q157(t: Tables): DataFrame = {
    val merges = TextOps.bpeMerges(graft.Fanout(t.documents), col("text"),
      BpeRounds, requireFull = true) // oracle unrolls exactly BpeRounds
      .orderBy(col("merge_round"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    TextOps.tokenCounts(docPretokens(t, byteLevel = false),
      TextOps.Encoder.Bpe(merges, byteLevel = false))
      .select(col("id").as("doc_id"), col("n_tokens"))
  }

  private val q157Sql =
    s"""WITH ${bpeCteChain(BpeRounds, applyLast = true)},
       |tok AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM wc$BpeRounds),
       |words AS (SELECT doc_id AS id, unnest(list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS w
       |  FROM documents)
       |SELECT id AS doc_id, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM words JOIN tok USING (w) GROUP BY id""".stripMargin

  // ===== q153 sorted-neighborhood blocking dedup =========================
  // The merge/purge blocking family beside the LSH one
  // (Dedup.sortedNeighborhoodPairs): two sorts with complementary keys
  // (normalized text; word-order-insensitive sorted words), each pairing a
  // doc with its window−1 successors, union, exact Jaccard verify. The
  // candidate count is exactly N·(window−1) per pass BY CONSTRUCTION —
  // the blocking to reach for on adversarially self-similar corpora where
  // LSH band keys go hot. The Spark side ranks via the distributed scan
  // (no global window); the oracle ranks with row_number() — identical
  // ranks, engine-neutral binary string order, (key, id) tie-break.

  private val SnmWindow = 8
  private val SnmT = 0.7

  private def q153(t: Tables): DataFrame =
    Dedup.sortedNeighborhoodPairs(
      graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text"))),
      3, SnmWindow, SnmT, scanParts = 8)

  private val q153Sql =
    s"""WITH $wordsCte,
       |d AS MATERIALIZED (SELECT id, ss, len(ss) AS n_sh FROM (
       |    SELECT id, ${shinglesSql(3)} AS ss FROM w) WHERE len(ss) > 0),
       |r1 AS (SELECT doc_id AS id,
       |    row_number() OVER (ORDER BY lower(text), doc_id) - 1 AS rnk
       |  FROM documents),
       |p1 AS (SELECT x.id AS ia, y.id AS ib FROM r1 x JOIN r1 y
       |       ON y.rnk - x.rnk BETWEEN 1 AND ${SnmWindow - 1}),
       |k2 AS (SELECT doc_id AS id, array_to_string(list_sort(list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)), ' ')
       |    AS bkey FROM documents),
       |r2 AS (SELECT id, row_number() OVER (ORDER BY bkey, id) - 1 AS rnk
       |       FROM k2),
       |p2 AS (SELECT x.id AS ia, y.id AS ib FROM r2 x JOIN r2 y
       |       ON y.rnk - x.rnk BETWEEN 1 AND ${SnmWindow - 1}),
       |cand AS (SELECT DISTINCT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b
       |         FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
       |v AS (SELECT c.id_a, c.id_b, len(list_intersect(a.ss, b.ss)) AS c,
       |        a.n_sh AS na, b.n_sh AS nb
       |      FROM cand c JOIN d a ON c.id_a = a.id JOIN d b ON c.id_b = b.id)
       |SELECT id_a, id_b, round(CAST(c AS DOUBLE)/(na+nb-c), 4) AS jaccard
       |FROM v WHERE round(CAST(c AS DOUBLE)/(na+nb-c), 4) >= $SnmT""".stripMargin

  // ===== q105 scale-capped semantic dedup ================================
  // The production-scale SemDeDup path (Similarity.semanticDedupCapped):
  // exact collapse → corpus-proportional cells → semantic split of over-cap
  // cells → id-hash salt for the residue — the variant whose in-cell pair
  // count stays bounded no matter the corpus size or skew (q76 keeps the
  // published fixed-cell form). The corpus is the embeddings table doubled
  // with offset ids, so the exact-collapse stage does real work on the
  // gate (every vector has two copies; only the min-id copy survives into
  // a cell). The oracle replays all four stages — the assignment is
  // engine-neutral (min-id reps, smallest-id centroids, round(cos,4)
  // scoring, shared md5 hash family for the salt).

  private val CapTarget = 30

  /** The embeddings table doubled with offset ids — the q105/q164 fixture
    * whose exact-collapse stage does real work on the gate (every vector
    * has two copies; only the min-id copy survives into a cell).
    */
  private def doubledEmbeddings(t: Tables): DataFrame = {
    val e = graft.Fanout(t.embeddings).select(col("vec_id"), col("embedding"))
    // offset derived from the data (one scalar action), not hard-coded:
    // a fixed +10000 would silently collide with real ids at larger SFs,
    // and the mirrored oracle would mask the degradation
    val off = e.agg(max(col("vec_id"))).head().getLong(0) + 1L
    e.unionByName(
      e.select((col("vec_id") + off).as("vec_id"), col("embedding")))
  }

  private def q105(t: Tables): DataFrame =
    Similarity.semanticDedupCapped(doubledEmbeddings(t), CapTarget, CosT)

  private def cappedSqlFor(nAssign: Int) = {
    val cap = 4 * CapTarget
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |off AS (SELECT max(vec_id) + 1 AS o FROM e0),
       |e AS (SELECT vec_id, v FROM e0
       |      UNION ALL SELECT vec_id + (SELECT o FROM off), v FROM e0),
       |reps AS (SELECT min(vec_id) AS vec_id, v FROM e GROUP BY v),
       |p AS (SELECT CAST(ceil(count(*) / $CapTarget.0) AS BIGINT) AS ncells FROM reps),
       |cents AS (SELECT vec_id AS cent_id, v AS cvec FROM (
       |  SELECT *, row_number() OVER (ORDER BY vec_id) AS rn FROM reps), p WHERE rn <= p.ncells),
       |assigned AS (SELECT vec_id, v, CAST(cell AS VARCHAR) AS cell FROM (
       |  SELECT s.vec_id, s.v, c.cent_id AS cell,
       |    row_number() OVER (PARTITION BY s.vec_id ORDER BY round(${cosSql("s.v", "c.cvec")}, 4) DESC, c.cent_id) AS crn
       |  FROM reps s CROSS JOIN cents c) WHERE crn <= $nAssign),
       |sizes AS (SELECT cell, count(*) AS sz FROM assigned GROUP BY cell),
       |over_cells AS (SELECT cell FROM sizes WHERE sz > $cap),
       |ok AS (SELECT a.* FROM assigned a WHERE cell NOT IN (SELECT cell FROM over_cells)),
       |over_m AS (SELECT a.* FROM assigned a WHERE cell IN (SELECT cell FROM over_cells)),
       |sub_cents AS (SELECT cell, vec_id AS cent_id, v AS cvec FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn FROM over_m) WHERE rn <= 16),
       |resplit AS (SELECT vec_id, v, cell || '_' || CAST(cent_id AS VARCHAR) AS cell FROM (
       |  SELECT m.vec_id, m.v, m.cell, c.cent_id,
       |    row_number() OVER (PARTITION BY m.cell, m.vec_id ORDER BY round(${cosSql("m.v", "c.cvec")}, 4) DESC, c.cent_id) AS crn
       |  FROM over_m m JOIN sub_cents c ON m.cell = c.cell) WHERE crn <= 1),
       |after_split AS (SELECT * FROM ok UNION ALL SELECT * FROM resplit),
       |sizes2 AS (SELECT cell, count(*) AS sz FROM after_split GROUP BY cell),
       |cells AS MATERIALIZED (
       |  SELECT a.vec_id, a.v,
       |    CASE WHEN s.sz > $cap THEN a.cell || '#' ||
       |      CAST(${Dedup.SharedHash.hash28Sql("CAST(a.vec_id AS VARCHAR)")} % CAST(ceil(s.sz / $CapTarget.0) AS BIGINT) AS VARCHAR)
       |    ELSE a.cell END AS cell
       |  FROM after_split a JOIN sizes2 s ON a.cell = s.cell),
       |drops AS (SELECT DISTINCT y.vec_id AS drop_id
       |          FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |          WHERE round(${cosSql("x.v", "y.v")}, 4) >= $CosT)
       |SELECT vec_id FROM e
       |WHERE vec_id IN (SELECT vec_id FROM cells)
       |  AND vec_id NOT IN (SELECT drop_id FROM drops)""".stripMargin
  }

  private val q105Sql = cappedSqlFor(1)

  // ===== q164 capped × multi-cell semantic dedup =========================
  // The two production SemDeDup knobs COMPOSED: q105's bounded-cell
  // machinery (exact collapse → proportional cells → split → salt — the
  // Σ|cell|² pair bound that survives any corpus size or skew) with
  // q151's top-2 cross-cell recall knob threaded through the step-2
  // assignment — boundary-straddling near-dup pairs are witnessed in a
  // shared cell while every cell stays under the cap (candidate rows grow
  // ≤ 2×, the pair bound by the same constant). The oracle is q105's with
  // the assignment rank widened to 2 — same rounded scoring, same cent_id
  // tiebreak, same split/salt stages over the multi-assigned population.

  private def q164(t: Tables): DataFrame =
    Similarity.semanticDedupCapped(doubledEmbeddings(t), CapTarget, CosT,
      nAssign = 2)

  private val q164Sql = cappedSqlFor(2)

  // ===== q106 vocabulary heavy hitters ===================================
  // Exact global top-K tokens by frequency — the corpus-vocabulary report
  // (tokenizer coverage, stopword policy, BPE merge seeding all start
  // here). Plan shape at 100 TB: partial+final hash aggregate on token,
  // then TakeOrderedAndProject — every mapper ships at most K rows to the
  // driver-side merge; there is NO global sort and no single-task window.
  // The approximate single-pass companion (Misra-Gries summary, no
  // second aggregate) is `graft.functions.approx_top_items`, spec-pinned
  // against this exact form.

  private val HhK = 20

  private def q106(t: Tables): DataFrame =
    graft.Fanout(t.documents)
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(HhK)

  private val q106Sql =
    s"""SELECT token, cnt FROM (
       |  SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rn
       |  FROM (SELECT token, count(*) AS cnt FROM (
       |          SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
       |          FROM documents)
       |        WHERE len(token) > 0 GROUP BY token))
       |WHERE rn <= $HhK""".stripMargin

  // ===== q121 approx heavy hitters — the MG guarantee on the gate ========
  // The Misra-Gries sketch (graft.functions.approx_top_items) is ONE pass
  // with O(k) state at every aggregation stage — the 100 TB path when the
  // full vocabulary aggregate of q106 is too expensive. Its raw output is
  // merge-order-dependent (estimates vary run to run), so it can't be
  // hashed directly; what IS deterministic and engine-neutral is its
  // GUARANTEE: over n rows with k slots, every token with true frequency
  // f > n/(k+1) must be present with estimate ĉ ∈ [f − n/(k+1), f]. This
  // query runs the sketch, joins it against the exact counts, and emits
  // one row per guaranteed-heavy token with the bound check; the oracle
  // is pure exact SQL asserting `TRUE` — the hashes match iff the sketch
  // honored the MG bounds on this corpus. (Same gate idea as q45's
  // rows-only sketches, but strictly stronger: a violated bound is a
  // hash MISMATCH, not an unchecked row count.)

  private val MgK = 64

  private def q121(t: Tables): DataFrame = {
    // token stream feeds both the sketch and the exact side
    val toks = graft.Fanout(t.documents)
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .persistScoped()
    val sketch = toks
      .agg(graft.functions.approx_top_items(col("token"), MgK).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("token"), col("e.est").as("est"))
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("f"))
    val tot = toks.agg(count(lit(1)).as("n")) // 1 row, broadcast
    // EXACT rational arithmetic for both the heaviness cut and the bound:
    // f > n/(k+1)  ⇔  f·(k+1) > n, and  est ≥ f − n/(k+1)  ⇔
    // est·(k+1) ≥ f·(k+1) − n — all over longs (f, est, n ≤ n; ·65 is far
    // from 2⁶³). A double n/65.0 can round such that a token sitting
    // exactly ON the bound flips in_bounds and fails the gate flakily.
    exact.crossJoin(broadcast(tot))
      .filter(col("f") * lit((MgK + 1).toLong) > col("n"))
      .join(sketch, Seq("token"), "left")
      .select(col("token"), col("f"),
        (col("est").isNotNull && col("est") <= col("f") &&
          col("est") * lit((MgK + 1).toLong) >=
            col("f") * lit((MgK + 1).toLong) - col("n"))
          .as("in_bounds"))
  }

  private val q121Sql =
    s"""WITH toks AS (SELECT token FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
       |    FROM documents)
       |  WHERE len(token) > 0),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
       |exact AS (SELECT token, CAST(count(*) AS BIGINT) AS f
       |          FROM toks GROUP BY token)
       |SELECT token, f, TRUE AS in_bounds
       |FROM exact, n
       |WHERE f * ${MgK + 1} > n""".stripMargin

  // ===== q107 weighted document sampling =================================
  // Deterministic weighted Bernoulli sampling: doc kept with probability
  // ∝ min(n_chars, 500)/1000 via a salted content-stable hash — the
  // quality-weighted downsampling step of a data mixture. Content-stable
  // (same doc → same decision on every run and every engine), zero
  // shuffle, pure codegen'd narrow filter; at 100 TB this is a scan.

  private def q107(t: Tables): DataFrame =
    graft.Fanout(t.documents)
      .filter(Dedup.SharedHash.hash28(concat(lit("ws:"), col("doc_id").cast("string"))) % 1000
        < least(col("n_chars"), lit(500L)))
      .select(col("doc_id"), col("n_chars"))

  private val q107Sql =
    s"""SELECT doc_id, n_chars FROM documents
       |WHERE ${Dedup.SharedHash.hash28Sql("'ws:' || CAST(doc_id AS VARCHAR)")} % 1000
       |      < least(n_chars, 500)""".stripMargin

  // ===== q45 approximate sketches (HLL / quantile sketch) ================
  // Gated via the sketches' GUARANTEES, the q121/q147 pattern: raw sketch
  // outputs differ across engines (and with merge order) by design, so the
  // values themselves can't be hashed against DuckDB — but the published
  // error bounds CAN be checked in exact integer arithmetic against exact
  // counts, and the oracle is pure exact SQL asserting TRUE per group. A
  // violated bound is a hash MISMATCH, so the driver fully gates the row.
  //
  //  - HLL (approx_count_distinct, default rsd 0.05): the estimate's
  //    relative standard error is rsd; we gate |approx − exact| ≤ 25% of
  //    exact (5·rsd — far outside any plausible HLL++ deviation, and on a
  //    fixed input the estimate is deterministic, so the check is stable).
  //    Over longs: |a − e| · 4 ≤ e.
  //  - GK quantile (percentile_approx, accuracy A=1000): rank error
  //    ≤ n/A. Same exact-rank band as q147 (±one rank unit absorbs the
  //    floor-vs-ceil target convention), per group, over longs ×(100·A).
  //
  // The exact twins stay q20 (count distinct) and q40 (percentiles); at
  // 100 TB the sketches are the right tool (one pass, O(A·log n) /
  // O(2^p) state) and this row proves they honor their bounds.
  private val SkAcc = 1000 // percentile_approx rank error ≤ n/SkAcc
  private val SkPc = 50    // median, in exact hundredths

  private def q45(t: Tables): DataFrame = {
    val rows = t.lineitem
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_extendedprice").cast("double").as("v"))
      .filter(col("v").isNotNull)
      .persistScoped() // feeds the sketch pass AND the exact-rank pass
    val sk = rows.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey")).as("a"),
        countDistinct(col("l_orderkey")).as("e"),
        percentile_approx(col("v"), lit(SkPc / 100.0), lit(SkAcc)).as("av"))
    val ranks = rows
      .join(broadcast(sk), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(first(col("a")).as("a"), first(col("e")).as("e"),
        first(col("av")).as("av"),
        count(lit(1)).as("n"),
        sum(when(col("v") < col("av"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("v") <= col("av"), 1L).otherwise(0L)).as("le"))
    // av attains some rank r ∈ [lt+1, le]; the GK guarantee needs r within
    // [SkPc·n/100 − n/A, SkPc·n/100 + n/A] — over longs, ×(100·A):
    val d = lit(100L * SkAcc)
    ranks.select(
      col("l_returnflag"),
      (abs(col("a") - col("e")) * 4 <= col("e")).as("hll_in_bounds"),
      (col("le") * d >= lit(SkPc.toLong) * lit(SkAcc.toLong) * col("n") - lit(100L) * col("n") - d &&
        (col("lt") + 1) * d <= lit(SkPc.toLong) * lit(SkAcc.toLong) * col("n") + lit(100L) * col("n") + d)
        .as("p50_in_bounds"))
  }

  private val q45Sql =
    """SELECT l_returnflag, TRUE AS hll_in_bounds, TRUE AS p50_in_bounds
      |FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1""".stripMargin

  // ===== q37 multimodal decode/resize plumbing ===========================

  private def q37(t: Tables): DataFrame = {
    val media = Multimodal.withMediaColumn(graft.Fanout(t.documents), "text")
    val decoded = Multimodal.decodeFeatures(media, "media")
    Multimodal.resize(decoded, 256)
      .select(col("doc_id"), col("media_checksum"), col("n_bytes"),
        col("width"), col("height"), col("out_w"), col("out_h"))
  }

  private val q37Sql =
    """WITH m AS (SELECT doc_id, md5(text) AS media_checksum,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
      |d AS (SELECT *,
      |    CAST(16 + CAST('0x' || substr(media_checksum, 1, 4) AS BIGINT) % 1024 AS INTEGER) AS width,
      |    CAST(16 + CAST('0x' || substr(media_checksum, 5, 4) AS BIGINT) % 1024 AS INTEGER) AS height
      |  FROM m),
      |r AS (SELECT *, least(greatest(width, height), 256) AS sc FROM d)
      |SELECT doc_id, media_checksum, n_bytes, width, height,
      |  CAST(floor(width*sc/greatest(width, height)) AS INTEGER) AS out_w,
      |  CAST(floor(height*sc/greatest(width, height)) AS INTEGER) AS out_h
      |FROM r""".stripMargin

  // ===== q38 sessionization (session_window batch form) ==================

  private val SessionGap = "30 minutes"

  private def q38(t: Tables): DataFrame =
    t.events
      .groupBy(session_window(col("ts"), SessionGap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  private val q38Sql =
    """WITH x AS (SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |g AS (SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events
      |FROM g GROUP BY user_id, sid""".stripMargin

  // ===== q54 winnowing fingerprints (MOSS scheme) ========================

  private val WinnowN = 3
  private val WinnowW = 4

  private def q54(t: Tables): DataFrame =
    graft.Fanout(t.documents.select(col("doc_id"), col("text")))
      .withColumn("sel", graft.functions.winnow(
        split(lower(col("text")), """\s+"""), WinnowN, WinnowW))
      .select(col("doc_id"), explode(col("sel")).as("ph"))
      .select(col("doc_id"),
        split(col("ph"), ":").getItem(0).cast("long").as("pos"),
        split(col("ph"), ":").getItem(1).cast("long").as("fp"))

  private val q54Sql =
    s"""WITH w1 AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS words FROM documents),
       |h AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(words)-${WinnowN - 1}, 0)),
       |        i -> ${Dedup.SharedHash.hash28Sql(s"array_to_string(words[i:i+${WinnowN - 1}], ' ')")}) AS hs FROM w1),
       |sel AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(hs)-${WinnowW - 1}),
       |    i -> {'pos': i + $WinnowW - list_position(list_reverse(list_slice(hs, i, i+${WinnowW - 1})), list_min(list_slice(hs, i, i+${WinnowW - 1}))),
       |          'fp': list_min(list_slice(hs, i, i+${WinnowW - 1}))})) AS u
       |  FROM h)
       |SELECT DISTINCT doc_id, CAST(u.pos AS BIGINT) AS pos, CAST(u.fp AS BIGINT) AS fp FROM sel""".stripMargin

  // ===== q55 PII scrub (safety pre-filter) ===============================

  private def q55(t: Tables): DataFrame =
    TextOps.withPiiScrub(t.documents, col("text"))
      .select(col("doc_id"), col("n_emails"), col("n_urls"), col("n_phones"),
        length(col("scrubbed")).cast("long").as("scrubbed_len"))

  private val q55Sql =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${TextOps.emailPattern}')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '${TextOps.urlPattern}')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '${TextOps.phonePattern}')) AS BIGINT) AS n_phones,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |    '${TextOps.emailPattern}', '<EMAIL>', 'g'),
       |    '${TextOps.urlPattern}', '<URL>', 'g'),
       |    '${TextOps.phonePattern}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len
       |FROM documents""".stripMargin

  // ===== q56 repetition quality signals (C4/Gopher-style) ================
  // max 2-gram frequency ratio + distinct-word ratio: high repetition =
  // low-quality machine-generated text, the classic pre-train filter.

  private def q56(t: Tables): DataFrame = {
    // One zero-shuffle narrow pass: the repetition_signals kernel counts
    // all positional 2-grams per doc in a single map (NativeExprs), where
    // the previous form exploded ~n_tokens rows per doc through two
    // shuffled aggregations. Null signal = doc shorter than 2 words,
    // which the explode-based form (and the oracle) drops.
    graft.Fanout(t.documents.select(col("doc_id"), col("text")))
      .withColumn("words", split(lower(col("text")), """\s+"""))
      .select(col("doc_id"), size(col("words")).as("n_words"),
        graft.functions.repetition_signals(col("words"), 2).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("max_2gram"),
        element_at(col("sig"), 2).as("n_distinct_2grams"),
        round(element_at(col("sig"), 1).cast("double") / (col("n_words") - 1), 4)
          .as("max_2gram_ratio"))
  }

  private val q56Sql =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS words FROM documents),
      |g AS (SELECT doc_id, len(words) AS n_words,
      |        unnest(list_transform(generate_series(1, len(words)-1),
      |          i -> array_to_string(words[i:i+1], ' '))) AS g
      |      FROM w),
      |c AS (SELECT doc_id, n_words, g, COUNT(*) AS c FROM g GROUP BY 1, 2, 3)
      |SELECT doc_id, max(c) AS max_2gram, COUNT(*) AS n_distinct_2grams,
      |  round(CAST(max(c) AS DOUBLE) / (n_words - 1), 4) AS max_2gram_ratio
      |FROM c GROUP BY doc_id, n_words""".stripMargin

  // ===== q70 per-domain document caps ====================================
  // "At most k pages per host": the web-corpus balance step. Spark side is
  // the bounded TopKByScore aggregate (O(k) state per domain, partial+
  // final, no window sort of a hot domain); the oracle is the equivalent
  // rank window — identical rows by TopKByScore's (score desc, id asc)
  // order contract.

  private val DomainCapK = 10

  private def q70(t: Tables): DataFrame =
    graft.operators.Curation.domainCap(
      t.documents, col("source"), col("doc_id"), col("n_chars").cast("double"),
      DomainCapK)
      .select(col("domain").as("source"), col("rank").as("rnk"),
        col("id").as("doc_id"), col("score").cast("long").as("n_chars"))

  private val q70Sql =
    s"""SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id, n_chars FROM (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rnk
       |  FROM documents) WHERE rnk <= $DomainCapK""".stripMargin

  // ===== q71 benchmark decontamination ===================================
  // Flag training docs sharing any word 4-gram with the benchmark set
  // (doc_id ≡ 0 mod 50 stands in for the eval suite). The benchmark
  // shingle set is broadcast — the corpus side never shuffles raw text.
  // (Real decontamination uses 8-13-grams; 4 fits this corpus's short
  // synthetic docs while keeping the hit set non-trivial.)

  private val DecontamN = 4

  private def q71(t: Tables): DataFrame = {
    val d = t.documents.select(col("doc_id").as("id"), col("text"))
    graft.operators.Curation.decontaminate(
      d.filter(col("id") % 50 =!= 0), d.filter(col("id") % 50 === 0), DecontamN)
      .select(col("id").as("doc_id"), col("n_hits"))
  }

  private val q71Sql =
    s"""WITH $wordsCte,
       |d AS (SELECT id, unnest(${shinglesSql(DecontamN)}) AS s FROM w),
       |bench AS (SELECT DISTINCT s FROM d WHERE id % 50 = 0),
       |train AS (SELECT id, s FROM d WHERE id % 50 <> 0)
       |SELECT id AS doc_id, COUNT(*) AS n_hits
       |FROM train JOIN bench USING (s) GROUP BY id""".stripMargin

  // ===== q72 token-budget packing ========================================
  // Concat-and-chunk sharding: per source, documents in id order fill
  // consecutive ~1000-token bins (bin = exclusive-prefix-sum DIV budget).
  // Benched in the DISTRIBUTED-scan form (range partition → local prefix
  // → tiny offsets table): parallelism is the partition count, not
  // |sources| — one giant source cannot funnel through a single window
  // task. Bin ids are partitioning-invariant (identity with the one-window
  // form pinned by CurationSpec), so the oracle is the plain window SQL.

  private val PackBudget = 1000L

  private def q72(t: Tables): DataFrame =
    graft.operators.Curation.packBinsScalable(
      t.documents.select(col("source"), col("doc_id"),
        graft.operators.TextOps.wsTokenCount(col("text")).cast("long").as("n_tok")),
      col("source"), col("doc_id"), col("n_tok"), PackBudget,
      partitions = 32)
      .select(col("domain").as("source"), col("bin"), col("n_docs"),
        col("bin_tokens"))

  private val q72Sql =
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok FROM documents),
       |c AS (SELECT source, n_tok,
       |    COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM d)
       |SELECT source, CAST(floor(cum / $PackBudget.0) AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY 1, 2""".stripMargin

  // ===== q73 weighted mixture sampling ===================================
  // Corpus mixing: keep 100% of src0, 50% of src1, 25% of src2, 10% of
  // everything else — decided by the content-stable md5 bucket, so the
  // oracle reproduces the exact sample.

  private val MixRates = Seq("src0" -> 100, "src1" -> 50, "src2" -> 25)
  private val MixDefault = 10

  private def q73(t: Tables): DataFrame =
    graft.operators.Sampling.mixtureSample(
      t.documents.select(col("doc_id"), col("source")),
      col("doc_id"), col("source"), MixRates, MixDefault)

  private val q73Sql =
    s"""SELECT doc_id, source FROM documents
       |WHERE ${graft.operators.Sampling.mixtureSampleSql("doc_id", "source", MixRates, MixDefault)}""".stripMargin

  // ===== q75 stratified deterministic sample =============================
  // Exactly-N-per-stratum sampling (balanced eval sets, per-language
  // calibration subsets): rank docs within each stratum by the content-
  // stable md5 hash — uniform but reproducible — and keep the top N.
  // Implementation IS domainCap with the hash as the score, so it
  // inherits the O(k)-state aggregate plan (no hot-stratum window sort).

  private val StratumN = 20

  private def q75(t: Tables): DataFrame =
    graft.operators.Curation.domainCap(
      t.documents, col("lang"), col("doc_id"),
      Dedup.SharedHash.hash28(col("doc_id").cast("string")).cast("double"),
      StratumN)
      .select(col("domain").as("lang"), col("rank").as("rnk"),
        col("id").as("doc_id"))

  private val q75Sql =
    s"""SELECT lang, CAST(rnk AS INTEGER) AS rnk, doc_id FROM (
       |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
       |    ORDER BY ${Dedup.SharedHash.hash28Sql("CAST(doc_id AS VARCHAR)")} DESC, doc_id) AS rnk
       |  FROM documents) WHERE rnk <= $StratumN""".stripMargin

  // ===== q80 overlapping document chunking ===============================
  // Sliding-window chunking before tokenization: every doc becomes
  // ⌈n/stride⌉ chunks of ≤ ChunkLen tokens starting every ChunkStride —
  // the long-context sharding step. Pure narrow map + explode (zero
  // shuffle); chunks identified by start offset and content md5 so the
  // output stays compact.

  private val ChunkLen = 50
  private val ChunkStride = 25

  private def q80(t: Tables): DataFrame =
    t.documents
      .withColumn("words", split(lower(col("text")), """\s+"""))
      .withColumn("n", size(col("words")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("words"),
        explode(expr(s"sequence(0, n - 1, $ChunkStride)")).as("chunk_start"))
      .withColumn("chunk",
        slice(col("words"), col("chunk_start") + 1, lit(ChunkLen)))
      .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
        size(col("chunk")).cast("long").as("chunk_len"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))

  private val q80Sql =
    s"""WITH $wordsCte,
       |s AS (SELECT id, words, unnest(generate_series(0, len(words) - 1, $ChunkStride)) AS st
       |      FROM w WHERE len(words) > 0)
       |SELECT id AS doc_id, CAST(st AS BIGINT) AS chunk_start,
       |  CAST(len(words[st+1:st+$ChunkLen]) AS BIGINT) AS chunk_len,
       |  md5(array_to_string(words[st+1:st+$ChunkLen], ' ')) AS chunk_md5
       |FROM s""".stripMargin

  // ===== q81 segment-level (paragraph) dedup =============================
  // C4/CCNet-shaped cross-document segment dedup: every SegDedupLen-token
  // segment survives only at its globally-first (id, pos); docs are
  // reassembled from surviving segments. One hash aggregate elects owners
  // (partial min — hot boilerplate segments cost O(1) state), one join
  // back, one reassembly shuffle. Output compacted to (doc_id, n_kept,
  // md5 of the surviving text).

  private val SegDedupLen = 3

  private def q81(t: Tables): DataFrame =
    Dedup.segmentDedup(
      t.documents.select(col("doc_id").as("id"), col("text")), SegDedupLen)
      .select(col("id").as("doc_id"), col("n_kept"),
        md5(col("text")).as("kept_md5"))

  private val q81Sql =
    s"""WITH $wordsCte,
       |s0 AS (SELECT id, words, unnest(generate_series(0, len(words) - 1, $SegDedupLen)) AS st
       |       FROM w WHERE len(words) > 0),
       |h AS (SELECT id, CAST(st AS BIGINT) AS pos,
       |        array_to_string(words[st+1:st+$SegDedupLen], ' ') AS seg,
       |        md5(array_to_string(words[st+1:st+$SegDedupLen], ' ')) AS hh,
       |        id * 1048576 + st AS fk
       |      FROM s0),
       |f AS (SELECT hh, min(fk) AS mfk FROM h GROUP BY hh)
       |SELECT id AS doc_id, count(*) AS n_kept,
       |  md5(string_agg(seg, ' ' ORDER BY pos)) AS kept_md5
       |FROM h JOIN f ON h.hh = f.hh AND h.fk = f.mfk
       |GROUP BY id""".stripMargin

  // ===== q79 per-language percentile quality cutoff ======================
  // Keep documents above their language's p90 token count — the grouped-
  // quantile filter shape every quality pipeline runs (per-stratum cutoffs
  // beat a global one when strata differ structurally). Exact interpolated
  // percentile per group through Profiling.groupedQuantilesCont — the
  // scale path whose state is distinct-value counts, NOT a buffered value
  // array per group like the built-in `percentile` (bit-identical values,
  // pinned in ProfilingSpec); tiny cutoff table broadcast back, narrow
  // filter.

  private def q79(t: Tables): DataFrame = {
    val toks = t.documents.select(col("doc_id"), col("lang"),
      graft.operators.TextOps.wsTokenCount(col("text")).cast("long").as("n_tok"))
    val cuts = graft.operators.Profiling
      .groupedQuantilesCont(toks, col("lang"), col("n_tok"), Seq(0.9))
      .select(col("group").as("lang"), round(col("value"), 4).as("p90"))
    toks.join(broadcast(cuts), Seq("lang"))
      .filter(col("n_tok") > col("p90"))
      .select(col("doc_id"), col("lang"), col("n_tok"))
  }

  private val q79Sql =
    s"""WITH tk AS (SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok FROM documents),
       |c AS (SELECT lang, round(quantile_cont(n_tok, 0.9), 4) AS p90 FROM tk GROUP BY lang)
       |SELECT doc_id, tk.lang, n_tok FROM tk JOIN c ON tk.lang = c.lang
       |WHERE n_tok > p90""".stripMargin

  // ===== q74 incremental (cross-corpus) dedup ============================
  // Ingestion-time dedup: of the "new batch" (doc_id ≡ 7 mod 10), keep
  // docs that are neither exact copies nor LSH near-dups (J ≥ 0.8) of the
  // existing corpus. Candidates come from the band join ACROSS corpora.

  private def q74(t: Tables): DataFrame = {
    val d = graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text")))
    Dedup.dedupAgainst(
      d.filter(col("id") % 10 === 7), d.filter(col("id") % 10 =!= 7),
      3, MinHashes, Bands, CorpusT)
      .select(col("id"))
  }

  private val q74Sql =
    s"""WITH $wordsCte,
       |$lshBandCtesSql,
       |cand AS (SELECT DISTINCT x.id AS id_n, y.id AS id_e
       |         FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
       |         WHERE x.id % 10 = 7 AND y.id % 10 <> 7),
       |near AS (SELECT DISTINCT c.id_n AS id
       |         FROM cand c JOIN sig a ON c.id_n = a.id JOIN sig b ON c.id_e = b.id
       |         WHERE round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
       |                     /(a.n_sh + b.n_sh - len(list_intersect(a.ss, b.ss))), 4) >= $CorpusT),
       |exd AS (SELECT DISTINCT n.doc_id AS id FROM documents n JOIN documents e
       |        ON md5(n.text) = md5(e.text) AND n.doc_id % 10 = 7 AND e.doc_id % 10 <> 7)
       |SELECT doc_id AS id FROM documents
       |WHERE doc_id % 10 = 7
       |  AND doc_id NOT IN (SELECT id FROM near)
       |  AND doc_id NOT IN (SELECT id FROM exd)""".stripMargin

  // ===== q83 stored-index incremental dedup ==============================
  // Same contract and oracle as q74, but the corpus side is a STORED
  // index: the store's batch 0 holds the three derived views the probe
  // joins against (text hashes, LSH band keys partitioned by band,
  // shingle arrays; no CDC chunk view, which only the chunk report
  // reads) — the production ingestion shape where a batch's dedup cost is
  // proportional to the BATCH, never the corpus. The build runs once per
  // (sf dir, params) and JVM, and later invocations probe the existing
  // index — exactly the ingestion-time cost model the operator exists to
  // demonstrate.

  private def q83(t: Tables): DataFrame = {
    val d = graft.Fanout(t.documents.select(col("doc_id").as("id"), col("text")))
    val dir = RunCache.dir(t.dir, s"corpus_index_3_${MinHashes}_$Bands")(
      dd => Dedup.writeCorpusIndexBatch(d.filter(col("id") % 10 =!= 7), dd,
        0L, 3, MinHashes, Bands))
    Dedup.dedupAgainstIndex(d.filter(col("id") % 10 === 7), dir,
      3, MinHashes, Bands, CorpusT)
      .select(col("id"))
  }

  // ===== q84 cross-document duplicated passages ==========================
  // Exact substring-dedup detection (Lee et al. 2022 shape): every
  // PassLen-token window at EVERY alignment (stride 1) occurring in >= 2
  // distinct docs, with document frequency / occurrence count / first
  // owner. Complements winnowing (q54, sampled fingerprints) with the
  // exhaustive exact pass. One narrow window-hash map + one partial-agg
  // hash aggregate — no window function, no self-join (Dedup.duplicatePassages).

  private def q84(t: Tables): DataFrame =
    Dedup.duplicatePassages(
      t.documents.select(col("doc_id").as("id"), col("text")), PassLen)

  private val q84Sql =
    s"""WITH $wordsCte,
       |s AS (SELECT id, words, unnest(generate_series(0, len(words) - $PassLen)) AS st
       |      FROM w WHERE len(words) >= $PassLen)
       |SELECT md5(array_to_string(words[st+1:st+$PassLen], ' ')) AS h,
       |  count(DISTINCT id) AS n_docs, count(*) AS n_occ, min(id) AS first_id
       |FROM s GROUP BY 1 HAVING count(DISTINCT id) >= 2""".stripMargin

  // ===== q90 sorted group-concat (grouped ValuesIterator with sort) ======
  // The reference's ordered-grouped-values shape (ValuesIterator over a
  // sorted run, OrderedWordCount.java's per-key iteration) surfaced as an
  // aggregate: per (lang, source), the member doc_ids in numeric order,
  // compacted to an md5 so the row stays narrow. collect_list holds one
  // group in memory — fine for bounded groups like (lang, source); for
  // unbounded groups use segmentDedup-style reassembly or secondarySort.

  private def q90(t: Tables): DataFrame =
    t.documents.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws(",",
          expr("transform(array_sort(collect_list(doc_id)), x -> cast(x as string))")))
          .as("ids_md5"))

  private val q90Sql =
    """SELECT lang, source, count(*) AS n_docs,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
      |FROM documents GROUP BY lang, source""".stripMargin

  // ===== q95 end-to-end curation pipeline ================================
  // The flagship composition: language filter → token-count quality gate →
  // exact dedup → MinHash-LSH near-dedup (keep-lowest-id) → per-source
  // domain cap — the C4-style corpus curation ladder as ONE dataframe,
  // oracled as ONE SQL statement replaying every stage with the shared
  // hash family. Proves the operators compose without interference (each
  // stage is individually oracled by q26/q61/q70/q75/q79). Scale posture
  // is the union of the stages': narrow filters → partial-agg dedup →
  // banded LSH → bounded top-k aggregate; no window over unbounded
  // groups, no collect, no cross join anywhere in the chain.

  private val PipeMinTok = 5
  private val PipeCap = 8

  private def q95(t: Tables): DataFrame = {
    val f = t.documents
      .filter(col("lang") === "en")
      .filter(TextOps.wsTokenCount(col("text")) >= PipeMinTok)
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val surv = Dedup.dedupCorpus(
      graft.Fanout(f.select(col("id"), col("text"))),
      3, MinHashes, Bands, CorpusT).select(col("id"))
    val kept = f.select(col("id"), col("source"))
      .join(surv, Seq("id"), "left_semi")
    graft.operators.Curation.domainCap(kept, col("source"), col("id"),
      Dedup.SharedHash.hash28(col("id").cast("string")).cast("double"), PipeCap)
      .select(col("domain").as("source"), col("rank").as("rnk"), col("id"))
  }

  private val q95Sql =
    s"""WITH f AS MATERIALIZED (SELECT doc_id, text, source FROM documents
       |  WHERE lang = 'en' AND len(regexp_extract_all(text, '\\S+')) >= $PipeMinTok),
       |ex AS MATERIALIZED (SELECT min(doc_id) AS id, text FROM f GROUP BY text),
       |w AS (SELECT id, regexp_split_to_array(lower(text), '\\s+') AS words FROM ex),
       |$lshPairCtesSql,
       |drops AS (SELECT DISTINCT id_b FROM v
       |          WHERE round(CAST(c AS DOUBLE)/(na+nb-c), 4) >= $CorpusT),
       |s AS (SELECT id FROM ex WHERE id NOT IN (SELECT id_b FROM drops)),
       |k AS (SELECT f.doc_id AS id, f.source FROM f JOIN s ON f.doc_id = s.id)
       |SELECT source, CAST(rnk AS INTEGER) AS rnk, id FROM (
       |  SELECT source, id, row_number() OVER (PARTITION BY source
       |    ORDER BY ${Dedup.SharedHash.hash28Sql("CAST(id AS VARCHAR)")} DESC, id) AS rnk
       |  FROM k) WHERE rnk <= $PipeCap""".stripMargin

  // ===== q100 corpus report card =========================================
  // The one-pass stats report every pipeline owner runs before and after
  // curation: per-language rows, per-source rows, and a global row — all
  // from ONE grouping-sets aggregate (single Expand + partial agg, one
  // shuffle), with exact token-count percentiles. At 100 TB this is the
  // scan you run once and cache the 200-row answer, not a dashboard of
  // separate scans.

  private def q100(t: Tables): DataFrame = {
    val tok = t.documents.select(col("lang"), col("source"),
      TextOps.wsTokenCount(col("text")).cast("long").as("n_tok"))
    tok.groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        round(expr("percentile(n_tok, 0.5)"), 4).as("p50_tok"),
        round(expr("percentile(n_tok, 0.9)"), 4).as("p90_tok"))
  }

  private val q100Sql =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  round(quantile_cont(n_tok, 0.5), 4) AS p50_tok,
      |  round(quantile_cont(n_tok, 0.9), 4) AS p90_tok
      |FROM (SELECT lang, source,
      |        CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
      |      FROM documents)
      |GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin

  // =======================================================================

  val defs: Map[String, Q] = Map(
    "q26_dedup_exact" -> wrap(q26),
    "q27_token_count" -> wrap(q27),
    "q28_quality_score" -> wrap(q28),
    "q29_lang_id" -> wrap(q29),
    "q30_fingerprint" -> wrap(q30),
    "q31_dedup_minhash_lsh" -> wrap(q31),
    "q32_dedup_simhash" -> wrap(q32),
    "q33_dedup_ngram_jaccard" -> wrap(q33),
    "q34_dedup_embedding" -> wrap(q34),
    "q35_ann_cosine_topk" -> wrap(q35),
    "q36_ann_lsh_topk" -> wrap(q36),
    "q37_media_decode" -> wrap(q37),
    "q38_sessionize" -> wrap(q38),
    "q44_ann_ivf_topk" -> wrap(q44),
    "q45_approx_sketches" -> wrap(q45),
    "q54_winnowing_fingerprint" -> wrap(q54),
    "q55_pii_scrub" -> wrap(q55),
    "q56_repetition_signals" -> wrap(q56),
    "q61_dedup_corpus" -> wrap(q61),
    "q62_neardup_clusters" -> wrap(q62),
    "q63_hash_split" -> wrap(q63),
    "q64_embedding_norm" -> wrap(q64),
    "q65_tfidf_vocab" -> wrap(q65),
    "q70_domain_cap" -> wrap(q70),
    "q71_decontaminate" -> wrap(q71),
    "q72_token_pack" -> wrap(q72),
    "q73_mixture_sample" -> wrap(q73),
    "q74_dedup_incremental" -> wrap(q74),
    "q83_dedup_stored_index" -> wrap(q83),
    "q75_stratified_sample" -> wrap(q75),
    "q76_semantic_dedup" -> wrap(q76),
    "q79_quality_cutoff" -> wrap(q79),
    "q80_doc_chunking" -> wrap(q80),
    "q81_segment_dedup" -> wrap(q81),
    "q84_duplicate_passages" -> wrap(q84),
    "q90_sorted_group_concat" -> wrap(q90),
    "q95_curation_pipeline" -> wrap(q95),
    "q100_corpus_report" -> wrap(q100),
    "q103_ann_multiprobe" -> wrap(q103),
    "q105_semantic_dedup_capped" -> wrap(q105),
    "q106_heavy_hitters" -> wrap(q106),
    "q107_weighted_sample" -> wrap(q107),
    "q113_containment_dedup" -> wrap(q113),
    "q116_triangle_count" -> wrap(q116),
    "q118_decontaminate_containment" -> wrap(q118),
    "q119_lang_drift" -> wrap(q119),
    "q120_source_overlap" -> wrap(q120),
    "q121_approx_heavy_hitters" -> wrap(q121),
    "q122_pagerank" -> wrap(q122),
    "q125_vocab_uniqueness" -> wrap(q125),
    "q127_bigram_pmi" -> wrap(q127),
    "q128_dup_profile" -> wrap(q128),
    "q129_kcore" -> wrap(q129),
    "q130_lm_quality_score" -> wrap(q130),
    "q131_fuzzy_dedup_editdist" -> wrap(q131),
    "q135_cluster_representatives" -> wrap(q135),
    "q138_weighted_quantiles" -> wrap(q138),
    "q141_lang_info_gain" -> wrap(q141),
    "q142_tfidf_cosine_pairs" -> wrap(q142),
    "q143_random_projection" -> wrap(q143),
    "q144_grouped_weighted_quantiles" -> wrap(q144),
    "q145_ann_stored_index" -> wrap(q145),
    "q146_ann_index_append" -> wrap(q146),
    "q148_novelty_attribution" -> wrap(q148),
    "q149_kcore_exact" -> wrap(q149),
    "q151_semantic_dedup_multicell" -> wrap(q151),
    "q152_bm25_retrieval" -> wrap(q152),
    "q153_sorted_neighborhood_dedup" -> wrap(q153),
    "q154_bm25_stored_index" -> wrap(q154),
    "q155_bm25_index_append" -> wrap(q155),
    "q156_bpe_vocab_induction" -> wrap(q156),
    "q157_bpe_tokenize" -> wrap(q157),
    "q158_hybrid_retrieval" -> wrap(q158),
    "q159_recursive_reachability" -> wrap(q159),
    "q162_golden_record" -> wrap(q162),
    "q164_semantic_dedup_capped_multicell" -> wrap(q164),
    "q166_bm25_index_compacted" -> wrap(q166),
    "q167_ann_index_compacted" -> wrap(q167),
    "q168_ann_index_pq" -> wrap(q168),
    "q169_repetition_filter" -> wrap(q169),
    "q170_leakage_free_split" -> wrap(q170),
    "q171_duplicate_spans" -> wrap(q171),
    "q172_bm25_index_delete" -> wrap(q172),
    "q173_ann_index_delete" -> wrap(q173),
    "q174_quality_classifier" -> wrap(q174),
    "q175_perplexity_filter" -> wrap(q175),
    "q176_lm_model_stored" -> wrap(q176),
    "q177_boilerplate_removal" -> wrap(q177),
    "q178_dedup_index_lifecycle" -> wrap(q178),
    "q179_trained_classifier" -> wrap(q179),
    "q180_bpe_byte_level" -> wrap(q180),
    "q181_bpe_model_stored" -> wrap(q181),
    "q182_classifier_eval" -> wrap(q182),
    "q183_bpe_byte_tokenize" -> wrap(q183),
    "q184_dsir_selection" -> wrap(q184),
    "q185_hard_negatives" -> wrap(q185),
    "q186_mixture_alloc" -> wrap(q186),
    "q187_label_propagation" -> wrap(q187),
    "q188_pipeline_e2e" -> wrap(q188),
    "q189_label_prop_frozen" -> wrap(q189),
    "q190_bpe_round_trip" -> wrap(q190),
    "q191_pack_manifest" -> wrap(q191),
    "q192_ppl_partition" -> wrap(q192),
    "q193_centroid_map" -> wrap(q193),
    "q194_contrastive_batches" -> wrap(q194),
    "q195_countmin" -> wrap(q195),
    "q196_tokenizer_fertility" -> wrap(q196),
    "q197_countmin_stored" -> wrap(q197),
    "q198_ppl_bucket_stored" -> wrap(q198),
    "q199_training_pairs" -> wrap(q199),
    "q200_js_divergence" -> wrap(q200),
    "q201_cdc_dedup" -> wrap(q201),
    "q202_image_decode" -> wrap(q202),
    "q203_unigram_induction" -> wrap(q203),
    "q204_unigram_stored" -> wrap(q204),
    "q205_fertility_compare" -> wrap(q205),
    "q206_cdc_index_lifecycle" -> wrap(q206),
    "q207_span_removal" -> wrap(q207),
    "q208_ann_pq_residual" -> wrap(q208),
    "q209_ann_pqr_stored" -> wrap(q209),
    "q210_unigram_byte_level" -> wrap(q210),
    "q211_kn_perplexity" -> wrap(q211),
    "q212_kn_stored_scoring" -> wrap(q212),
    "q213_wordpiece_induction" -> wrap(q213),
    "q214_wordpiece_tokenize" -> wrap(q214),
    "q215_ann_sq8" -> wrap(q215),
    "q216_wordpiece_stored" -> wrap(q216),
    "q217_ann_sq8_stored" -> wrap(q217),
    "q218_packed_shards" -> wrap(q218),
    "q219_cc_incremental" -> wrap(q219),
    "q220_image_resize" -> wrap(q220),
    "q221_video_frame_sample" -> wrap(q221),
    "q222_dedup_tokenize_shards" -> wrap(q222),
    "q223_ann_eval_report" -> wrap(q223),
    "q224_unigram_byte_round_trip" -> wrap(q224),
    "q225_wordpiece_round_trip" -> wrap(q225),
    "q226_token_id_shards" -> wrap(q226),
    "q227_langid_trained" -> wrap(q227),
    "q228_langid_eval" -> wrap(q228),
    "q229_countmin_compacted" -> wrap(q229),
    "q230_dedup_token_id_shards" -> wrap(q230),
    "q231_langid_drift" -> wrap(q231),
    "q232_blocklist_filter" -> wrap(q232),
    "q233_eos_token_id_shards" -> wrap(q233),
    "q234_image_ahash" -> wrap(q234),
    "q235_image_neardup_pairs" -> wrap(q235),
    "q236_image_index_probe" -> wrap(q236),
    "q237_tagger_table" -> wrap(q237),
    "q238_full_curation_shards" -> wrap(q238),
    "q239_audio_fingerprint" -> wrap(q239),
    "q240_audio_neardup_pairs" -> wrap(q240),
    "q241_video_keyframe_ahash" -> wrap(q241),
    "q242_stored_attrs_mixes" -> wrap(q242),
    "q243_audio_index_probe" -> wrap(q243),
    "q244_html_extract" -> wrap(q244),
    "q245_html_curation" -> wrap(q245),
    "q246_kn3_perplexity" -> wrap(q246),
    "q247_kn3_stored_scoring" -> wrap(q247),
    "q248_video_multiframe_pairs" -> wrap(q248),
    "q249_langid_drift_alert" -> wrap(q249),
    "q250_interleaved_id_shards" -> wrap(q250),
    "q251_html_to_shards" -> wrap(q251),
    "q252_block_boilerplate" -> wrap(q252),
    "q253_warc_ingest" -> wrap(q253),
    "q254_kn5_perplexity" -> wrap(q254),
    "q255_kn5_stored_scoring" -> wrap(q255),
    "q256_pair_dedup" -> wrap(q256),
    "q257_warc_gz_ingest" -> wrap(q257),
    "q258_url_canonicalize" -> wrap(q258),
    "q259_url_dedup_domain_cap" -> wrap(q259),
    "q260_outlink_extract" -> wrap(q260),
    "q261_host_pagerank" -> wrap(q261),
    "q262_digest_dedup" -> wrap(q262)
  )

  val oracles: Map[String, String] = Map(
    "q26_dedup_exact" -> q26Sql,
    "q27_token_count" -> q27Sql,
    "q28_quality_score" -> q28Sql,
    "q29_lang_id" -> q29Sql,
    "q30_fingerprint" -> q30Sql,
    "q31_dedup_minhash_lsh" -> q31Sql,
    "q32_dedup_simhash" -> q32Sql,
    "q33_dedup_ngram_jaccard" -> q33Sql,
    "q34_dedup_embedding" -> q34Sql,
    "q35_ann_cosine_topk" -> q35Sql,
    "q36_ann_lsh_topk" -> q36Sql,
    "q37_media_decode" -> q37Sql,
    "q38_sessionize" -> q38Sql,
    "q44_ann_ivf_topk" -> q44Sql,
    "q45_approx_sketches" -> q45Sql,
    "q54_winnowing_fingerprint" -> q54Sql,
    "q55_pii_scrub" -> q55Sql,
    "q56_repetition_signals" -> q56Sql,
    "q61_dedup_corpus" -> q61Sql,
    "q62_neardup_clusters" -> q62Sql,
    "q63_hash_split" -> q63Sql,
    "q64_embedding_norm" -> q64Sql,
    "q65_tfidf_vocab" -> q65Sql,
    "q70_domain_cap" -> q70Sql,
    "q71_decontaminate" -> q71Sql,
    "q72_token_pack" -> q72Sql,
    "q73_mixture_sample" -> q73Sql,
    "q74_dedup_incremental" -> q74Sql,
    "q83_dedup_stored_index" -> q74Sql,
    "q75_stratified_sample" -> q75Sql,
    "q76_semantic_dedup" -> q76Sql,
    "q79_quality_cutoff" -> q79Sql,
    "q80_doc_chunking" -> q80Sql,
    "q81_segment_dedup" -> q81Sql,
    "q84_duplicate_passages" -> q84Sql,
    "q90_sorted_group_concat" -> q90Sql,
    "q95_curation_pipeline" -> q95Sql,
    "q100_corpus_report" -> q100Sql,
    "q103_ann_multiprobe" -> q103Sql,
    "q105_semantic_dedup_capped" -> q105Sql,
    "q106_heavy_hitters" -> q106Sql,
    "q107_weighted_sample" -> q107Sql,
    "q113_containment_dedup" -> q113Sql,
    "q116_triangle_count" -> q116Sql,
    "q118_decontaminate_containment" -> q118Sql,
    "q119_lang_drift" -> q119Sql,
    "q120_source_overlap" -> q120Sql,
    "q121_approx_heavy_hitters" -> q121Sql,
    "q122_pagerank" -> q122Sql,
    "q125_vocab_uniqueness" -> q125Sql,
    "q127_bigram_pmi" -> q127Sql,
    "q128_dup_profile" -> q128Sql,
    "q129_kcore" -> q129Sql,
    "q130_lm_quality_score" -> q130Sql,
    "q131_fuzzy_dedup_editdist" -> q131Sql,
    "q135_cluster_representatives" -> q135Sql,
    "q138_weighted_quantiles" -> q138Sql,
    "q141_lang_info_gain" -> q141Sql,
    "q142_tfidf_cosine_pairs" -> q142Sql,
    "q143_random_projection" -> q143Sql,
    "q144_grouped_weighted_quantiles" -> q144Sql,
    // the stored index must equal the from-scratch derivation: q44's SQL
    "q145_ann_stored_index" -> q44Sql,
    // build+append must also equal the from-scratch derivation
    "q146_ann_index_append" -> q44Sql,
    "q148_novelty_attribution" -> q148Sql,
    "q149_kcore_exact" -> q149Sql,
    "q151_semantic_dedup_multicell" -> q151Sql,
    "q152_bm25_retrieval" -> q152Sql,
    "q153_sorted_neighborhood_dedup" -> q153Sql,
    // stored-and-probed / build+append must equal the from-scratch derivation
    "q154_bm25_stored_index" -> q152Sql,
    "q155_bm25_index_append" -> q152Sql,
    "q156_bpe_vocab_induction" -> q156Sql,
    "q157_bpe_tokenize" -> q157Sql,
    "q158_hybrid_retrieval" -> q158Sql,
    "q159_recursive_reachability" -> q159Sql,
    "q162_golden_record" -> q162Sql,
    "q164_semantic_dedup_capped_multicell" -> q164Sql,
    "q166_bm25_index_compacted" -> q152Sql,
    "q167_ann_index_compacted" -> q44Sql,
    "q168_ann_index_pq" -> q168Sql,
    "q169_repetition_filter" -> q169Sql,
    "q170_leakage_free_split" -> q170Sql,
    "q171_duplicate_spans" -> q171Sql,
    "q172_bm25_index_delete" -> q172Sql,
    "q173_ann_index_delete" -> q173Sql,
    "q174_quality_classifier" -> q174Sql,
    "q175_perplexity_filter" -> q175Sql,
    "q176_lm_model_stored" -> q175Sql,
    "q177_boilerplate_removal" -> q177Sql,
    "q178_dedup_index_lifecycle" -> q178Sql,
    "q179_trained_classifier" -> q179Sql,
    "q180_bpe_byte_level" -> q180Sql,
    // stored-and-applied must equal freshly-trained: q157's oracle verbatim
    "q181_bpe_model_stored" -> q157Sql,
    "q182_classifier_eval" -> q182Sql,
    "q183_bpe_byte_tokenize" -> q183Sql,
    "q184_dsir_selection" -> q184Sql,
    "q185_hard_negatives" -> q185Sql,
    "q186_mixture_alloc" -> q186Sql,
    "q187_label_propagation" -> q187Sql,
    "q188_pipeline_e2e" -> q188Sql,
    "q189_label_prop_frozen" -> q189Sql,
    "q190_bpe_round_trip" -> q190Sql,
    "q191_pack_manifest" -> q191Sql,
    "q192_ppl_partition" -> q192Sql,
    "q193_centroid_map" -> q193Sql,
    "q194_contrastive_batches" -> q194Sql,
    "q195_countmin" -> q195Sql,
    "q196_tokenizer_fertility" -> q196Sql,
    // stored+ingested must equal one-shot: q195's oracle verbatim
    // (CountMin linearity — the sketch of a union is the cell-wise sum)
    "q197_countmin_stored" -> q195Sql,
    // stored LM + stored boundaries must bucket exactly like the fresh
    // partition: q192's oracle verbatim (the stored-artifact contract)
    "q198_ppl_bucket_stored" -> q192Sql,
    "q199_training_pairs" -> q199Sql,
    "q200_js_divergence" -> q200Sql,
    "q201_cdc_dedup" -> q201Sql,
    "q202_image_decode" -> q202Sql,
    "q203_unigram_induction" -> q203Sql,
    "q204_unigram_stored" -> q204Sql,
    "q205_fertility_compare" -> q205Sql,
    // stored build+ingest must equal the one-shot corpus chunking: q201's
    // oracle verbatim (per-document chunk decomposition)
    "q206_cdc_index_lifecycle" -> q201Sql,
    "q207_span_removal" -> q207Sql,
    "q208_ann_pq_residual" -> q208Sql,
    // stored-and-probed must equal the direct residual operator: q208's
    // oracle verbatim (the stored ≡ direct index contract)
    "q209_ann_pqr_stored" -> q208Sql,
    "q210_unigram_byte_level" -> q210Sql,
    "q211_kn_perplexity" -> q211Sql,
    "q212_kn_stored_scoring" -> q211Sql,
    "q213_wordpiece_induction" -> q213Sql,
    "q214_wordpiece_tokenize" -> q214Sql,
    "q215_ann_sq8" -> q215Sql,
    // stored-and-applied must equal freshly-trained: q214's oracle
    // verbatim (the tokenizer-integrity contract)
    "q216_wordpiece_stored" -> q214Sql,
    // stored-and-probed must equal the direct SQ8 operator: q215's
    // oracle verbatim (the q209 contract on the fourth layout)
    "q217_ann_sq8_stored" -> q215Sql,
    "q218_packed_shards" -> q218Sql,
    // incremental build+ingest+compact must equal the one-shot
    // clustering: q62's from-scratch oracle verbatim
    "q219_cc_incremental" -> q62Sql,
    "q220_image_resize" -> q220Sql,
    "q221_video_frame_sample" -> q221Sql,
    "q222_dedup_tokenize_shards" -> q222Sql,
    "q223_ann_eval_report" -> q223Sql,
    "q224_unigram_byte_round_trip" -> q224Sql,
    "q225_wordpiece_round_trip" -> q225Sql,
    "q226_token_id_shards" -> q226Sql,
    "q227_langid_trained" -> q227Sql,
    "q228_langid_eval" -> q228Sql,
    "q229_countmin_compacted" -> q195Sql,
    "q230_dedup_token_id_shards" -> q230Sql,
    "q231_langid_drift" -> q231Sql,
    "q232_blocklist_filter" -> q232Sql,
    "q233_eos_token_id_shards" -> q233Sql,
    "q234_image_ahash" -> q234Sql,
    "q235_image_neardup_pairs" -> q235Sql,
    "q236_image_index_probe" -> q236Sql,
    "q237_tagger_table" -> q237Sql,
    "q238_full_curation_shards" -> q238Sql,
    "q239_audio_fingerprint" -> q239Sql,
    "q240_audio_neardup_pairs" -> q240Sql,
    "q241_video_keyframe_ahash" -> q241Sql,
    "q242_stored_attrs_mixes" -> q242Sql,
    "q243_audio_index_probe" -> q243Sql,
    "q244_html_extract" -> q244Sql,
    "q245_html_curation" -> q245Sql,
    "q246_kn3_perplexity" -> q246Sql,
    // stored trigram model must score exactly like the fresh build:
    // q246's oracle verbatim (the stored-artifact contract at order 3)
    "q247_kn3_stored_scoring" -> q246Sql,
    "q248_video_multiframe_pairs" -> q248Sql,
    "q249_langid_drift_alert" -> q249Sql,
    "q250_interleaved_id_shards" -> q250Sql,
    "q251_html_to_shards" -> q251Sql,
    "q252_block_boilerplate" -> q252Sql,
    "q253_warc_ingest" -> q253Sql,
    "q254_kn5_perplexity" -> q254Sql,
    // stored ≡ fresh by construction: the artifact is the pruned
    // (vocab/, grams/) pair and every discount statistic derives from
    // it at load — q254's oracle verbatim (the q247 discipline)
    "q255_kn5_stored_scoring" -> q254Sql,
    "q256_pair_dedup" -> q256Sql,
    "q257_warc_gz_ingest" -> q257Sql,
    "q258_url_canonicalize" -> q258Sql,
    "q259_url_dedup_domain_cap" -> q259Sql,
    "q260_outlink_extract" -> q260Sql,
    "q261_host_pagerank" -> q261Sql,
    "q262_digest_dedup" -> q262Sql
  )
}
