package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML/markup TEXT EXTRACTION — the entry-point stage of every
  * published curation pipeline (C4, CCNet, RefinedWeb and Dolma all
  * start from crawled HTML, not plain text): a deterministic
  * tag-strip / entity-decode / block-segmentation extractor in the
  * resiliparse-lite shape, expressed entirely as codegen'd Catalyst
  * string expressions so the whole stage is ONE narrow zero-shuffle
  * pass over the scan — at 100 TB the extractor IS the scan, and any
  * join or shuffle here would dominate the whole pipeline.
  *
  * The extraction contract (applied identically by the DuckDB oracle):
  *
  *  1. DROP non-content subtrees: `<script>…</script>`,
  *     `<style>…</style>` and `<!-- … -->` comments (dotall,
  *     non-greedy — the standard first pass; anything inside them,
  *     including tag-looking text, never reaches the output).
  *  2. SEGMENT into blocks by container element — `nav`, `h1`–`h6`,
  *     `blockquote`, `p`, `li`, `td`, `div` — with ONE stack-based
  *     depth-aware scan ([[graft.functions.NativeKernels
  *     .htmlSegmentBlocks]]). Ownership rule: an opening block tag
  *     starts a NEW block iff no block is open or its priority rank
  *     (nav 0 … div 11) is ≤ the innermost open block's rank;
  *     otherwise the tag and its content are ABSORBED into the owning
  *     block — so a `<p>` nested inside `<nav>` belongs to the nav
  *     block (chrome subtrees suppress their content), a `<p>` nested
  *     inside `<div>` claims its own text (the div block keeps only
  *     its OWN residual text — no double-count), and `<div>` directly
  *     inside `<div>` pairs by DEPTH, each emitting its own block
  *     (the former regex chain's flat-markup caveat, closed: its
  *     non-greedy pairing bound the outer open to the FIRST close).
  *     Only exact tag names segment (`<pre>`/`<param>` never match
  *     `p`, `<link>` never matches `li`). A closing tag closes the
  *     nearest matching open block; strays and every non-block tag
  *     pass through verbatim into the owning block's raw (the clean
  *     pass strips them). Blocks are emitted in (type-rank, index)
  *     order; `block_idx` counts per type in document open order. On
  *     markup WITHOUT same-tag nesting this is block-for-block
  *     identical to the old priority-removal chain (the oracle's
  *     regex CTE replay is still generated from that chain and stays
  *     green); the div-in-div fixture trap pins the depth pairing via
  *     a constructed expectation.
  *  3. Convert `<br>`/`<br/>` to a NEWLINE (it is a line separator,
  *     not markup — the Gopher line rules downstream depend on it),
  *     then STRIP residual inline tags (`<a>`, … → removed) inside
  *     each block.
  *  4. DECODE entities — named `&lt; &gt; &quot; &#39; &nbsp;` first,
  *     then NUMERIC character references (`&#8212;` decimal /
  *     `&#x27;` hex → code point, invalid or out-of-range refs stay
  *     literal — [[graft.functions.NativeKernels.decodeNumericRefs]]),
  *     `&amp;` LAST (the standard order: decoding `&amp;` first would
  *     double-decode `&amp;lt;`, and `&amp;#39;` must render as the
  *     literal `&#39;` a browser shows). Decoding happens AFTER
  *     tag-strip, so an encoded literal like `&lt;b&gt;` survives as
  *     visible text — exactly what a browser renders.
  *  5. NORMALIZE whitespace per block — whitespace runs containing a
  *     newline collapse to one `\n` (preserving the `<br>` line
  *     structure), horizontal runs collapse to one space, edges
  *     trimmed — and drop blocks that normalize to empty.
  *
  * Reference: the reference runtime ships text through opaque per-row
  * user processors (tez-mapreduce/src/main/java/org/apache/tez/
  * mapreduce/processor/map/MapProcessor.java — arbitrary record
  * transforms the engine cannot see into); extraction-as-expression is
  * the Spark-native replacement — no UDF, no per-row interpreter,
  * whole-stage codegen end to end, and Catalyst can prune/push through
  * it. The extraction RULES come from the public pipeline literature
  * (C4 — Raffel et al. 2020 §2.2; CCNet — Wenzek et al. 2019;
  * RefinedWeb — Penedo et al. 2023; Dolma — Soldaini et al. 2024;
  * resiliparse/jusText as the deterministic extractor family).
  */
object Html {

  /** Block-level container tags recognized by the segmenter, with
    * their emission ranks = extraction PRIORITY order. `nav` and `div`
    * are BOILERPLATE types (navigation chrome, footers); the ranks
    * between them are CONTENT — the split [[extractText]] uses. nav
    * ranks (and extracts) FIRST so chrome subtrees claim their nested
    * content; div ranks LAST as the catch-all container, so content
    * tags inside a div are claimed by their own pass first.
    */
  val blockTags: Seq[(String, Int)] = Seq(
    ("nav", 0), ("h1", 1), ("h2", 2), ("h3", 3), ("h4", 4), ("h5", 5),
    ("h6", 6), ("blockquote", 7), ("p", 8), ("li", 9), ("td", 10),
    ("div", 11))

  /** [[blockTags]] as a lookup — the segmentation kernel's tag table
    * ([[graft.functions.NativeKernels.htmlSegmentBlocks]]); one source
    * for the Scala kernel AND the oracle CTE generator.
    */
  val tagRanks: Map[String, Int] = blockTags.toMap

  /** Boilerplate-by-tag ranks (navigation chrome, footer/catch-all). */
  val chromeRanks: Set[Int] = Set(0, 11)

  /** Content ranks: blocks contributing to [[extractText]]'s document
    * text (boilerplate nav/div chrome excluded — the C4/RefinedWeb
    * main-content rule in its deterministic teaching form). The
    * contiguous band between the chrome ranks.
    */
  val contentRanks: Set[Int] = (1 to 10).toSet

  /** Named entities decoded BEFORE numeric refs; `&amp;` handled last
    * (see the contract above).
    */
  private val namedEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ")

  /** Pass 1: drop script/style/comment subtrees. */
  def dropNonContent(html: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(html,
      "(?s)<script\\b[^>]*>.*?</script>", ""),
      "(?s)<style\\b[^>]*>.*?</style>", ""),
      "(?s)<!--.*?-->", "")

  /** Pass 3a: `<br>` variants → newline (before tag-strip eats them). */
  def brToNewline(c: Column): Column =
    regexp_replace(c, "(?i)<br\\s*/?>", "\n")

  /** Pass 3b: strip residual tags inside a block. */
  def stripTags(c: Column): Column = regexp_replace(c, "<[^>]*>", "")

  /** Pass 4: entity decode — named, then numeric refs, `&amp;` last. */
  def decodeEntities(c: Column): Column = {
    val named = namedEntities.foldLeft(c) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to))
    }
    replace(graft.functions.decode_numeric_refs(named),
      lit("&amp;"), lit("&"))
  }

  /** Pass 5: whitespace normalization, newline-preserving: any
    * whitespace run containing a `\n` → one `\n`, horizontal runs →
    * one space, edges trimmed.
    */
  def normalizeWs(c: Column): Column =
    trim(regexp_replace(regexp_replace(c,
      "\\s*\\n\\s*", "\n"), "[ \\t\\x0B\\f\\r]+", " "), " \n")

  /** The full per-block clean: br→\n → strip → decode → normalize. */
  def cleanBlock(raw: Column): Column =
    normalizeWs(decodeEntities(stripTags(brToNewline(raw))))

  /** All blocks of the document as one in-order array of
    * (rank, block_type, block_idx, raw) structs — the shared core of
    * [[extractBlocks]], [[blockSignals]] and [[extractText]]: ONE
    * stack-based kernel scan over the non-content-stripped page
    * (see contract step 2 — the 12-tag regex priority chain this
    * replaced cost ~2 regex passes per tag and mis-paired same-tag
    * nesting). Array order IS (rank, idx) order by construction, so
    * no sort is ever needed.
    */
  private def blockStructs(html: Column): Column =
    graft.functions.html_blocks(dropNonContent(html))

  /** BLOCK TABLE extraction: one output row per non-empty block —
    * (input columns…, block_type, block_idx, block_text), the
    * structured form a block-level quality model consumes. `block_idx`
    * is the occurrence index within the block's type (before
    * empty-block dropping, so indices are stable under content edits
    * that empty a block).
    */
  def extractBlocks(df: DataFrame, html: Column): DataFrame =
    df.withColumn("__b", explode(blockStructs(html)))
      .withColumn("block_text", cleanBlock(col("__b.raw")))
      .filter(length(col("block_text")) > 0)
      .select((df.columns.map(col) ++ Seq(
        col("__b.block_type").as("block_type"),
        col("__b.block_idx").cast("long").as("block_idx"),
        col("block_text"))): _*)

  /** The block table of (id, html) pages: (id, block_type, block_idx,
    * block_text), one row per non-empty block ([[extractBlocks]] with the
    * page's other columns dropped) — what downstream taggers and dedup
    * consume without ever re-parsing markup (the q244 → q245 split).
    */
  def blockTable(pages: DataFrame, id: Column, html: Column): DataFrame =
    extractBlocks(pages.select(id, html), html)
      .select(id, col("block_type"), col("block_idx"), col("block_text"))

  /** BLOCK SIGNALS — the link-density boilerplate heuristic every
    * published extractor runs (jusText / trafilatura / resiliparse:
    * a block whose text is mostly anchor text is navigation chrome
    * regardless of its tag): per block, `link_chars` = Σ length of the
    * cleaned inner text of its `<a>` elements (word-boundary matched —
    * `<abbr>`/`<aside>`/`<article>` never count), `text_chars` =
    * length of the cleaned block text, and
    * `boilerplate` = chrome-by-tag (nav/div) OR 2·link_chars >
    * text_chars (link density > ½, exact integers — no float
    * boundary). The tag rule catches footers with no links; the
    * density rule catches link farms inside content tags — the spec
    * pins each firing alone. Same one narrow pass as
    * [[extractBlocks]]; empty blocks drop.
    *
    * Output: input columns + (block_type, block_idx, link_chars,
    * text_chars, block_text, boilerplate).
    */
  def blockSignals(df: DataFrame, html: Column): DataFrame = {
    val aInner = (raw: Column) =>
      regexp_extract_all(raw, lit("(?s)<a\\b[^>]*>(.*?)</a>"), lit(1))
    df.withColumn("__b", explode(blockStructs(html)))
      .withColumn("block_text", cleanBlock(col("__b.raw")))
      .filter(length(col("block_text")) > 0)
      .withColumn("link_chars",
        aggregate(transform(aInner(col("__b.raw")), x => cleanBlock(x)),
          lit(0L), (a, x) => a + length(x).cast("long")))
      .withColumn("text_chars", length(col("block_text")).cast("long"))
      .select((df.columns.map(col) ++ Seq(
        col("__b.block_type").as("block_type"),
        col("__b.block_idx").cast("long").as("block_idx"),
        col("link_chars"), col("text_chars"), col("block_text"),
        (col("__b.rank").isin(chromeRanks.toSeq.map(Int.box): _*) ||
          lit(2L) * col("link_chars") > col("text_chars"))
          .as("boilerplate"))): _*)
  }

  /** DOCUMENT TEXT extraction: the content blocks (h1–h6, blockquote,
    * p, li, td — nav and div chrome dropped as boilerplate, INCLUDING
    * anything nested inside them, which their pass claimed) cleaned
    * and joined with newlines in (rank, idx) order, appended as `out`.
    * The shape the tagger table / dedup / tokenizer stages consume —
    * raw crawled HTML in, pipeline-ready text out, zero shuffles.
    */
  def extractText(df: DataFrame, html: Column, out: String): DataFrame = {
    // content ranks are the contiguous h1=1..td=10 band (nav=0/div=11)
    val content = filter(blockStructs(html),
      b => b.getField("rank") >= 1 && b.getField("rank") <= 10)
    df.withColumn(out,
      array_join(
        filter(transform(content, b => cleanBlock(b.getField("raw"))),
          t => length(t) > 0), "\n"))
  }

  /** Deterministic HTML FIXTURE synthesis (the [[Multimodal]]
    * `withImageColumn` discipline for markup): wrap a plain-text
    * document into an HTML page with a trap for every extraction
    * rule — the DuckDB oracle replays this exact concatenation
    * arithmetic, so drift in either synthesis or extraction breaks
    * the hash. Traps, in page order:
    *
    *  - head: style + script with tag-looking source (subtree drop),
    *    a `<link>` element (`<li\b` must not match it — without the
    *    word boundary it pairs with the body's first `</li>` and
    *    swallows half the page);
    *  - a comment with a ghost `<p>` (comment drop);
    *  - nav chrome containing an `<abbr>` ([[blockSignals]]' `<a\b`
    *    must not count it as anchor text) AND a nested `<p>` (the
    *    priority chain must claim it for the nav block, never emit it
    *    as content);
    *  - `<h1>` from the first three words with `&amp;` separators;
    *  - `<h2>` with a DECIMAL numeric ref (`&#8212;` → em dash);
    *  - a `<blockquote>` block;
    *  - a `<pre>` trap (`<p\b` must not match it — without the
    *    boundary it swallows text up to the first real `</p>`);
    *  - `<p>` blocks of ten words each carrying an encoded
    *    `&lt;eop&gt;` literal; then one static `<p>` with a `<br>`
    *    (→ newline in the block text);
    *  - a two-item `<ul>` (last two words joined by `&nbsp;`, plus an
    *    entity-quoting item with a HEX numeric ref `&#x27;`);
    *  - a `<table>` row (`<td>` block; `table`/`tr` tags strip as
    *    residual);
    *  - a `<div>` footer with ANOTHER nested `<p>` (the p pass claims
    *    it; the div block keeps only its own text — no double-count);
    *  - the static [[divNestTrap]]: a div DIRECTLY inside a div — the
    *    stack kernel's depth pairing emits two blocks (the outer's
    *    segments rejoin around the carved-out inner).
    */
  def withHtmlColumn(df: DataFrame, text: Column, out: String): DataFrame = {
    val ws = regexp_extract_all(text, lit("""\S+"""), lit(0))
    val n = size(ws)
    val title = array_join(slice(ws, 1, 3), " &amp; ")
    val paras = when(n >= 4,
      concat_ws("", transform(
        sequence(lit(0), floor((n - lit(4)) / lit(10)).cast("int")),
        k => concat(lit("<p>"),
          array_join(slice(ws, k * 10 + 4, lit(10)), " "),
          lit(" &lt;eop&gt;</p>"))))).otherwise(lit(""))
    val li1 = when(n >= 2, array_join(slice(ws, n - 1, lit(2)), "&nbsp;"))
      .otherwise(lit("item&nbsp;only"))
    df.withColumn(out, concat(
      lit("<html><head><title>fixture</title>" +
        "<style>p { color: #fff; }</style>" +
        "<script>if (1 < 2) { alert(\"x &amp; y\"); }</script>" +
        "<link rel=\"stylesheet\" href=\"/css/main.css\">" +
        "</head><body><!-- <p>ghost block</p> -->" +
        "<nav><abbr title=\"ht\">HT</abbr> <a href=\"/\">home</a> | " +
        "<a href=\"/about\">about</a><p>nested menu item</p></nav>" +
        "<h1>"),
      title, lit("</h1>" +
        "<h2>section &#8212; overview</h2>" +
        "<blockquote>quoted words here</blockquote>" +
        "<pre>raw &amp; code</pre>"), paras,
      lit("<p>line one<br>line two</p>" +
        "<ul><li>"), li1,
      lit("</li><li>it&#x27;s &quot;quoted&quot;</li></ul>" +
        "<table><tr><td>cell &#65; text</td></tr></table>" +
        "<div class=\"footer\">contact us<p>div nested para</p></div>" +
        divNestTrap +
        "</body></html>")))
  }

  /** The SAME-TAG NESTING trap (static, after the footer div): a div
    * directly inside a div — the stack kernel pairs by depth (inner
    * block "inner scope", outer block "outer scope tail text" with its
    * double space normalizing away); the old regex chain would have
    * paired the outer open with the FIRST close ("outer scope inner
    * scope" + a dangling tail). The oracle replays this trap as a
    * CONSTRUCTED expectation (regex CTEs cannot express depth pairing)
    * and runs the chain replay on the page with the static trap
    * substring removed.
    */
  val divNestTrap: String =
    "<div>outer scope <div>inner scope</div> tail text</div>"

  /** OUTLINK TABLE extraction — the crawl-frontier harvest every
    * pipeline runs on fetched pages (frontier expansion, anchor-text
    * signals, the host link graph): one output row per `<a>` element —
    * (input columns…, link_idx, href, anchor_text). `link_idx` is the
    * anchor's document order (all anchors count, href-less included, so
    * indices are stable). `href` is the raw attribute value, double- or
    * single-quoted (NULL when the anchor has no href — `<a name=…>`
    * targets are data, not links); resolution against the page URL is
    * [[Url.resolve]]'s job, canonical identity [[Url.canonicalize]]'s.
    * `anchor_text` is the [[cleanBlock]]-cleaned inner markup (inline
    * tags stripped, entities decoded) — what link-graph quality models
    * consume. Anchors inside `<script>`/`<style>`/comments never
    * surface ([[dropNonContent]] runs first — a script string literal
    * containing `<a href…>` is the fixture trap); `href` attributes on
    * NON-anchor elements (`<link>`, `<img>`) never match.
    *
    * Same 100 TB shape as [[extractBlocks]]: pure codegen'd expressions
    * + one generator, zero shuffles, zero joins.
    */
  def extractLinks(df: DataFrame, html: Column): DataFrame = {
    val anchorRx = "(?is)<a\\b[^>]*>.*?</a>"
    val m = col("__m")
    val dq = regexp_extract(m, "(?is)^<a\\b[^>]*?\\bhref\\s*=\\s*\"([^\"]*)\"", 1)
    val sq = regexp_extract(m, "(?is)^<a\\b[^>]*?\\bhref\\s*=\\s*'([^']*)'", 1)
    df.select(df.columns.map(col) :+
        posexplode(regexp_extract_all(dropNonContent(html),
          lit(anchorRx), lit(0))).as(Seq("link_idx", "__m")): _*)
      .select((df.columns.map(col) ++ Seq(
        col("link_idx").cast("long").as("link_idx"),
        when(dq =!= "", dq).when(sq =!= "", sq).otherwise(lit(null))
          .as("href"),
        cleanBlock(regexp_extract(m, "(?is)^<a\\b[^>]*>(.*?)</a>$", 1))
          .as("anchor_text"))): _*)
  }

  /** The outlink table of fetched pages, resolved against each page's own
    * base URL: (id, link_idx, href, anchor_text, url_resolved, url_canon)
    * — [[extractLinks]] + [[Url.resolve]] + [[Url.canonicalize]], the
    * crawl-frontier expansion step (q260). Non-crawlable hrefs (mailto:,
    * javascript:, href-less anchors) keep their rows with a null
    * resolution, so the frontier scheduler and the link-graph builder read
    * one table. All three URL stages are 1-node native kernel
    * expressions, so the plan is scan → generator → projections: zero
    * joins, zero shuffles.
    */
  def resolvedLinks(pages: DataFrame, id: Column, base: Column,
      html: Column): DataFrame =
    extractLinks(pages, html)
      .select(id, col("link_idx"), col("href"), col("anchor_text"),
        Url.resolve(base, col("href")).as("url_resolved"))
      .withColumn("url_canon", Url.canonicalize(col("url_resolved")))

  /** Deterministic LINK-PAGE fixture ([[withHtmlColumn]]'s discipline
    * for the outlink surface): nine `<a>` anchors, one per
    * [[Url.resolve]] rule — absolute cross-host, absolute cross-site,
    * scheme-relative (`//cdn…`), root-relative, path-relative,
    * query-only, fragment-only, `mailto:` (non-crawlable → NULL
    * resolved), and an href-LESS named anchor (NULL href) — plus two
    * never-match traps: a `<script>` string literal containing a full
    * ghost anchor (subtree drop must run first) and an `<img src>`/
    * `<link href>` (href on a non-anchor element). Anchor texts carry
    * inline markup and entities so `anchor_text` exercises the clean
    * pass. g = ⌊doc_id/3⌋ keys the cross-site target exactly like
    * [[graft.queries.Pipeline]]'s messy-URL fixture, so link targets
    * and page URLs live in one small multi-domain world.
    */
  def withLinkHtml(df: DataFrame, docId: Column, out: String): DataFrame = {
    val d = docId.cast("long")
    val g = floor(d / 3).cast("long")
    df.withColumn(out, concat(
      lit("<html><head><title>links</title>" +
        "<script>var s = '<a href=\"http://ghost.example/\">ghost</a>';" +
        "</script><link rel=\"stylesheet\" href=\"/css/m.css\"></head>" +
        "<body><p>intro <a href=\"http://w"),
      (d % 5).cast("string"), lit(".ex"), (d % 3).cast("string"),
      lit(".net/p/"), (d % 11).cast("string"),
      lit("\">first <b>bold</b> link</a></p>" +
        "<p><a href=\"https://site"),
      ((g + 1) % 5).cast("string"), lit(".com/x/"), g.cast("string"),
      lit("\">cross&amp;site</a></p>" +
        "<ul><li><a href='//cdn.site"),
      (g % 5).cast("string"),
      lit(".com/lib.js'>cdn asset</a></li>" +
        "<li><a href=\"/r/"),
      (d % 7).cast("string"),
      lit("\">root&nbsp;rel</a></li>" +
        "<li><a href=\"next/"),
      (d % 3).cast("string"),
      lit("\">path rel</a></li></ul>" +
        "<p><a href=\"?page=2\">next page</a> " +
        "<a href=\"#top\">back to top</a> " +
        "<a href=\"mailto:op@site"),
      (g % 5).cast("string"),
      lit(".com\">mail</a> <a name=\"anchor-only\">no href</a></p>" +
        "<img src=\"http://img.ex0.net/i.png\"></body></html>")))
  }
}
