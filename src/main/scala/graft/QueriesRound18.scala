package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-18 wave: the r17 verdict's polish-and-composition asks.
  * Each query sits next to its `Gate` entry and DuckDB oracle.
  */
private[graft] trait PipelinesRound18 extends PipelinesBase {

  /** Markdown STRUCTURAL completeness as a hash gate
    * ([[graft.ext.Html.toMarkdown]], r17 verdict ask #1): each doc is
    * a tutorial-shaped page exercising every structure q275's flat
    * fixture could not —
    *
    *   - an ORDERED list whose three items must number `1. 2. 3.`
    *     (position-aware within the list scope, not bullets);
    *   - a `<blockquote>` of two paragraphs → `> `-prefixed lines
    *     (the paragraph break folds to a quoted line break);
    *   - a NESTED list — an `<ol>` inside a `<ul>` item — whose inner
    *     items indent two spaces and number independently;
    *   - a linked image → the Markdown badge form
    *     `[![alt](src)](href)` (img renders before the anchor wraps);
    *
    * plus the q275 regressions (heading by rotated level, inline
    * marks, entity decode last). Oracle: the expected Markdown
    * restated with E'' escapes from the generator arithmetic.
    */
  def markdownStructGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(5)).cast("string")
    val lvlStr = (pmod(i, lit(3)) + 1).cast("int").cast("string")
    val html = concat(
      lit("<html><body><h"), lvlStr, lit(">Steps &amp; g"), g,
      lit("</h"), lvlStr, lit("><p>Intro text "), istr,
      lit("</p><ol><li>alpha "), istr,
      lit("</li><li>beta <b>bold"), g,
      lit("</b></li><li>gamma</li></ol>" +
        "<blockquote><p>quoted one "), istr,
      lit("</p><p>quoted two</p></blockquote>" +
        "<ul><li>outer a<ol><li>inner first "), istr,
      lit("</li><li>inner second</li></ol></li><li>outer b</li></ul>" +
        "<p><a href=\"/u/"), istr,
      lit("\"><img src=\"/img/"), istr,
      lit(".png\" alt=\"badge "), istr,
      lit("\"></a> done</p></body></html>"))
    tSpread(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** Table GRID reconstruction as a hash gate
    * ([[graft.ext.Html.extractTableGrids]], r17 verdict ask #2): each
    * doc carries a spec table whose source is RAGGED in all three
    * span ways — a `colspan=2` header cell (duplicates across two
    * columns), a `rowspan="2"` first data cell (re-occupies its
    * column in the next row, shifting that row's cells right), and a
    * one-cell last row (pads to the table's width) — plus an
    * entity-bearing cell and, every third doc, a second single-cell
    * table. The oracle restates the EXPANDED rectangle row by row
    * with the `<th>`-row header flag.
    */
  def tableGridGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(7)).cast("string")
    val second = when(pmod(i, lit(3)) === 0,
      concat(lit("<table><tr><td>extra "), g, lit("</td></tr></table>")))
      .otherwise(lit(""))
    val html = concat(
      lit("<table class=\"spec\"><tr><th colspan=2>Spec "), g,
      lit("</th><th>Unit</th></tr><tr><td rowspan=\"2\">widget "), istr,
      lit("</td><td>"), g,
      lit(" kg</td><td>a&amp;b</td></tr><tr><td>4</td><td>c</td></tr>" +
        "<tr><td>tail "), g, lit("</td></tr></table>"), second)
    tSpread(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.Html.extractTableGrids(html).as("tables"))
      .select(col("doc_id"),
        posexplode(col("tables")).as(Seq("table_idx", "tb")))
      .select(col("doc_id"), col("table_idx").cast("long").as("table_idx"),
        posexplode(arrays_zip(col("tb.grid"), col("tb.header")))
          .as(Seq("row_idx", "row")))
      .select(col("doc_id"), col("table_idx"),
        col("row_idx").cast("long").as("row_idx"),
        col("row.header").as("is_header"),
        concat_ws("|", col("row.grid")).as("cells"))
      .orderBy("doc_id", "table_idx", "row_idx")
  }

  /** WHATWG legacy no-semicolon entities as a hash gate
    * ([[graft.functions.HtmlEntityExpressions]] via
    * [[graft.ext.Html.decodeEntities]], r17 verdict ask #3): one
    * branch per scanner behavior —
    *
    *   - k=0/k=1: bare `&copy` / `&eacute` mid-prose decode;
    *   - k=2: the markup trio `&lt`/`&gt`/`&amp` bare;
    *   - k=3: the historic UPPERCASE forms (`&COPY &REG &AMP.`);
    *   - k=4: the guards — `&ampx` (alnum continuation), `&lt3`, and
    *     `?a=1&not=2` (the `=` guard) all stay VERBATIM;
    *   - k=5: legacy names at punctuation boundaries (`5&pound,`,
    *     `20&deg C`) decode while the double-escape `&amp;lt;` stays
    *     single-pass TEXT.
    *
    * Oracle: the decoded literals restated per branch.
    */
  def legacyEntityGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val k = pmod(i, lit(6))
    val branch = when(k === 0, lit("&copy 2024 Corp "))
      .when(k === 1, lit("caf&eacute r"))
      .when(k === 2, lit("x &lt y &gt z &amp w "))
      .when(k === 3, lit("&COPY &REG &AMP. "))
      .when(k === 4, lit("&ampx &lt3 ?a=1&not=2 "))
      .otherwise(lit("5&pound, 20&deg C &amp;lt; kept "))
    t(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.Html.decodeEntities(concat(branch, istr)).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Diacritic-folded fuzzy matching as a hash gate
    * ([[graft.ext.Dedup.editDistancePairs]] with `foldKeys`, the r17
    * verdict composition ask #4): four name variants per family —
    * precomposed `José Núñez`, its DECOMPOSED-byte twin, plain ASCII,
    * and a one-letter typo (`nunes`). Folding collapses the first
    * three onto ONE distinct key, so the pair table is exactly one
    * (typo, canonical) pair per family at distance 1 — without the
    * fold the diacritic variants are three distinct keys and the typo
    * pairs with none of them (accent bytes push every raw distance
    * past 1). Family ids repeat 3× so cross-family distances stay
    * ≥ 2 at every SF. Oracle: the folded pair per family restated.
    */
  def foldedFuzzyGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(4))
    // family count CAPPED at 50 regardless of SF: every name in this
    // fixture shares the long "jose nu…" substring, so its q-grams
    // are corpus-hot and the candidate join is inherently
    // Θ(#names²) — the honest shape for an all-near-identical corpus,
    // but not a cost the GATE should scale with the SF (50 families =
    // 100 distinct folded keys at every SF; fold semantics are fully
    // exercised). Real name corpora are gram-diverse; q92 prices the
    // operator on one.
    val fam = repeat(pmod(floor(i / 4), lit(50)).cast("string"), 3)
    val name = when(k === 0, concat(lit("Jos\u00e9 N\u00fa\u00f1ez "), fam))
      .when(k === 1, concat(lit("Jose\u0301 Nu\u0301n\u0303ez "), fam))
      .when(k === 2, concat(lit("jose nunez "), fam))
      .otherwise(concat(lit("jose nunes "), fam))
    graft.ext.Dedup.editDistancePairs(
        t(s, d, "documents").select(col("doc_id"), name.as("name")),
        "name", maxDist = 1, foldKeys = true)
      .orderBy("name_a", "name_b")
  }

  /** Diacritic-folded alias clustering as a hash gate
    * ([[graft.ext.Urls.aliasClusters]] with `foldKeys`, the r17
    * verdict composition ask #4): four pages per family — the
    * precomposed `/José` page, its DECOMPOSED-byte twin (no alias
    * edges at all: they unify purely by key folding), a stats page
    * 301-redirecting to `/JOSE` (case+fold edge), and an old page
    * declaring the stats page canonical (transitive hop). All four
    * must land in ONE cluster of size 4 with the folded-key minimum
    * as representative — byte-exact identity (the q255 contract)
    * would leave the two José variants as singletons. Oracle: the
    * cluster table restated from the family arithmetic.
    */
  def foldedAliasGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val m = pmod(i, lit(4))
    val f = floor(i / 4).cast("string")
    def fam(p: String) = concat(lit("http://fam"), f, lit(".com/" + p))
    val url = when(m === 0, fam("Jos\u00e9"))
      .when(m === 1, fam("Jose\u0301"))
      .when(m === 2, fam("stats"))
      .otherwise(fam("old"))
    val redirectTo = when(m === 2, fam("JOSE")).otherwise(lit(null).cast("string"))
    val canonHref = when(m === 3, fam("stats")).otherwise(lit(null).cast("string"))
    val pages = t(s, d, "documents")
      .select(col("doc_id"), url.as("url"), redirectTo.as("redirect_to"),
        canonHref.as("canonical_href"))
    graft.ext.Urls.aliasClusters(pages, "url",
        Seq("redirect_to", "canonical_href"), foldKeys = true)
      .select(col("doc_id"), col("url"), col("cluster_rep"),
        col("cluster_size").cast("long").as("cluster_size"))
      .orderBy("doc_id")
  }

  /** Fenced code blocks + thematic breaks as a hash gate
    * ([[graft.ext.Html.toMarkdown]] pre/hr support, r18 — closing the
    * "code FENCES are not emitted" scope line): each doc carries a
    * `<pre><code>` block whose body must survive BYTE-EXACT through
    * the whitespace collapse — an entity-escaped `&lt;` (decodes
    * exactly once), a doc-id-dependent identifier, a double-space
    * alignment run, a tab indent, and a BLANK line — plus an `<hr>`
    * between prose paragraphs. Oracle: the fenced Markdown restated
    * with E'' escapes (tab via chr(9)).
    */
  def markdownFenceGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val html = concat(
      lit("<html><body><p>intro "), istr,
      lit("</p><pre><code>if (a &lt; b"), istr,
      lit(") {\n\tsum  +=  1;\n\n\treturn sum;\n}</code></pre>" +
        "<hr><p>tail "), istr, lit("</p></body></html>"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** GFM table rendering as a hash gate
    * ([[graft.ext.Html.toMarkdown]] table support over
    * [[graft.ext.Html.extractTableGrids]]' span-expanded rectangle,
    * r18 — closing the "tables inside markdown drop to cell prose"
    * scope line): each doc's page carries a spec table with a `<th>`
    * header row (→ the `| --- |` separator line), a bold cell (inline
    * passes run first, so the cell reads `**…**`), an entity cell
    * (decodes ONCE, document-finally), a colspan=2 cell (duplicates
    * across columns), and a pipe-bearing cell (escapes as `\|`) —
    * between two prose paragraphs that must stay outside the table.
    * Oracle: the expected Markdown restated with E'' escapes.
    */
  def markdownTableGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(7)).cast("string")
    val html = concat(
      lit("<html><body><p>spec "), istr,
      lit("</p><table><tr><th>Part</th><th>Qty &amp; Unit</th></tr>" +
        "<tr><td><b>widget "), g,
      lit("</b></td><td>"), istr,
      lit(" kg</td></tr><tr><td colspan=2>size a|b</td></tr></table>" +
        "<p>done "), g, lit("</p></body></html>"))
    tSpread(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** Definition-list rendering as a hash gate
    * ([[graft.ext.Html.toMarkdown]] `<dl>` support, r18 — closing the
    * "definition lists are not rendered" scope line): each doc's
    * glossary carries a CLOSED `<dt>`/`<dd>` group with two
    * consecutive definitions (each gets its own `: ` line), a
    * CLOSE-LESS group (HTML makes `</dt>`/`</dd>` optional), an
    * entity in the first term (decodes document-finally) and a bold
    * mark in the second (inline passes run first), between two prose
    * paragraphs. Oracle: the Markdown-Extra form restated.
    */
  def markdownDlGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(5)).cast("string")
    val html = concat(
      lit("<html><body><p>glossary "), istr,
      lit("</p><dl><dt>Term &amp; g"), g,
      lit("</dt><dd>meaning "), istr,
      lit("</dd><dd>alt meaning</dd><dt>key <b>g"), g,
      lit("</b><dd>value "), istr,
      lit("</dl><p>end "), g, lit("</p></body></html>"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** thead/tfoot row-group reordering as a hash gate
    * ([[graft.ext.Html.extractTableGrids]] render-order support, r18 —
    * closing the "rows keep source order" scope line): even docs
    * carry the spec-legal STREAMING form — `<tfoot>` (the totals row)
    * written FIRST, then `<thead>`, then `<tbody>` — whose grid must
    * come out render-ordered (head, body, foot); odd docs carry
    * CLOSE-LESS sections in document order (each ends at the next
    * row-group open or the table end). Both shapes also exercise the
    * all-`<th>` header flag landing on row 0 after the reorder.
    * Oracle: the reordered grid restated row by row.
    */
  def tableSectionsGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(7)).cast("string")
    val html = when(pmod(i, lit(2)) === 0, concat(
        lit("<table><tfoot><tr><td>total "), istr,
        lit("</td></tr></tfoot><thead><tr><th>Col "), g,
        lit("</th></tr></thead><tbody><tr><td>a "), istr,
        lit("</td></tr><tr><td>b "), g, lit("</td></tr></tbody></table>")))
      .otherwise(concat(
        lit("<table><thead><tr><th>Col "), g,
        lit("</th></tr><tbody><tr><td>a "), istr,
        lit("</td></tr><tr><td>b "), g,
        lit("</td></tr><tfoot><tr><td>total "), istr,
        lit("</td></tr></table>")))
    tSpread(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.Html.extractTableGrids(html).as("tables"))
      .select(col("doc_id"),
        posexplode(col("tables")).as(Seq("table_idx", "tb")))
      .select(col("doc_id"), col("table_idx").cast("long").as("table_idx"),
        posexplode(arrays_zip(col("tb.grid"), col("tb.header")))
          .as(Seq("row_idx", "row")))
      .select(col("doc_id"), col("table_idx"),
        col("row_idx").cast("long").as("row_idx"),
        col("row.header").as("is_header"),
        concat_ws("|", col("row.grid")).as("cells"))
      .orderBy("doc_id", "table_idx", "row_idx")
  }

  /** Fence info strings as a hash gate ([[graft.ext.Html.toMarkdown]]
    * language-class harvest, r18 — closing the "fences carry no
    * language tag" scope line): k=0 the highlight.js `language-python`
    * convention on the inner `<code>`; k=1 the short `lang-sql` form
    * on the `<pre>` itself, UPPERCASE in source (folds); k=2 a
    * `clang-format` class that must NOT match (word boundary) — bare
    * fence; k=3 class-less — bare fence. Bodies stay byte-exact
    * through the collapse (the q284 contract). Oracle: the fenced
    * Markdown restated per branch.
    */
  def fenceLangGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val k = pmod(i, lit(4))
    val pre = when(k === 0, concat(
        lit("<pre><code class=\"language-python\">print("), istr,
        lit(")</code></pre>")))
      .when(k === 1, concat(
        lit("<pre class='lang-SQL'>SELECT "), istr, lit(";</pre>")))
      .when(k === 2, concat(
        lit("<pre class=\"clang-format\">fmt("), istr, lit(")</pre>")))
      .otherwise(concat(lit("<pre>raw "), istr, lit("</pre>")))
    val html = concat(lit("<html><body><p>snippet "), istr,
      lit("</p>"), pre, lit("<p>after "), istr, lit("</p></body></html>"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** Markdown corpus conversion as a composition capstone
    * (r18): the structure-PRESERVING sibling of q246's WET pipeline —
    * what a modern pretraining corpus build (the trafilatura-lineage
    * pipelines) emits instead of flat text. A RESPONSE archive
    * (gzipped members, [[graft.ext.Warc.buildWarcColumn]]) parses
    * through the production reader, each page renders to Markdown
    * ([[graft.ext.Html.toMarkdown]] — heading, list, GFM table with
    * separator, language-tagged fence all surviving), and the
    * Markdown re-archives as `conversion` records that parse BACK
    * byte-exactly — multibyte prose (`é`) crossing both archive hops.
    * Oracle: type, URI, the expected Markdown, and its UTF-8 octet
    * length restated per record.
    */
  def markdownCorpusGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(7)).cast("string")
    val html = concat(
      lit("<html><body><h1>Guide "), k,
      lit("</h1><ul><li>alpha "), i,
      lit("</li><li>beta</li></ul><table><tr><th>K</th></tr><tr><td>v "),
      col("j"),
      lit("</td></tr></table><pre><code class=\"language-py\">x = "), i,
      lit("</code></pre><p>prose text é "), i, lit("-"), col("j"),
      lit(".</p></body></html>"))
    val responses = tSpread(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), pmod(i, lit(2)))).as("j"))
      .select(col("doc_id"), col("j"), lit("response").as("wt"),
        concat(lit("http://md"), k, lit(".com/p/"), col("j")).as("uri"),
        concat(lit("<urn:uuid:resp-"), i, lit("-"), col("j"), lit(">"))
          .as("rid"),
        encode(html, "UTF-8").as("payload"))
    val responseArchive = graft.ext.Warc.buildWarcColumn(responses,
      "doc_id", "j", "wt", "uri", "rid", "payload", gzipped = true)
    val pages = graft.ext.Warc.parseWarcColumn(responseArchive,
      "doc_id", "warc_blob", gzipped = true)
    val mds = pages
      .withColumn("page_html", decode(col("payload"), "UTF-8"))
      .withColumn("md", graft.ext.Html.toMarkdown(col("page_html")))
      .select(col("doc_id"), col("rec_idx"), lit("conversion").as("wt"),
        col("target_uri").as("uri"),
        concat(lit("<urn:uuid:md-"), col("doc_id"), lit("-"),
          col("rec_idx"), lit(">")).as("rid"),
        encode(col("md"), "UTF-8").as("payload"))
    val mdArchive = graft.ext.Warc.buildWarcColumn(mds, "doc_id",
      "rec_idx", "wt", "uri", "rid", "payload", gzipped = true)
    graft.ext.Warc.parseWarcColumn(mdArchive, "doc_id", "warc_blob",
        gzipped = true)
      .select(col("doc_id"), col("rec_idx"), col("warc_type"),
        col("target_uri"), col("content_length"),
        decode(col("payload"), "UTF-8").as("md_text"))
      .withColumn("n_lines",
        size(split(col("md_text"), "\n", -1)).cast("long"))
      .orderBy("doc_id", "rec_idx")
  }

  /** Span-report verification as a hash gate
    * ([[graft.ext.TextAnalysis.verifyDupSpans]], r17 verdict ask #5):
    * the q272 family fixture's maximal spans re-checked against their
    * claim — "some OTHER doc contains this passage verbatim" — by
    * token-exact containment at a witnessed position. Every q272 span
    * is genuinely pair-shared (the host's touching windows each have
    * their partner, the pair passage its twin), so `witnessed` must
    * be TRUE on every row: a false anywhere means either the span
    * extension over-merged or the verification join broke. The
    * adversarial every-window-shared-no-whole-witness case (rate 1/3)
    * is spec-pinned (RetrievalSpec) — its fixture needs doc-count
    * shapes the SF tables don't guarantee. Oracle: the q272 span
    * table with `witnessed = TRUE` restated.
    */
  def spanVerifyGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val r = pmod(i, lit(4))
    val fstr = floor(i / 4).cast("string")
    val hstr = floor(i / 2).cast("string")
    val istr = i.cast("string")
    def uniq(tag: String, from: Int, to: Int) =
      concat_ws(" ", (from to to).map(k =>
        concat(lit("u"), istr, lit(s"$tag$k"))): _*)
    def fam(toks: String*) =
      concat_ws(" ", toks.map(tk => concat(lit("f"), fstr, lit(tk))): _*)
    val region1 = when(r === 0, concat_ws(" ",
        uniq("p", 1, 3), fam("a1", "a2", "a3", "a4", "b1"), uniq("q", 1, 4)))
      .when(r === 1, concat_ws(" ",
        uniq("p", 1, 4), fam("a1", "a2", "a3", "a4"), uniq("q", 1, 4)))
      .when(r === 2, concat_ws(" ",
        uniq("p", 1, 4), fam("a2", "a3", "a4", "b1"), uniq("q", 1, 4)))
      .otherwise(uniq("p", 1, 12))
    val region2 = concat_ws(" ", (1 to 12).map(k =>
      concat(lit("l"), hstr, lit(s"t$k"))): _*)
    val docs = t(s, d, "documents")
      .select(col("doc_id"), concat_ws(" ", region1, region2).as("text"))
    val spans = graft.ext.TextAnalysis.maximalDupSpans(docs, "doc_id", "text", 4)
    graft.ext.TextAnalysis.verifyDupSpans(docs, "doc_id", "text", 4,
        spans, sampleK = 1 << 20)
      .select(col("doc_id"), col("start_pos"), col("span_len"),
        col("span_text"), col("witnessed"))
      .orderBy("doc_id", "start_pos")
  }

  /** Row-group rowspan CLIP as a hash gate
    * ([[graft.ext.Html.extractTableGrids]], r18 second wave — closing
    * the "a rowspan pending at a group boundary keeps filling"
    * simplification): table 0 carries a tbody cell with `rowspan=9` —
    * far past its two-row group — whose fill must STOP at the tbody
    * end (the tfoot row lays out from column 0, un-shifted and
    * un-filled; before the clip it arrived shifted right with the
    * span text prefilled). Every second doc adds a `rowspan=0` table:
    * the HTML "to the end of the row GROUP" form, filling the rest of
    * its tbody and leaving the tfoot row to pad. Oracle: the clipped
    * rectangles restated.
    */
  def rowgroupClipGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(7)).cast("string")
    val second = when(pmod(i, lit(2)) === 0, concat(
        lit("<table><tbody><tr><td rowspan=0>z "), g,
        lit("</td><td>a</td></tr><tr><td>b "), istr,
        lit("</td></tr></tbody><tfoot><tr><td>f</td></tr></tfoot></table>")))
      .otherwise(lit(""))
    val html = concat(
      lit("<table><thead><tr><th>Item "), g,
      lit("</th><th>Q</th></tr></thead><tbody><tr><td rowspan=9>grp "), istr,
      lit("</td><td>a "), istr,
      lit("</td></tr><tr><td>b</td></tr></tbody><tfoot><tr><td>tot "), istr,
      lit("</td><td>"), g, lit("</td></tr></tfoot></table>"), second)
    tSpread(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.Html.extractTableGrids(html).as("tables"))
      .select(col("doc_id"),
        posexplode(col("tables")).as(Seq("table_idx", "tb")))
      .select(col("doc_id"), col("table_idx").cast("long").as("table_idx"),
        posexplode(arrays_zip(col("tb.grid"), col("tb.header")))
          .as(Seq("row_idx", "row")))
      .select(col("doc_id"), col("table_idx"),
        col("row_idx").cast("long").as("row_idx"),
        col("row.header").as("is_header"),
        concat_ws("|", col("row.grid")).as("cells"))
      .orderBy("doc_id", "table_idx", "row_idx")
  }

  /** Markdown inline extensions as a hash gate
    * ([[graft.ext.Html.toMarkdown]], r18 second wave — the fresh-eyes
    * closures): one page per doc exercising all four —
    *
    *   - `<del>`/`<s>` → GFM `~~` strikethrough;
    *   - a `<caption>`-bearing table: the caption renders as a plain
    *     paragraph above the rows (its text used to VANISH with the
    *     tag strip), entity decoding document-final;
    *   - a code span whose body carries a backtick → the CommonMark
    *     longer-delimiter + space-padding form `` `` a ` b `` ``;
    *   - a `<pre>` body containing a ``` run → the fence escalates to
    *     four backticks (a body line opening with the fence string
    *     would close it early).
    *
    * Oracle: the expected Markdown restated per block.
    */
  def markdownInlineGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(5)).cast("string")
    val html = concat(
      lit("<html><body><p>old <del>gone "), istr,
      lit("</del> and <s>skip "), g,
      lit("</s></p><table><caption>Spec &amp; g"), g,
      lit("</caption><tr><th>h</th></tr><tr><td>v "), istr,
      lit("</td></tr></table><p>use <code>a ` b"), istr,
      lit("</code></p><pre>x\n```\ny "), g,
      lit("</pre></body></html>"))
    tSpread(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** `<ol start>` numbering as a hash gate ([[graft.ext.Html
    * .toMarkdown]], r18 third wave): the interrupted-list page shape —
    * a first `<ol>` (1. 2.), prose, then `<ol start="3">` RESUMING at
    * 3. 4. (docs/tutorial pages split numbered steps around prose
    * constantly; before this the second list restarted at 1 and the
    * numbering signal lied). A nested `<ol start=5>` inside a `<ul>`
    * item numbers 5. 6. through the indent passes, and a
    * `data-start=9` decoy list stays 1. (whitespace-preceded
    * attribute rule). Oracle: the resumed numbering restated.
    */
  def olStartGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(5)).cast("string")
    val html = concat(
      lit("<html><body><ol><li>step one "), istr,
      lit("</li><li>step two</li></ol><p>note "), g,
      lit("</p><ol start=\"3\"><li>step three "), istr,
      lit("</li><li>step four</li></ol>" +
        "<ul><li>outer<ol start=5><li>inner "), g,
      lit("</li><li>last</li></ol></li></ul>" +
        "<ol data-start=9><li>decoy "), istr,
      lit("</li></ol></body></html>"))
    tSpread(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** Main-content Markdown as a hash gate
    * ([[graft.ext.Html.toMainMarkdown]], r18 third wave): the full
    * page shape — `<head>` with an SEO title (whose text LEAKS
    * through a tag-only strip), nav links, a site-banner `<header>`,
    * the real content (heading, prose, ordered list, GFM table), an
    * `<aside>` promo, a `<form>`, a `<footer>` — reduced to the main
    * content's Markdown only. The chrome text (title, menu, banner,
    * promo, copyright) must appear NOWHERE in any output row at any
    * SF. Oracle: the main-content Markdown restated.
    */
  def mainMarkdownGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(5)).cast("string")
    val html = concat(
      lit("<html><head><title>SEO "), istr,
      lit(" | Site</title><meta name=d content=x></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/p/"), istr,
      lit("\">More</a></nav><header><h1>Banner "), g,
      lit("</h1></header><h1>Guide "), g,
      lit("</h1><p>Intro "), istr,
      lit(".</p><ol><li>one "), istr,
      lit("</li><li>two</li></ol><table><tr><th>K</th></tr><tr><td>v "), g,
      lit("</td></tr></table><aside>Promo "), istr,
      lit("</aside><form><input name=q><button>Go</button></form>" +
        "<footer>&copy; 2024 Site</footer></body></html>"))
    tSpread(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMainMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** Compression-ratio quality signal as a banded invariant gate
    * ([[graft.functions.CompressionExpressions]], r18 third wave —
    * the FineWeb/DataTrove-lineage "gzip ratio" filter): three text
    * classes per doc family — pure repetition (boilerplate shape),
    * half-repetition half-hex (mixed page), pure md5-hex chains
    * (encoded-blob shape). DEFLATE bytes are deterministic for a
    * given zlib but not contractual across versions, so the gate
    * bands the per-mille ratio (measured centers ≈40 / ≈215 / ≈560,
    * bands ≤120 / (120,400] / >400 — wide margins) and hashes the
    * CLASS VERDICT plus the exact byte length; the oracle restates
    * both from the fixture arithmetic, never from engine output.
    */
  def compressRatioGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val k = pmod(i, lit(3))
    val base = "corpus quality signal "
    def md5chain(n: Int) = concat((0 until n).map(j =>
      md5(concat(istr, lit(('a' + j).toChar.toString)))): _*)
    val text = when(k === 0, concat(lit(base * 40), istr))
      .when(k === 1, concat(lit(base * 20), md5chain(4), istr))
      .otherwise(concat(md5chain(16), istr))
    t(s, d, "documents")
      .select(col("doc_id"), k.as("k"), text.as("text"))
      .select(col("doc_id"), col("k"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.CompressionExpressions
          .deflateRatioMilli(col("text")).as("r"))
      .select(col("doc_id"), col("k"), col("n_bytes"),
        when(col("k") === 0, col("r") <= 120)
          .when(col("k") === 1, col("r") > 120 && col("r") <= 400)
          .otherwise(col("r") > 400).as("in_band"))
      .orderBy("doc_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(
    // q278: the expected Markdown restated with E'' escapes — ol
    // numbers, quoted lines, the two-space nested indent, the badge.
    Gate("q278_markdown_struct", Family.Crawl, markdownStructGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS lvl,
        |    CAST(doc_id % 5 AS VARCHAR) AS g, CAST(doc_id AS VARCHAR) AS s
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    repeat('#', lvl) || ' Steps & g' || g || E'\n\n'
        |      || 'Intro text ' || s || E'\n\n'
        |      || '1. alpha ' || s || E'\n'
        |      || '2. beta **bold' || g || '**' || E'\n'
        |      || '3. gamma' || E'\n\n'
        |      || '> quoted one ' || s || E'\n' || '> quoted two' || E'\n\n'
        |      || '- outer a' || E'\n'
        |      || '  1. inner first ' || s || E'\n'
        |      || '  2. inner second' || E'\n' || '- outer b' || E'\n\n'
        |      || '[![badge ' || s || '](/img/' || s || '.png)](/u/' || s
        |      || ') done' AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q279: the expanded rectangle restated — the colspan duplicate,
    // the rowspan re-occupation shifting row 2, the padded tail row,
    // and the every-third-doc second table.
    Gate("q279_table_grid", Family.Crawl, tableGridGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS g,
        |    CAST(doc_id AS VARCHAR) AS s, doc_id % 3 = 0 AS extra
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 0 AS table_idx, 0 AS row_idx, TRUE AS is_header,
        |    'Spec ' || g || '|Spec ' || g || '|Unit' AS cells FROM b
        |  UNION ALL
        |  SELECT doc_id, 0, 1, FALSE,
        |    'widget ' || s || '|' || g || ' kg|a&b' FROM b
        |  UNION ALL
        |  SELECT doc_id, 0, 2, FALSE, 'widget ' || s || '|4|c' FROM b
        |  UNION ALL
        |  SELECT doc_id, 0, 3, FALSE, 'tail ' || g || '||' FROM b
        |  UNION ALL
        |  SELECT doc_id, 1, 0, FALSE, 'extra ' || g FROM b WHERE extra)
        |SELECT doc_id, CAST(table_idx AS BIGINT) AS table_idx,
        |  CAST(row_idx AS BIGINT) AS row_idx, is_header, cells
        |FROM r ORDER BY doc_id, table_idx, row_idx""".stripMargin),

    // q280: decoded literals per branch — ©/é/</>/&/£/° where legacy
    // decode applies, verbatim where the alnum/= guards block it, and
    // the double-escape staying single-pass TEXT.
    Gate("q280_legacy_entities", Family.Crawl, legacyEntityGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 6 AS k,
        |    CAST(doc_id AS VARCHAR) AS s
        |  FROM documents),
        |e AS (SELECT doc_id,
        |  CASE WHEN k = 0 THEN '© 2024 Corp ' || s
        |       WHEN k = 1 THEN 'café r' || s
        |       WHEN k = 2 THEN 'x < y > z & w ' || s
        |       WHEN k = 3 THEN '© ® &. ' || s
        |       WHEN k = 4 THEN '&ampx &lt3 ?a=1&not=2 ' || s
        |       ELSE '5£, 20° C &lt; kept ' || s END AS text
        |  FROM b)
        |SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
        |FROM e ORDER BY doc_id""".stripMargin),

    // q281: one folded pair per family at distance 1 — the three
    // diacritic variants collapse onto the canonical key.
    Gate("q281_folded_fuzzy", Family.Dedup, foldedFuzzyGate, _ =>
      """WITH f AS (SELECT DISTINCT
        |    repeat(CAST((doc_id // 4) % 50 AS VARCHAR), 3) AS fam
        |  FROM documents)
        |SELECT 'jose nunes ' || fam AS name_a,
        |  'jose nunez ' || fam AS name_b, CAST(1 AS INT) AS dist
        |FROM f ORDER BY name_a, name_b""".stripMargin),

    // q282: one cluster of 4 per family, representative = the folded
    // minimum key; original urls (precomposed AND decomposed bytes)
    // survive in the output.
    Gate("q282_folded_aliases", Family.Crawl, foldedAliasGate, _ =>
      ("""WITH b AS (SELECT doc_id, doc_id % 4 AS m,
        |    CAST(doc_id // 4 AS VARCHAR) AS f
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN m = 0 THEN 'http://fam' || f || '.com/Jos""".stripMargin +
        "\u00e9' " + """
        |       WHEN m = 1 THEN 'http://fam' || f || '.com/Jose""".stripMargin +
        "\u0301' " + """
        |       WHEN m = 2 THEN 'http://fam' || f || '.com/stats'
        |       ELSE 'http://fam' || f || '.com/old' END AS url,
        |  'http://fam' || f || '.com/jose' AS cluster_rep,
        |  CAST(4 AS BIGINT) AS cluster_size
        |FROM b ORDER BY doc_id""".stripMargin)),

    // q284: the fenced Markdown restated — the pre body byte-exact
    // (tab via chr(9), double spaces literal, blank line kept, &lt;
    // decoded once), the hr as ---.
    Gate("q284_markdown_fences", Family.Crawl, markdownFenceGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    'intro ' || s || E'\n\n' || '```' || E'\n'
        |      || 'if (a < b' || s || ') {' || E'\n'
        |      || chr(9) || 'sum  +=  1;' || E'\n\n'
        |      || chr(9) || 'return sum;' || E'\n' || '}' || E'\n'
        |      || '```' || E'\n\n' || '---' || E'\n\n'
        |      || 'tail ' || s AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q285: the GFM table restated — header + separator + data rows,
    // bold cell kept inline, entity decoded once, colspan duplicated,
    // pipe escaped.
    Gate("q285_markdown_tables", Family.Crawl, markdownTableGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    CAST(doc_id % 7 AS VARCHAR) AS g
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    'spec ' || s || E'\n\n'
        |      || '| Part | Qty & Unit |' || E'\n'
        |      || '| --- | --- |' || E'\n'
        |      || '| **widget ' || g || '** | ' || s || ' kg |' || E'\n'
        |      || '| size a\|b | size a\|b |' || E'\n\n'
        |      || 'done ' || g AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q286: the Markdown-Extra definition list restated — term lines,
    // ': ' definition lines, blank line between term groups, entity
    // decoded, bold kept inline.
    Gate("q286_markdown_dl", Family.Crawl, markdownDlGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    'glossary ' || s || E'\n\n'
        |      || 'Term & g' || g || E'\n'
        |      || ': meaning ' || s || E'\n'
        |      || ': alt meaning' || E'\n\n'
        |      || 'key **g' || g || '**' || E'\n'
        |      || ': value ' || s || E'\n\n'
        |      || 'end ' || g AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q287: the render-ordered grid restated — head row (header flag),
    // body rows, tfoot LAST; both source shapes (streaming tfoot-first
    // and close-less in-order) produce the SAME rectangle.
    Gate("q287_table_sections", Family.Crawl, tableSectionsGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    CAST(doc_id % 7 AS VARCHAR) AS g
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 0 AS row_idx, TRUE AS is_header,
        |    'Col ' || g AS cells FROM b
        |  UNION ALL SELECT doc_id, 1, FALSE, 'a ' || s FROM b
        |  UNION ALL SELECT doc_id, 2, FALSE, 'b ' || g FROM b
        |  UNION ALL SELECT doc_id, 3, FALSE, 'total ' || s FROM b)
        |SELECT doc_id, CAST(0 AS BIGINT) AS table_idx,
        |  CAST(row_idx AS BIGINT) AS row_idx, is_header, cells
        |FROM r ORDER BY doc_id, table_idx, row_idx""".stripMargin),

    // q288: fence info strings per branch — language-python on the
    // inner code, lang-SQL folded on the pre, clang-format NOT a
    // match, class-less bare.
    Gate("q288_fence_lang", Family.Crawl, fenceLangGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 4 AS k,
        |    CAST(doc_id AS VARCHAR) AS s
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    'snippet ' || s || E'\n\n'
        |      || CASE WHEN k = 0 THEN '```python' || E'\n' || 'print(' || s || ')'
        |              WHEN k = 1 THEN '```sql' || E'\n' || 'SELECT ' || s || ';'
        |              WHEN k = 2 THEN '```' || E'\n' || 'fmt(' || s || ')'
        |              ELSE '```' || E'\n' || 'raw ' || s END
        |      || E'\n' || '```' || E'\n\n' || 'after ' || s AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q289: the conversion records restated — expected Markdown per
    // (doc, record), its UTF-8 octet length (é is 2 bytes) as
    // content_length, the structure (heading, bullets, GFM table,
    // tagged fence) surviving both archive hops.
    Gate("q289_markdown_corpus", Family.Crawl, markdownCorpusGate, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k
        |    FROM documents),
        |js AS (SELECT 0 AS j UNION ALL SELECT 1),
        |r AS (SELECT i, k, j,
        |    '# Guide ' || k || E'\n\n'
        |      || '- alpha ' || i || E'\n' || '- beta' || E'\n\n'
        |      || '| K |' || E'\n' || '| --- |' || E'\n'
        |      || '| v ' || j || ' |' || E'\n\n'
        |      || '```py' || E'\n' || 'x = ' || i || E'\n' || '```' || E'\n\n'
        |      || 'prose text é ' || i || '-' || j || '.' AS md
        |  FROM d, js WHERE j <= i % 2)
        |SELECT i AS doc_id, j AS rec_idx, 'conversion' AS warc_type,
        |  'http://md' || k || '.com/p/' || j AS target_uri,
        |  octet_length(encode(md)) AS content_length,
        |  md AS md_text,
        |  CAST(length(md) - length(replace(md, E'\n', '')) + 1 AS BIGINT)
        |    AS n_lines
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // q290: the clipped rectangles restated — the tbody rowspan stops
    // at its group end (tfoot un-shifted, un-filled), rowspan=0 fills
    // to the group end only, the single-cell tfoot row pads.
    Gate("q290_rowgroup_clip", Family.Crawl, rowgroupClipGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    CAST(doc_id % 7 AS VARCHAR) AS g, doc_id % 2 = 0 AS extra
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 0 AS table_idx, 0 AS row_idx, TRUE AS is_header,
        |    'Item ' || g || '|Q' AS cells FROM b
        |  UNION ALL SELECT doc_id, 0, 1, FALSE, 'grp ' || s || '|a ' || s
        |    FROM b
        |  UNION ALL SELECT doc_id, 0, 2, FALSE, 'grp ' || s || '|b' FROM b
        |  UNION ALL SELECT doc_id, 0, 3, FALSE, 'tot ' || s || '|' || g
        |    FROM b
        |  UNION ALL SELECT doc_id, 1, 0, FALSE, 'z ' || g || '|a' FROM b
        |    WHERE extra
        |  UNION ALL SELECT doc_id, 1, 1, FALSE, 'z ' || g || '|b ' || s
        |    FROM b WHERE extra
        |  UNION ALL SELECT doc_id, 1, 2, FALSE, 'f|' FROM b WHERE extra)
        |SELECT doc_id, CAST(table_idx AS BIGINT) AS table_idx,
        |  CAST(row_idx AS BIGINT) AS row_idx, is_header, cells
        |FROM r ORDER BY doc_id, table_idx, row_idx""".stripMargin),

    // q291: the expected Markdown restated per block — strikethrough,
    // the caption paragraph, the padded code span, the escalated
    // 4-backtick fence around a ``` body line.
    Gate("q291_markdown_inline", Family.Crawl, markdownInlineGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    'old ~~gone ' || s || '~~ and ~~skip ' || g || '~~' || E'\n\n'
        |      || 'Spec & g' || g || E'\n\n'
        |      || '| h |' || E'\n' || '| --- |' || E'\n'
        |      || '| v ' || s || ' |' || E'\n\n'
        |      || 'use `` a ` b' || s || ' ``' || E'\n\n'
        |      || '````' || E'\n' || 'x' || E'\n' || '```' || E'\n'
        |      || 'y ' || g || E'\n' || '````' AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q292: the resumed numbering restated — 1. 2. / 3. 4. around the
    // prose break, the nested start=5 list indented, the data-start
    // decoy back at 1.
    Gate("q292_ol_start", Family.Crawl, olStartGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    '1. step one ' || s || E'\n' || '2. step two' || E'\n\n'
        |      || 'note ' || g || E'\n\n'
        |      || '3. step three ' || s || E'\n' || '4. step four' || E'\n\n'
        |      || '- outer' || E'\n'
        |      || '  5. inner ' || g || E'\n' || '  6. last' || E'\n\n'
        |      || '1. decoy ' || s AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q293: the main-content Markdown restated — heading, prose,
    // numbered list, GFM table; every chrome string (SEO title, menu,
    // banner, promo, copyright) absent.
    Gate("q293_main_markdown", Family.Crawl, mainMarkdownGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    '# Guide ' || g || E'\n\n'
        |      || 'Intro ' || s || '.' || E'\n\n'
        |      || '1. one ' || s || E'\n' || '2. two' || E'\n\n'
        |      || '| K |' || E'\n' || '| --- |' || E'\n'
        |      || '| v ' || g || ' |' AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q294: class, byte length (ASCII fixtures: octet = char length;
    // md5 hex is 32 chars per link), and the band verdict TRUE.
    Gate("q294_compress_ratio", Family.Lm, compressRatioGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 3 AS k,
        |    CAST(doc_id AS VARCHAR) AS s
        |  FROM documents)
        |SELECT doc_id, k,
        |  CAST(CASE WHEN k = 0 THEN 880 + length(s)
        |            WHEN k = 1 THEN 568 + length(s)
        |            ELSE 512 + length(s) END AS BIGINT) AS n_bytes,
        |  TRUE AS in_band
        |FROM b ORDER BY doc_id""".stripMargin),

    // q283: the q272 span table with witnessed = TRUE — every span in
    // the family fixture has a verbatim witness doc.
    Gate("q283_span_verify", Family.Lm, spanVerifyGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 4 AS r,
        |    CAST(doc_id // 4 AS VARCHAR) AS f,
        |    CAST(doc_id // 2 AS VARCHAR) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, 4 AS start_pos, 4 AS span_len,
        |    'f'||f||'a1 f'||f||'a2 f'||f||'a3 f'||f||'a4' AS span_text
        |  FROM b WHERE r = 0
        |  UNION ALL
        |  SELECT doc_id, 5, 4,
        |    CASE WHEN r = 1
        |      THEN 'f'||f||'a1 f'||f||'a2 f'||f||'a3 f'||f||'a4'
        |      ELSE 'f'||f||'a2 f'||f||'a3 f'||f||'a4 f'||f||'b1' END
        |  FROM b WHERE r IN (0, 1, 2)
        |  UNION ALL
        |  SELECT doc_id, 13, 12,
        |    'l'||h||'t1 l'||h||'t2 l'||h||'t3 l'||h||'t4 l'||h||'t5 l'
        |      ||h||'t6 l'||h||'t7 l'||h||'t8 l'||h||'t9 l'||h||'t10 l'
        |      ||h||'t11 l'||h||'t12'
        |  FROM b)
        |SELECT doc_id, CAST(start_pos AS BIGINT) AS start_pos,
        |  CAST(span_len AS BIGINT) AS span_len, span_text,
        |  TRUE AS witnessed
        |FROM s ORDER BY doc_id, start_pos""".stripMargin))
}
