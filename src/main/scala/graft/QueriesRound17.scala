package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 wave. Each query sits next to its `Gate` entry and
  * DuckDB oracle.
  */
private[graft] trait PipelinesRound17 extends PipelinesBase {

  /** Full HTML character-reference decoding as a hash gate
    * ([[graft.functions.HtmlEntityExpressions.HtmlEntityDecode]]
    * through [[graft.ext.Html.extractText]] / `extractMainText` /
    * `extractTitle` — r16 verdict ask #1): per doc a page whose
    * visible text exercises one decode branch each —
    *
    *   - k=0: numeric DECIMAL (`&#233;` → é);
    *   - k=1: numeric HEX (`&#x2019;` → ’);
    *   - k=2: NAMED references beyond the old 6-entity set
    *     (`&eacute;`, `&mdash;`);
    *   - k=3: the WHATWG windows-1252 remap (`&#146;` → ’, `&#128;`
    *     → €) — the C1 range real CMSes emit;
    *   - k=4: DOUBLE-ESCAPED text (`&amp;lt;` is the TEXT `&lt;`,
    *     single-pass, never re-decoded into markup);
    *   - k=5: quarantine/degradation — a surrogate reference decodes
    *     to U+FFFD, unknown names (`&foo;`), unterminated references
    *     (`AT&T;`) and bare URL ampersands (`a=1&b=2`) stay verbatim.
    *
    * The page also carries the composition hazards: an entity inside
    * a `<script>` body (dies WITH the body, never decoded), `&nbsp;`
    * in the title (decodes to U+00A0, folded by the Unicode
    * whitespace collapse), a link-saturated nav and a short tail that
    * `extractMainText`'s density rules must kill while KEEPING the
    * entity-bearing paragraph (the q228 re-verification, on fixtures
    * q228 never had). Oracle: the generator arithmetic replayed with
    * the decoded characters as literals.
    */
  def entityDecode(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(6))
    val istr = i.cast("string")
    val branch = when(k === 0, lit("caf&#233; au lait"))
      .when(k === 1, lit("it&#x2019;s fine"))
      .when(k === 2, lit("r&eacute;sum&eacute; &mdash; done"))
      .when(k === 3, lit("quote &#146; euro &#128;"))
      .when(k === 4, lit("x &amp;lt; y &amp;amp; z"))
      .otherwise(lit("bad &#xD800; &foo; AT&T; a=1&b=2"))
    val html = concat(
      lit("<html><head><title>T&nbsp;"), istr,
      lit("</title></head><body>" +
        "<div><a href=\"/a\">Home</a> <a href=\"/b\">About</a></div>" +
        "<script>var a = '&#233;';</script><p>"),
      branch, lit(" g"), istr,
      lit(" paragraph body text long enough to keep.</p>" +
        "<div>tail&hellip; short</div></body></html>"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.extractText(col("html")).as("text"),
        graft.ext.Html.extractMainText(col("html")).as("main_text"),
        graft.ext.Html.extractTitle(col("html")).as("title"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Longest-match substring dedup as a hash gate
    * ([[graft.ext.TextAnalysis.maximalDupSpans]], r16 verdict ask #2):
    * every doc is 24 synthetic tokens — a role-dependent first region
    * and a 12-token passage shared with its pair partner — so the
    * gate covers every extension behavior at once (n = 4):
    *
    *   - the m ≫ n case: the 12-token pair passage (positions 13-24)
    *     reports as ONE span (13, 12) with exact boundaries — nine
    *     seed windows and eight chain links collapse, no fringe;
    *   - the TOUCHING-but-unchained case: the role-0 host carries
    *     `a1 a2 a3 a4 b1` where `a1..a4` is shared with role 1 and
    *     `a2..b1` with role 2 — two ADJACENT dup windows whose
    *     spanning 5-gram exists nowhere else, so they must report as
    *     TWO spans (4,4) and (5,4), not merge;
    *   - the exactly-n case: roles 1/2 report their single shared
    *     window as a lone (5,4) span;
    *   - role 3 shares nothing in region one — only the pair passage.
    *
    * Each row also carries the [[graft.ext.TextAnalysis.scrubDupSpans]]
    * `n_removed` for its doc, proving the REWRITE excises exactly the
    * window union (role 0: 5+12, roles 1/2: 4+12, role 3: 12) — the
    * no-fringe-tokens check. Oracle: the span table and removal
    * counts restated from the family arithmetic (doc counts at every
    * driver SF are multiples of 4).
    */
  def maximalSpanGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val r = pmod(i, lit(4))
    val fstr = floor(i / 4).cast("string")
    val hstr = floor(i / 2).cast("string")
    val istr = i.cast("string")
    def uniq(tag: String, from: Int, to: Int): Column =
      concat_ws(" ", (from to to).map(k =>
        concat(lit("u"), istr, lit(s"$tag$k"))): _*)
    def fam(toks: String*): Column =
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
    val scrub = graft.ext.TextAnalysis.scrubDupSpans(docs, "doc_id", "text", 4)
      .select(col("doc_id"), col("n_removed"))
    spans.join(scrub, Seq("doc_id"))
      .select(col("doc_id"), col("start_pos"), col("span_len"),
        col("span_text"), col("n_removed"))
      .orderBy("doc_id", "start_pos")
  }

  /** The q252 two-snapshot capture stream (shared fixture arithmetic:
    * mirror docs and every-third docs are STABLE, the rest change per
    * crawl), reduced to per-URL change flags by digest comparison.
    */
  private def changeHistory(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val url = concat(lit("http://rv"), pmod(i, lit(10)).cast("string"),
      lit(".com/p/"), i.cast("string"))
    val payload = when(pmod(i, lit(10)) === 1, lit("mirror page body"))
      .when(pmod(i, lit(3)) === 0,
        concat(lit("stable content "), i.cast("string")))
      .otherwise(concat(lit("content "), i.cast("string"),
        lit(" crawl "), col("crawl").cast("string")))
    t(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(1), lit(2))).as("crawl"))
      .select(col("doc_id"), url.as("url"), payload.as("payload"))
      .groupBy(col("doc_id"), col("url"))
      .agg((countDistinct(md5(col("payload"))) > 1).as("changed"))
  }

  /** Per-URL recrawl ordering as a hash gate
    * ([[graft.ext.Recrawl.rankByChangeRate]], r16 verdict ask #5):
    * the q258 host rollup ranks ~10 hosts through one window — fine
    * there, a ceiling at per-URL cardinality. This gate ranks EVERY
    * URL of the q252 change history by (change_ppm desc, url) through
    * the GlobalIndex gear (range exchange + per-partition offset
    * numbering — no single-partition window anywhere in the plan),
    * and the oracle pins the identical total order with DuckDB's
    * row_number, which at gate scale is exactly the rank (unique sort
    * pairs).
    */
  def recrawlOrderGate(s: SparkSession, d: String): DataFrame = {
    val perUrl = changeHistory(s, d)
      .select(col("url"), col("changed").cast("long").as("changed"))
      .withColumn("change_ppm", (col("changed") * 1000000L).cast("long"))
    // release handle dropped deliberately: the gate materializes once
    // (the q108 curriculumSchedule precedent)
    val (ranked, _) = graft.ext.Recrawl.rankByChangeRate(
      perUrl, "url", "change_ppm")
    ranked.select(col("url"), col("changed"), col("change_ppm"),
        col("recrawl_rank"))
      .orderBy("url")
  }

  /** Conditional-GET decision composition as a hash gate
    * ([[graft.ext.Recrawl.conditionalFetchDecision]], r16 verdict ask
    * #6): the three crawl-stack signals joined per frontier URL —
    *
    *   - CHANGE HISTORY: the q252/q258 digest comparison (mirror and
    *     every-third docs stable, the rest volatile);
    *   - STORED VALIDATORS: each URL's latest stored response parsed
    *     with the production [[graft.ext.Http.headerOf]] — branches
    *     carry an ETag, a Last-Modified, both, or neither;
    *   - FETCH POLICY: one robots.txt RESPONSE per host (status 200
    *     with a /p disallow, 200 with an irrelevant disallow, 404,
    *     500, 301, 200 empty) through the q268
    *     [[graft.ext.RobotsTxt.accessPolicy]] path, broadcast-joined
    *     back on host.
    *
    * Decision table pinned: robots-denied AND robots-unresolved (the
    * 301 host — fail-closed) → skip; volatile → fetch; stable with a
    * validator → conditional; stable without → fetch. Oracle restates
    * the table from the branch arithmetic.
    */
  def conditionalFetchGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val v = pmod(i, lit(4))
    val lm = "Last-Modified: Tue, 02 Jan 2024 03:04:05 GMT"
    val stored = when(v === 0, concat(
        lit("HTTP/1.1 200 OK\r\nETag: \"e"), istr, lit("\"\r\n\r\nbody")))
      .when(v === 1, lit(s"HTTP/1.1 200 OK\r\n$lm\r\n\r\nbody"))
      .when(v === 2, concat(lit("HTTP/1.1 200 OK\r\nETag: W/\"w"), istr,
        lit(s"\"\r\n$lm\r\n\r\nbody")))
      .otherwise(lit("HTTP/1.1 200 OK\r\n\r\nbody"))
    val withVal = changeHistory(s, d)
      .withColumn("host", graft.ext.Urls.hostOf(col("url")))
      .withColumn("_stored", stored)
      .withColumn("has_validators",
        graft.ext.Http.headerOf(col("_stored"), "ETag") =!= "" ||
          graft.ext.Http.headerOf(col("_stored"), "Last-Modified") =!= "")
    val hg = col("_hg")
    val robotsPayload = when(hg === 0,
        lit("HTTP/1.1 200 OK\r\n\r\nUser-agent: *\nDisallow: /p\n"))
      .when(hg === 2, lit("HTTP/1.1 404 Not Found\r\n\r\ngone"))
      .when(hg === 3, lit("HTTP/1.1 500 Internal Server Error\r\n\r\noops"))
      .when(hg === 4,
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: /r.txt\r\n\r\n"))
      .otherwise(
        lit("HTTP/1.1 200 OK\r\n\r\nUser-agent: *\nDisallow: /private\n"))
    val robots = t(s, d, "documents")
      .select(pmod(col("doc_id"), lit(10)).as("_hg")).distinct()
      .select(concat(lit("rv"), hg.cast("string"), lit(".com")).as("host"),
        robotsPayload.as("_rp"))
      .withColumn("_status", graft.ext.Http.statusOf(col("_rp")))
      .withColumn("_policy", graft.ext.RobotsTxt.accessPolicy(col("_status")))
      .withColumn("_rules", graft.ext.RobotsTxt.parsePolicy(
        coalesce(graft.ext.Http.bodyOf(col("_rp")), lit("")))
        .getField("rules"))
    val joined = withVal.join(broadcast(robots), Seq("host"))
    val path = concat(lit("/p/"), col("doc_id").cast("string"))
    val denied = exists(col("_rules"), r =>
      r.getField("allow") === 0 && path.startsWith(r.getField("prefix")))
    val allowed = when(col("_policy") === "apply_rules", !denied)
      .when(col("_policy") === "allow_all", lit(true))
      .when(col("_policy") === "disallow_all", lit(false))
      .otherwise(lit(null).cast("boolean"))
    joined
      .withColumn("allowed", allowed)
      .withColumn("decision", graft.ext.Recrawl.conditionalFetchDecision(
        col("allowed"), col("changed"), col("has_validators")))
      .select(col("doc_id"), col("url"), col("changed"),
        col("has_validators"), col("allowed"), col("decision"))
      .orderBy("doc_id")
  }

  /** HTML → Markdown conversion as a hash gate
    * ([[graft.ext.Html.toMarkdown]]): per doc a real page whose
    * structure must SURVIVE extraction — a heading at a
    * doc_id-rotated level (#/##/###), a paragraph with bold/italic
    * inline marks, a list whose second item carries emphasis INSIDE
    * an anchor (the transform-order hazard: `[**link**](/p/i)`, never
    * `**[link]**`), inline code, an `&nbsp;` that must decode then
    * collapse, a title whose text flows through as plain prose, and a
    * script body with markup inside a string (dies whole). Oracle:
    * the expected Markdown restated with E'' newline escapes.
    */
  def htmlMarkdownGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(5)).cast("string")
    val lvl = (pmod(i, lit(3)) + 1).cast("int")
    val lvlStr = lvl.cast("string")
    val html = concat(
      lit("<html><head><title>T</title>" +
        "<script>var x = '<b>no</b>';</script></head><body><h"), lvlStr,
      lit(">Title &amp; g"), g, lit("</h"), lvlStr,
      lit("><p>Intro <b>bold"), g,
      lit("</b> and <em>soft</em> text.</p><ul><li>first "), istr,
      lit("</li><li>see <a href=\"/p/"), istr,
      lit("\"><strong>link</strong></a></li></ul><p>code <code>x="), istr,
      lit("</code>&nbsp;done</p></body></html>"))
    tSpread(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.toMarkdown(col("html")).as("markdown"))
      .withColumn("n_lines",
        size(split(col("markdown"), "\n", -1)).cast("long"))
      .orderBy("doc_id")
  }

  /** Diacritic-fold match keys as a hash gate
    * ([[graft.ext.TextAnalysis.foldDiacritics]]): five name variants
    * per family — precomposed `Café`, DECOMPOSED `Cafe`+U+0301 (the
    * same rendered text, different bytes), all-caps precomposed,
    * plain ASCII, and a `Mañana straße` control — where the first
    * four must collapse onto ONE lower(fold(…)) match key (group of
    * 4) and the control keeps its own key with ß SURVIVING the fold
    * (folding ≠ transliteration). Oracle restates folded strings and
    * group sizes from the branch arithmetic (doc counts at every
    * driver SF divide by 5).
    */
  def diacriticFoldGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(5))
    val fstr = floor(i / 5).cast("string")
    val name = when(k === 0, concat(lit("Café Con Leche "), fstr))
      .when(k === 1, concat(lit("Café con leche "), fstr))
      .when(k === 2, concat(lit("CAFÉ CON LECHE "), fstr))
      .when(k === 3, concat(lit("cafe con leche "), fstr))
      .otherwise(concat(lit("Mañana straße "), fstr))
    val folded = t(s, d, "documents")
      .select(col("doc_id"),
        graft.ext.TextAnalysis.foldDiacritics(name).as("folded"))
      .withColumn("match_key", lower(col("folded")))
    val groups = folded.groupBy(col("match_key"))
      .agg(count(lit(1)).as("group_n"))
    folded.join(groups, Seq("match_key"))
      .select(col("doc_id"), col("folded"), col("match_key"),
        col("group_n"))
      .orderBy("doc_id")
  }

  /** HTML table harvest as a hash gate
    * ([[graft.ext.Html.extractTables]]): each doc carries a spec
    * table — a `<th>` header row plus two data rows with
    * doc-id-dependent cells, one cell bold-wrapped and one
    * entity-bearing — and every third doc a SECOND single-cell table
    * (multi-table pages are the rule, not the edge). The grid
    * explodes to (doc, table, row) rows with `|`-joined cells; the
    * oracle restates the cells from the generator arithmetic,
    * including the stripped `<b>` and the decoded `&amp;`.
    */
  def tableExtractGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val istr = i.cast("string")
    val g = pmod(i, lit(7)).cast("string")
    val second = when(pmod(i, lit(3)) === 0,
      concat(lit("<table><tr><td>extra "), g, lit("</td></tr></table>")))
      .otherwise(lit(""))
    val html = concat(
      lit("<html><body><p>prose</p><table class=\"spec\">" +
        "<tr><th>Part</th><th>Qty &amp; Unit</th></tr>" +
        "<tr><td><b>widget "), g, lit("</b></td><td> "), istr,
      lit(" kg </td></tr><tr><td>bolt</td><td>"), g,
      lit(" mm</td></tr></table>"), second, lit("</body></html>"))
    t(s, d, "documents")
      .select(col("doc_id"), graft.ext.Html.extractTables(html).as("tables"))
      .select(col("doc_id"), posexplode(col("tables")).as(Seq("table_idx", "rows")))
      .select(col("doc_id"), col("table_idx").cast("long").as("table_idx"),
        posexplode(col("rows")).as(Seq("row_idx", "cells")))
      .select(col("doc_id"), col("table_idx"),
        col("row_idx").cast("long").as("row_idx"),
        concat_ws("|", col("cells")).as("cells"))
      .orderBy("doc_id", "table_idx", "row_idx")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(
    // q271: the generator arithmetic restated with DECODED literals —
    // ’/—/é/€/… below are the real code points, U+FFFD for the
    // surrogate branch; the double-escape branch stays TEXT (&lt;)
    // and the k=5 degradations stay verbatim.
    Gate("q271_entity_decode", Family.Crawl, entityDecode, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 6 AS k,
        |    CAST(doc_id AS VARCHAR) AS s
        |  FROM documents),
        |e AS (SELECT doc_id, s,
        |  CASE WHEN k = 0 THEN 'café au lait'
        |       WHEN k = 1 THEN 'it’s fine'
        |       WHEN k = 2 THEN 'résumé — done'
        |       WHEN k = 3 THEN 'quote ’ euro €'
        |       WHEN k = 4 THEN 'x &lt; y &amp; z'
        |       ELSE 'bad � &foo; AT&T; a=1&b=2' END AS branch
        |  FROM b),
        |o AS (SELECT doc_id, s, branch,
        |    'T ' || s || ' Home About ' || branch || ' g' || s ||
        |      ' paragraph body text long enough to keep. tail… short' AS text
        |  FROM e)
        |SELECT doc_id, text,
        |  branch || ' g' || s ||
        |    ' paragraph body text long enough to keep.' AS main_text,
        |  'T ' || s AS title,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM o ORDER BY doc_id""".stripMargin),

    // q272: the span table restated from the family arithmetic — the
    // host's two touching-but-unchained windows stay split, the pair
    // passage is one exact-boundary span, and n_removed is the window
    // union (5+12 / 4+12 / 12) per role.
    Gate("q272_maximal_spans", Family.Dedup, maximalSpanGate, _ =>
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
        |SELECT s.doc_id, CAST(start_pos AS BIGINT) AS start_pos,
        |  CAST(span_len AS BIGINT) AS span_len, span_text,
        |  CAST(CASE WHEN r = 0 THEN 17 WHEN r = 3 THEN 12
        |            ELSE 16 END AS BIGINT) AS n_removed
        |FROM s JOIN b USING (doc_id)
        |ORDER BY doc_id, start_pos""".stripMargin),

    // q273: the per-URL total order restated — unique (ppm, url) sort
    // pairs make row_number ≡ rank ≡ the GlobalIndex offset + 1.
    Gate("q273_recrawl_order", Family.Crawl, recrawlOrderGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s,
        |    doc_id % 10 AS g, doc_id % 3 AS m3
        |  FROM documents),
        |u AS (SELECT
        |    'http://rv' || CAST(g AS VARCHAR) || '.com/p/' || s AS url,
        |    CAST(CASE WHEN g = 1 OR m3 = 0 THEN 0 ELSE 1 END AS BIGINT)
        |      AS changed
        |  FROM b)
        |SELECT url, changed,
        |  CAST(changed * 1000000 AS BIGINT) AS change_ppm,
        |  CAST(row_number() OVER (ORDER BY changed * 1000000 DESC, url)
        |    AS BIGINT) AS recrawl_rank
        |FROM u ORDER BY url""".stripMargin),

    // q274: the decision table restated from the branch arithmetic —
    // robots-denied/unresolved hosts skip, volatile URLs fetch, stable
    // URLs revalidate iff a validator was stored.
    Gate("q274_conditional_fetch", Family.Crawl, conditionalFetchGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 10 AS g, doc_id % 4 AS v,
        |    doc_id % 3 AS m3, CAST(doc_id AS VARCHAR) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  'http://rv' || CAST(g AS VARCHAR) || '.com/p/' || s AS url,
        |  NOT (g = 1 OR m3 = 0) AS changed,
        |  v IN (0, 1, 2) AS has_validators,
        |  CASE WHEN g IN (0, 3) THEN FALSE
        |       WHEN g = 4 THEN NULL
        |       ELSE TRUE END AS allowed,
        |  CASE WHEN g IN (0, 3, 4) THEN 'skip'
        |       WHEN NOT (g = 1 OR m3 = 0) THEN 'fetch'
        |       WHEN v IN (0, 1, 2) THEN 'conditional'
        |       ELSE 'fetch' END AS decision
        |FROM b ORDER BY doc_id""".stripMargin),

    // q275: the expected Markdown restated with E'' escapes — title
    // prose first, the #-run by level, inline marks inside the link.
    Gate("q275_html_markdown", Family.Crawl, htmlMarkdownGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS lvl,
        |    CAST(doc_id % 5 AS VARCHAR) AS g, CAST(doc_id AS VARCHAR) AS s
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    'T' || E'\n\n' || repeat('#', lvl) || ' Title & g' || g
        |      || E'\n\n' || 'Intro **bold' || g || '** and *soft* text.'
        |      || E'\n\n' || '- first ' || s || E'\n'
        |      || '- see [**link**](/p/' || s || ')' || E'\n\n'
        |      || 'code `x=' || s || '` done' AS markdown
        |  FROM b)
        |SELECT doc_id, markdown,
        |  CAST(length(markdown) - length(replace(markdown, E'\n', ''))
        |    + 1 AS BIGINT) AS n_lines
        |FROM m ORDER BY doc_id""".stripMargin),

    // q276: folded strings and group sizes restated — branches 0-3
    // share one lower() key (group of 4), the control keeps its own
    // key with ß surviving.
    Gate("q276_diacritic_fold", Family.Lm, diacriticFoldGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 5 AS k,
        |    CAST(doc_id // 5 AS VARCHAR) AS f
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN k = 0 THEN 'Cafe Con Leche ' || f
        |       WHEN k = 1 THEN 'Cafe con leche ' || f
        |       WHEN k = 2 THEN 'CAFE CON LECHE ' || f
        |       WHEN k = 3 THEN 'cafe con leche ' || f
        |       ELSE 'Manana straße ' || f END AS folded,
        |  CASE WHEN k = 4 THEN 'manana straße ' || f
        |       ELSE 'cafe con leche ' || f END AS match_key,
        |  CAST(CASE WHEN k = 4 THEN 1 ELSE 4 END AS BIGINT) AS group_n
        |FROM b ORDER BY doc_id""".stripMargin),

    // q277: the grid restated row-by-row — the header row, the two
    // data rows (bold stripped, entity decoded, padding collapsed),
    // and the every-third-doc second table.
    Gate("q277_table_extract", Family.Crawl, tableExtractGate, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS g,
        |    CAST(doc_id AS VARCHAR) AS s, doc_id % 3 = 0 AS extra
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 0 AS table_idx, 0 AS row_idx,
        |    'Part|Qty & Unit' AS cells FROM b
        |  UNION ALL
        |  SELECT doc_id, 0, 1, 'widget ' || g || '|' || s || ' kg' FROM b
        |  UNION ALL
        |  SELECT doc_id, 0, 2, 'bolt|' || g || ' mm' FROM b
        |  UNION ALL
        |  SELECT doc_id, 1, 0, 'extra ' || g FROM b WHERE extra)
        |SELECT doc_id, CAST(table_idx AS BIGINT) AS table_idx,
        |  CAST(row_idx AS BIGINT) AS row_idx, cells
        |FROM r ORDER BY doc_id, table_idx, row_idx""".stripMargin))
}
