package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 second wave. Each query sits next to its `Gate` entry and
  * DuckDB oracle.
  */
private[graft] trait PipelinesRound16b extends PipelinesBase {

  /** JSON-LD structured-data harvest as a hash gate
    * ([[graft.ext.Html.extractJsonLd]] /
    * [[graft.ext.Html.parseJsonLdEntity]]): schema.org entities are
    * the machine-readable layer of the web — news corpora
    * (headline/datePublished/author) and product corpora
    * (name/offers) are built by harvesting them, and the WAT sidecar
    * format every Common-Crawl consumer reads carries exactly this
    * extraction. Per doc a REAL page is built with the hazards live:
    *
    *   - k=0: one Article entity, double-quoted `type` attribute, a
    *     plain `<script>` BEFORE it (the type filter must skip it);
    *   - k=1: one Product entity with nested offers, single-quoted
    *     `type` plus a leading `async` attribute;
    *   - k=2: an entity ARRAY — [Article, Product]; the harvest takes
    *     the FIRST entity (publisher-primary convention);
    *   - k=3: no JSON-LD block at all → has_ld false, all fields NULL;
    *   - k=4: a TRUNCATED JSON body → has_ld true, fields NULL
    *     (quarantine, never a crash);
    *   - k=5: unquoted `type` attribute, whitespace-padded body,
    *     Article with only a headline (absent fields stay NULL).
    *
    * The oracle restates the expected fields per branch from the
    * generator arithmetic (the extraction and Jackson parse are
    * transparent to it by construction).
    */
  def jsonLdHarvest(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(6))
    val g = pmod(i, lit(9)).cast("string")
    val m = (pmod(i, lit(9)) + 1).cast("string")
    val article = concat(
      lit("{\"@type\":\"Article\",\"headline\":\"Story g"), g,
      lit("\",\"datePublished\":\"2024-0"), m,
      lit("-01\",\"author\":{\"@type\":\"Person\",\"name\":\"Author g"), g,
      lit("\"}}"))
    val product = concat(
      lit("{\"@type\":\"Product\",\"name\":\"Widget g"), g,
      lit("\",\"offers\":{\"@type\":\"Offer\",\"price\":\""), g,
      lit("9.99\",\"priceCurrency\":\"USD\"}}"))
    val block = when(k === 0, concat(
        lit("<script>var x=1;</script><script type=\"application/ld+json\">"),
        article, lit("</script>")))
      .when(k === 1, concat(
        lit("<script async type='application/ld+json'>"), product,
        lit("</script>")))
      .when(k === 2, concat(
        lit("<script type=\"application/ld+json\">["), article, lit(","),
        product, lit("]</script>")))
      .when(k === 3, lit(""))
      .when(k === 4, concat(
        lit("<script type=\"application/ld+json\">"),
        lit("{\"@type\":\"Article\",\"headline\":\"Broken g"), g,
        lit("</script>")))
      .otherwise(concat(
        lit("<script type=application/ld+json>\n  "),
        lit("{\"@type\":\"Article\",\"headline\":\"Pad g"), g,
        lit("\"}\n</script>")))
    val html = concat(lit("<html><head><title>t</title>"), block,
      lit("</head><body><p>body</p></body></html>"))
    val e = graft.ext.Html.parseJsonLdEntity(col("ld_raw"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .withColumn("ld_raw", graft.ext.Html.extractJsonLd(col("html")))
      .select(col("doc_id"),
        col("ld_raw").isNotNull.as("has_ld"),
        e.getField("@type").as("ld_type"),
        e.getField("headline").as("headline"),
        e.getField("datePublished").as("date_published"),
        e.getField("author").getField("name").as("author_name"),
        e.getField("name").as("product_name"),
        e.getField("offers").getField("price").as("price"),
        e.getField("offers").getField("priceCurrency").as("currency"))
      .orderBy("doc_id")
  }

  /** Robots-directive-aware link pruning as a hash gate
    * ([[graft.ext.Html.robotsDirectives]] /
    * [[graft.ext.Html.relHasToken]]): an indexer must honor the
    * page-level `<meta name=robots>` AND `X-Robots-Tag` header
    * channels (union — most restrictive wins), and a link graph must
    * drop `rel=nofollow` edges BY TOKEN, not substring. Per doc a
    * page with five outlinks is built: plain (kept), `nofollow`
    * (dropped), `ugc nofollow` multi-token (dropped), `sponsored`
    * (kept — not a nofollow token), and an unquoted-attribute
    * `rel=nofollow` (dropped). Page-level branches k=0..7 cover: no
    * directives, meta noindex, meta nofollow, both, header-only
    * nofollow, header noindex + META uppercase NOFOLLOW (union +
    * case-fold), `none` (the spec'd noindex+nofollow shorthand), and
    * an explicit `index, follow` no-op. A nofollow PAGE contributes
    * zero edges regardless of per-link rel.
    */
  def nofollowLinkGraph(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(8))
    val g = pmod(i, lit(5)).cast("string")
    def tgt(p: String) = concat(lit("http://t"), g, lit(".com/" + p))
    val links = concat(
      lit("<a href=\""), tgt("a"), lit("\">A</a>"),
      lit("<a rel=\"nofollow\" href=\""), tgt("b"), lit("\">B</a>"),
      lit("<a rel=\"ugc nofollow\" href=\""), tgt("c"), lit("\">C</a>"),
      lit("<a rel=\"sponsored\" href=\""), tgt("d"), lit("\">D</a>"),
      lit("<a rel=nofollow href="), tgt("e"), lit(">E</a>"))
    val meta = when(k === 1, lit("<meta name=\"robots\" content=\"noindex\">"))
      .when(k === 2, lit("<meta name=\"robots\" content=\"nofollow\">"))
      .when(k === 3, lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
      .when(k === 5, lit("<meta name=\"robots\" content=\"NOFOLLOW\">"))
      .when(k === 6, lit("<meta name=\"robots\" content=\"none\">"))
      .when(k === 7, lit("<meta name=\"robots\" content=\"index, follow\">"))
      .otherwise(lit(""))
    val header = when(k === 4, lit("nofollow"))
      .when(k === 5, lit("noindex")).otherwise(lit(null).cast("string"))
    val html = concat(lit("<html><head>"), meta, lit("</head><body>"),
      links, lit("</body></html>"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"), header.as("xrobots"))
      .withColumn("dirs", graft.ext.Html.robotsDirectives(
        graft.ext.Html.extractRobotsMetaAll(col("html")),
        col("xrobots")))
      .withColumn("anchors", graft.ext.Html.extractAnchors(col("html")))
      .withColumn("kept", when(col("dirs.nofollow"),
          array().cast("array<struct<href:string,text:string,rel:string>>"))
        .otherwise(filter(col("anchors"),
          a => !graft.ext.Html.relHasToken(a.getField("rel"), "nofollow"))))
      .select(col("doc_id"),
        col("dirs.noindex").as("noindex"),
        col("dirs.nofollow").as("nofollow_page"),
        size(col("anchors")).cast("long").as("n_links_total"),
        size(col("kept")).cast("long").as("n_links_kept"),
        concat_ws(" ", transform(col("kept"), _.getField("href")))
          .as("kept_hrefs"))
      .orderBy("doc_id")
  }

  /** URL category-blocklist curation as a hash gate
    * ([[graft.ext.Urls.matchBlocklist]]): the UT1-style domain
    * blocklist every production crawl runs before training-data
    * selection. Hosts per doc cover the four match shapes — a
    * SUBDOMAIN of a listed domain (ads.track<g>.com under
    * track<g>.com: entries block their whole subtree), a clean host,
    * a deeper subdomain under a listed domain with a DUAL-category
    * entry (bad0.net is both adult and malware — categories
    * accumulate sorted), and the substring hazard (notbad<g>.net must
    * NOT match the bad<g>.net entry — label-suffix semantics, never
    * substring). One exact-host entry (good3.org) pins that listed
    * hosts match themselves, not only their children.
    */
  def blocklistCuration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val i = col("doc_id")
    val g = pmod(i, lit(5)).cast("string")
    val j = pmod(i, lit(4))
    // j=0 hosts arrive in FQDN form (trailing root-dot) — the operator
    // must normalize and still match track{g}.com (r17, ADVICE close)
    val host = when(j === 0, concat(lit("ads.track"), g, lit(".com.")))
      .when(j === 1, concat(lit("good"), g, lit(".org")))
      .when(j === 2, concat(lit("sub.bad"), g, lit(".net")))
      .otherwise(concat(lit("notbad"), g, lit(".net")))
    val bl = Seq(
      ("track0.com", "ads"), ("track1.com", "ads"), ("track2.com", "ads"),
      ("bad0.net", "adult"), ("bad2.net", "adult"), ("bad4.net", "adult"),
      ("bad0.net", "malware"), ("good3.org", "parked"))
      .toDF("domain", "category")
    graft.ext.Urls.matchBlocklist(
        t(s, d, "documents").select(col("doc_id"), host.as("host")),
        "doc_id", "host", bl, "domain", "category")
      .select(col("doc_id"), col("host"),
        concat_ws(",", col("categories")).as("categories"), col("blocked"))
      .orderBy("doc_id")
  }

  /** Payload-digest revisit dedup as a hash gate
    * ([[graft.ext.Warc.revisitRecords]]): two crawl snapshots of the
    * corpus where (a) every third URL's content is STABLE across
    * crawls — its second capture must become a `revisit` stub
    * pointing at the first, (b) mirror docs share one payload across
    * DIFFERENT URLs — payload identity, not URL identity, drives the
    * dedup (the earliest capture of the whole mirror family is the
    * one original), and (c) everything else changes per crawl and
    * stores twice. Capture time is synthetic and unique
    * (crawl·100000 + doc_id) so first-capture selection is total.
    * The oracle replays the same md5 + window arithmetic in SQL.
    */
  def revisitDedup(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val url = concat(lit("http://rv"), pmod(i, lit(10)).cast("string"),
      lit(".com/p/"), i.cast("string"))
    val payload = when(pmod(i, lit(10)) === 1, lit("mirror page body"))
      .when(pmod(i, lit(3)) === 0,
        concat(lit("stable content "), i.cast("string")))
      .otherwise(concat(lit("content "), i.cast("string"),
        lit(" crawl "), col("crawl").cast("string")))
    val captures = t(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(1), lit(2))).as("crawl"))
      .select(col("doc_id"), col("crawl"), url.as("url"),
        (col("crawl") * 100000 + i).as("capture_ts"), payload.as("payload"))
    graft.ext.Warc.revisitRecords(captures, "url", "capture_ts", "payload")
      .select(col("doc_id"), col("crawl"), col("url"), col("capture_ts"),
        col("payload_digest"), col("record_type"), col("refers_to_url"),
        col("refers_to_ts"))
      .orderBy("doc_id", "crawl")
  }

  /** RSS/Atom feed ingest as a hash gate
    * ([[graft.ext.Html.extractFeedEntries]] → resolve → canonicalize,
    * the frontier feed channel beside sitemaps q223/q233): even docs
    * carry an RSS 2.0 feed — two items (one entity-escaped title, one
    * CDATA title, one whitespace-padded link), with the CHANNEL-level
    * `<link>` present as the classic harvest hazard (it is the site
    * link, not an entry); odd docs carry an Atom feed — a feed-level
    * `rel=self` link (never an entry), a `rel=alternate` entry, a
    * bare `<link href>` entry, and an entry where a `rel=self` link
    * precedes the real one (the no-rel arm must skip PAST it).
    * Atom hrefs are RELATIVE and resolve against the feed URL.
    */
  def feedIngest(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val g = pmod(i, lit(6)).cast("string")
    val rss = concat(
      lit("<rss><channel><title>Feed "), g,
      lit("</title><link>http://feed"), g, lit(".com/</link>"),
      lit("<item><title>First &amp; g"), g,
      lit("</title><link>http://feed"), g, lit(".com/a1</link></item>"),
      lit("<item><title><![CDATA[Second & g"), g,
      lit("]]></title><link>\n  http://feed"), g,
      lit(".com/a2 </link></item>"),
      lit("</channel></rss>"))
    val atom = concat(
      lit("<feed><title>AF "), g,
      lit("</title><link rel=\"self\" href=\"http://feed"), g,
      lit(".org/feed.xml\"/>"),
      lit("<entry><title>AOne g"), g,
      lit("</title><link rel=\"alternate\" href=\"/e1\"/></entry>"),
      lit("<entry><title>ATwo g"), g,
      lit("</title><link href='/e2'/></entry>"),
      lit("<entry><title>AThree g"), g,
      lit("</title><link rel=\"self\" href=\"/ignore\"/>"),
      lit("<link href=\"/e3\"/></entry>"),
      lit("</feed>"))
    val isRss = pmod(i, lit(2)) === 0
    val feedUrl = when(isRss, concat(lit("http://feed"), g, lit(".com/feed.xml")))
      .otherwise(concat(lit("http://feed"), g, lit(".org/feed.xml")))
    t(s, d, "documents")
      .select(col("doc_id"),
        when(isRss, rss).otherwise(atom).as("xml"),
        feedUrl.as("feed_url"),
        when(isRss, lit("rss")).otherwise(lit("atom")).as("fmt"))
      .select(col("doc_id"), col("feed_url"), col("fmt"),
        posexplode(graft.ext.Html.extractFeedEntries(col("xml"))))
      .withColumnRenamed("pos", "idx")
      // resolveUrl STAGED before canonicalizeUrl (the q216/q237
      // discipline): the canonicalizer references its input ~20×, and
      // inlining re-expands the whole resolve tree per reference —
      // measured 7.7 s → sub-second at sf0.1 for this gate
      .withColumn("resolved_url",
        graft.ext.Urls.resolveUrl(col("feed_url"), col("col.url")))
      .select(col("doc_id"), col("idx").cast("long").as("idx"), col("fmt"),
        graft.ext.Urls.canonicalizeUrl(col("resolved_url")).as("url"),
        col("col.title").as("title"))
      .orderBy("doc_id", "idx")
  }

  /** Unicode normalization as a hash gate
    * ([[graft.functions.VectorExpressions.UnicodeNormalize]], the
    * codegen'd `java.text.Normalizer` expression): per doc a branch
    * plants each normalization hazard class — precomposed é
    * (NFC-stable), DECOMPOSED e+U+0301 (NFC must fold it to the same
    * bytes as the precomposed branch — the exact-dedup identity
    * split), fullwidth ＡＢＣ１２３ (NFC-stable but NFKC folds to
    * ASCII), the ﬁ/ﬂ ligatures (same), and plain ASCII (the
    * zero-copy fast path). The oracle restates the expected NFC and
    * NFKC strings per branch from the generator arithmetic; the
    * changed_* flags pin which branches the normalizer may NOT touch.
    */
  def unicodeNormalizeGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(5))
    val istr = i.cast("string")
    val raw = when(k === 0, concat(lit("café résumé "), istr))
      .when(k === 1, concat(
        lit("café résumé "), istr))
      .when(k === 2, concat(
        lit("ＡＢＣ１２３ "), istr))
      .when(k === 3, concat(lit("ﬁnal ﬂow "), istr))
      .otherwise(concat(lit("plain ascii "), istr))
    val V = graft.functions.VectorExpressions
    t(s, d, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        V.unicodeNormalize(col("raw"), "NFC").as("nfc"),
        V.unicodeNormalize(col("raw"), "NFKC").as("nfkc"))
      .withColumn("changed_nfc", col("nfc") =!= raw)
      .withColumn("changed_nfkc", col("nfkc") =!= raw)
      .orderBy("doc_id")
  }

  /** Canonical alias clustering as a hash gate
    * ([[graft.ext.Urls.aliasClusters]]): families of four pages per
    * doc-id block — the base page, a URL 301-redirecting to it, a
    * MIRROR on another host declaring it `rel=canonical`, and a
    * two-hop redirect chain (older → old → page) — must fold into ONE
    * cluster of size 4 even though no single channel connects them
    * all: the mirror only touches the base via rel=canonical and the
    * chain head only reaches it transitively (the pairwise-channel
    * miss this operator exists to close). Representative = component
    * minimum ('…/old' in every family), size counts page rows.
    */
  def aliasClusterGate(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val m = pmod(i, lit(4))
    val f = floor(i / 4).cast("string")
    def fam(p: String) = concat(lit("http://fam"), f, lit(".com/" + p))
    val url = when(m === 0, fam("page"))
      .when(m === 1, fam("old"))
      .when(m === 2, concat(lit("http://mirror-fam"), f, lit(".net/copy")))
      .otherwise(fam("older"))
    val redirectTo = when(m === 1, fam("page"))
      .when(m === 3, fam("old"))
      .otherwise(lit(null).cast("string"))
    val canonHref = when(m === 2, fam("page")).otherwise(lit(null).cast("string"))
    val pages = t(s, d, "documents")
      .select(col("doc_id"), url.as("url"), redirectTo.as("redirect_to"),
        canonHref.as("canonical_href"))
    graft.ext.Urls.aliasClusters(pages, "url",
        Seq("redirect_to", "canonical_href"))
      .select(col("doc_id"), col("url"), col("cluster_rep"),
        col("cluster_size").cast("long").as("cluster_size"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language as a hash gate
    * ([[graft.ext.TextAnalysis.bpeSegment]] over the q139 merge
    * table, rolled up by the corpus `lang` column): fertility —
    * subword pieces per word, and per 100 characters — is the
    * tokenizer-equity metric every multilingual corpus audit runs,
    * because a BPE trained on one language fragments the others
    * (higher fertility = more compute and context spent per word).
    * Ratios are quantized to integer ppm BEFORE hashing (the
    * cross-row double-aggregate discipline, q106/q114 pattern).
    */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val T = graft.ext.TextAnalysis
    val toks = T.tokens(lower(col("text")))
    T.bpeSegment(tSpread(s, d, "documents"), "text", Round10Fixtures.bpeMerges)
      .select(col("lang"),
        size(toks).cast("long").as("w"),
        size(T.bpePieces(col("bpe_segments"))).cast("long").as("p"),
        length(concat_ws("", toks)).cast("long").as("c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("p").as("n_pieces"), sum("c").as("n_chars"))
      .withColumn("fertility_ppm",
        floor(col("n_pieces").cast("double") * 1e6 /
          col("n_words").cast("double") + 0.5).cast("long"))
      .withColumn("pieces_per_100c_ppm",
        floor(col("n_pieces").cast("double") * 1e8 /
          col("n_chars").cast("double") + 0.5).cast("long"))
      .orderBy("lang")
  }

  /** WAT metadata-sidecar generation as a hash gate (native
    * `to_json` over the harvest structs — the Common-Crawl WAT
    * format: one JSON envelope per response record carrying the
    * header metadata and the HTML-level harvest, so link-graph and
    * metadata consumers never re-parse the raw HTML). The envelope is
    * built as ONE nested struct column (WARC header metadata +
    * Head/Title + Links) and serialized by Catalyst's to_json —
    * field order is schema order and the output is compact, so the
    * oracle can restate the exact JSON text from the generator
    * arithmetic. Pages with zero links must serialize `"Links":[]`,
    * not drop the field.
    */
  def watMetadata(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val g = pmod(i, lit(7)).cast("string")
    val linksPart = when(pmod(i, lit(4)) === 3, lit(""))
      .otherwise(concat(
        lit("<a href=\"/a"), g, lit("\">A</a><a href=\"http://x"), g,
        lit(".org/b\">B</a>")))
    val html = concat(lit("<html><head><title>T "), g,
      lit("</title></head><body>"), linksPart, lit("</body></html>"))
    val uri = concat(lit("http://w"), g, lit(".com/p/"), i.cast("string"))
    val env = struct(
      struct(
        struct(col("target_uri").as("WARC-Target-URI"),
          lit("response").as("WARC-Type")).as("WARC-Header-Metadata"),
        struct(struct(struct(
          struct(graft.ext.Html.extractTitle(col("html")).as("Title"))
            .as("Head"),
          transform(graft.ext.Html.extractLinks(col("html")),
            u => struct(u.as("url"))).as("Links"))
          .as("HTML-Metadata")).as("HTTP-Response-Metadata"))
          .as("Payload-Metadata")).as("Envelope"))
    t(s, d, "documents")
      .select(col("doc_id"), uri.as("target_uri"), html.as("html"))
      .select(col("doc_id"), col("target_uri"),
        to_json(env).as("wat_json"))
      .orderBy("doc_id")
  }

  /** Change-rate recrawl prioritization as a hash gate (the crawl-
    * scheduling literature's core signal: estimate per-host change
    * frequency from digest history, recrawl volatile hosts first).
    * Reuses the q252 two-snapshot capture fixture: a URL changed iff
    * its two captures carry DIFFERENT payload digests (mirror docs
    * and every-third stable docs did not), rolled up per host to a
    * quantized change rate and a dense recrawl rank (rate desc, host
    * asc for determinism). Digest comparison, not text comparison —
    * the scheduler runs on the CDX index alone, never refetching
    * bodies.
    */
  def recrawlPriority(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val i = col("doc_id")
    val url = concat(lit("http://rv"), pmod(i, lit(10)).cast("string"),
      lit(".com/p/"), i.cast("string"))
    val payload = when(pmod(i, lit(10)) === 1, lit("mirror page body"))
      .when(pmod(i, lit(3)) === 0,
        concat(lit("stable content "), i.cast("string")))
      .otherwise(concat(lit("content "), i.cast("string"),
        lit(" crawl "), col("crawl").cast("string")))
    val captures = t(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(1), lit(2))).as("crawl"))
      .select(col("doc_id"), url.as("url"), payload.as("payload"))
    val perUrl = captures
      .groupBy(col("url"),
        graft.ext.Urls.hostOf(col("url")).as("host"))
      .agg((countDistinct(md5(col("payload"))) > 1).cast("long").as("changed"))
    perUrl.groupBy("host")
      .agg(count(lit(1)).as("n_urls"), sum("changed").as("n_changed"))
      .withColumn("change_ppm",
        floor(col("n_changed").cast("double") * 1e6 /
          col("n_urls").cast("double") + 0.5).cast("long"))
      .withColumn("recrawl_rank", rank().over(
        Window.orderBy(col("change_ppm").desc, col("host"))).cast("long"))
      .orderBy("host")
  }

  /** Meta-refresh redirect harvest as a hash gate
    * ([[graft.ext.Html.extractMetaRefresh]], the third redirect
    * channel beside HTTP 3xx and rel=canonical): branches cover the
    * immediate redirect (`0; url=/new`), a quoted uppercase-URL
    * target with a real delay, a pure self-reload (delay only, url
    * NULL), no tag at all, the content-before-http-equiv attribute
    * order, and a malformed delay with a live target (delay NULL,
    * url kept). The target then resolves + canonicalizes against the
    * page URL through the STAGED pipeline (q216/q237 discipline).
    */
  def metaRefreshRedirects(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(6))
    val g = pmod(i, lit(5)).cast("string")
    val meta = when(k === 0,
        lit("<meta http-equiv=\"refresh\" content=\"0; url=/new0\">"))
      .when(k === 1, concat(
        lit("<meta http-equiv=\"refresh\" content=\"5;URL='http://next"), g,
        lit(".com/p'\">")))
      .when(k === 2, lit("<meta http-equiv=\"refresh\" content=\"30\">"))
      .when(k === 3, lit(""))
      .when(k === 4,
        lit("<meta content=\"0;url=page.html\" http-equiv=refresh>"))
      .otherwise(lit("<meta http-equiv=\"refresh\" content=\"soon; url=/x\">"))
    val html = concat(lit("<html><head>"), meta,
      lit("</head><body>b</body></html>"))
    val pageUrl = concat(lit("http://mr"), g, lit(".com/dir/page"))
    val r = graft.ext.Html.extractMetaRefresh(col("html"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"), pageUrl.as("page_url"))
      .withColumn("delay", r.getField("delay"))
      .withColumn("refresh_url", r.getField("url"))
      .withColumn("resolved", graft.ext.Urls.resolveUrl(col("page_url"),
        col("refresh_url")))
      .select(col("doc_id"), col("delay"), col("refresh_url"),
        graft.ext.Urls.canonicalizeUrl(col("resolved")).as("target_url"))
      .orderBy("doc_id")
  }

  /** Base-href-aware link resolution as a hash gate
    * ([[graft.ext.Html.extractBaseHref]] + the two-stage resolve): a
    * `<base href>` retargets EVERY relative link on the page, and the
    * base itself may be relative (resolves against the page URL
    * first — the HTML-spec composition). Branches: no base
    * (page-relative), an absolute base on another host, a RELATIVE
    * base (`sub/`), and a base that absolute links must ignore. Each
    * page carries a root-relative and a document-relative link so
    * both resolution shapes hit every branch.
    */
  def baseHrefLinks(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val j = pmod(i, lit(4))
    val g = pmod(i, lit(5)).cast("string")
    val base = when(j === 1, concat(lit("<base href=\"http://cdn"), g,
        lit(".org/assets/\">")))
      .when(j === 2, lit("<base href=\"sub/\">"))
      .when(j === 3, lit("<base href=\"http://ignored.com/\">"))
      .otherwise(lit(""))
    val secondHref = when(j === 3, lit("http://abs.com/x"))
      .otherwise(lit("a.html"))
    val html = concat(lit("<html><head>"), base,
      lit("</head><body><a href=\"/r0\">R</a><a href=\""), secondHref,
      lit("\">A</a></body></html>"))
    val pageUrl = concat(lit("http://b"), g, lit(".com/dir/page.html"))
    tSpread(s, d, "documents")
      .select(col("doc_id"), html.as("html"), pageUrl.as("page_url"))
      .withColumn("base_href", graft.ext.Html.extractBaseHref(col("html")))
      // the base may be relative: resolve it against the page FIRST
      .withColumn("eff_base", coalesce(
        graft.ext.Urls.resolveUrl(col("page_url"), col("base_href")),
        col("page_url")))
      .select(col("doc_id"), col("eff_base"),
        posexplode(graft.ext.Html.extractLinks(col("html"))))
      .withColumn("resolved",
        graft.ext.Urls.resolveUrl(col("eff_base"), col("col")))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col").as("href"), col("resolved").as("resolved_url"))
      .orderBy("doc_id", "idx")
  }

  /** Sitemap metadata entries as a hash gate
    * ([[graft.ext.Html.extractSitemapEntries]]): the sitemaps.org
    * extension fields (`lastmod`/`changefreq`/`priority`) are the
    * publisher's OWN recrawl hints and q258's change-rate ranking
    * composes with them. Three `<url>` blocks per doc cover: full
    * metadata, metadata-free loc-only, and a malformed priority
    * (`high` → NULL via try_cast) with entity-escaped loc. The
    * `due_soon` column pins the scheduling composition: daily/weekly
    * changefreq OR a stale lastmod.
    */
  def sitemapEntryMetadata(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val g = pmod(i, lit(9)).cast("string")
    val m = (pmod(i, lit(9)) + 1).cast("string")
    val xml = concat(
      lit("<urlset><url><loc>http://sm"), g, lit(".com/a</loc><lastmod>2024-0"),
      m, lit("-15</lastmod><changefreq>daily</changefreq>"),
      lit("<priority>0.8</priority></url>"),
      lit("<url><loc>http://sm"), g, lit(".com/b</loc></url>"),
      lit("<url><loc>http://sm"), g,
      lit(".com/c?x=1&amp;y=2</loc><lastmod>2023-12-01</lastmod>"),
      lit("<changefreq>monthly</changefreq><priority>high</priority></url>"),
      lit("</urlset>"))
    t(s, d, "documents")
      .select(col("doc_id"),
        posexplode(graft.ext.Html.extractSitemapEntries(xml)))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col.loc").as("loc"), col("col.lastmod").as("lastmod"),
        col("col.changefreq").as("changefreq"),
        col("col.priority").as("priority"))
      .withColumn("due_soon",
        coalesce(col("changefreq").isin("daily", "weekly"), lit(false)) ||
          coalesce(col("lastmod") < "2024-01-01", lit(false)))
      .orderBy("doc_id", "idx")
  }

  /** hreflang language-variant harvest as a hash gate
    * ([[graft.ext.Html.extractHreflangAlternates]]): the multilingual
    * variant map — translations group together WITHOUT being dups.
    * Fixtures plant an en + fr + x-default triple, a stylesheet link
    * (not rel=alternate — never harvested), and a rel=alternate FEED
    * link with no hreflang (filtered: it is the q253 channel, not a
    * language variant); one branch uppercases the hreflang value
    * (case-folds) and one carries no alternates at all.
    */
  def hreflangVariants(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(3))
    val g = pmod(i, lit(5)).cast("string")
    val alts = concat(
      lit("<link rel=\"stylesheet\" href=\"/style.css\">"),
      lit("<link rel=\"alternate\" type=\"application/rss+xml\" href=\"/feed\">"),
      lit("<link rel=\"alternate\" hreflang=\"en\" href=\"http://hl"), g,
      lit(".com/en/p\">"),
      when(k === 1, concat(
        lit("<link rel=\"alternate\" hreflang=\"FR\" href=\"http://hl"), g,
        lit(".com/fr/p\">"))).otherwise(lit("")),
      lit("<link hreflang=\"x-default\" rel=alternate href='http://hl"), g,
      lit(".com/p'>"))
    val html = concat(lit("<html><head>"),
      when(k === 2, lit("")).otherwise(alts),
      lit("</head><body>b</body></html>"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        posexplode_outer(graft.ext.Html.extractHreflangAlternates(col("html"))))
      .select(col("doc_id"), col("pos").cast("long").as("idx"),
        col("col.lang").as("lang"), col("col.href").as("href"))
      .orderBy("doc_id", "idx")
  }

  /** Discovery-channel unification capstone as a hash gate: ONE
    * canonical frontier from all five channels this round's wave
    * implements, each harvested by its REAL extractor in one plan —
    * anchors ([[graft.ext.Html.extractLinks]]), meta-refresh targets
    * ([[graft.ext.Html.extractMetaRefresh]], even docs only), hreflang
    * alternates, sitemap locs, and feed entries. The same target
    * arriving through different channels must collapse to one
    * frontier row with the channel set and reference count — /a
    * arrives via link AND sitemap, /b via link (with a tracking param
    * canonicalization must strip) AND feed, /c via refresh only from
    * even docs, /d via hreflang. Resolution and canonicalization run
    * STAGED (q216/q237 discipline); the rollup is one hash exchange
    * on the canonical url.
    */
  def frontierUnify(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val g = pmod(i, lit(10)).cast("string")
    val pageUrl = concat(lit("http://f"), g, lit(".com/index.html"))
    // decorrelated from g (pmod(i,2) would make odd families
    // refresh-free): even BLOCKS of ten carry the refresh tag
    val even = pmod(floor(i / 10), lit(2)) === 0
    val html = concat(lit("<html><head>"),
      when(even, lit("<meta http-equiv=\"refresh\" content=\"0; url=/c\">"))
        .otherwise(lit("")),
      lit("<link rel=\"alternate\" hreflang=\"fr\" href=\"/d\">"),
      lit("</head><body><a href=\"/a\">A</a>"),
      lit("<a href=\"/b?utm_x=1\">B</a></body></html>"))
    val sitemap = concat(lit("<urlset><url><loc>http://f"), g,
      lit(".com/a</loc></url></urlset>"))
    val feed = concat(
      lit("<rss><channel><item><title>t</title><link>http://f"), g,
      lit(".com/b</link></item></channel></rss>"))
    val base = t(s, d, "documents").select(col("doc_id"),
      pageUrl.as("page_url"), html.as("html"), sitemap.as("sm"),
      feed.as("feed"))
    val H = graft.ext.Html
    val linkRows = base.select(col("page_url"), lit("link").as("channel"),
      explode(H.extractLinks(col("html"))).as("raw"))
    val refreshRows = base.select(col("page_url"),
        lit("refresh").as("channel"),
        H.extractMetaRefresh(col("html")).getField("url").as("raw"))
      .filter(col("raw").isNotNull)
    val hreflangRows = base.select(col("page_url"),
        lit("hreflang").as("channel"),
        explode(H.extractHreflangAlternates(col("html"))).as("a"))
      .select(col("page_url"), col("channel"), col("a.href").as("raw"))
    val sitemapRows = base.select(col("page_url"),
      lit("sitemap").as("channel"),
      explode(H.extractSitemapLocs(col("sm"))).as("raw"))
    val feedRows = base.select(col("page_url"), lit("feed").as("channel"),
        explode(H.extractFeedEntries(col("feed"))).as("e"))
      .select(col("page_url"), col("channel"), col("e.url").as("raw"))
    Seq(linkRows, refreshRows, hreflangRows, sitemapRows, feedRows)
      .reduce(_ unionByName _)
      .withColumn("resolved",
        graft.ext.Urls.resolveUrl(col("page_url"), col("raw")))
      // Column-form canonicalizer kept deliberately (r19, measured):
      // the staged variant (withCanonicalUrl) cut the node count 22.4k
      // -> 18k here but ADDED project layers that the optimizer walks
      // through the five-arm union — paired `Probe phases` got SLOWER
      // (0.59 -> 0.91 s pass-2 planning); staging only pays when the
      // tree shrink dominates (q232)
      .withColumn("url", graft.ext.Urls.canonicalizeUrl(col("resolved")))
      .groupBy("url")
      .agg(count(lit(1)).cast("long").as("n_refs"),
        array_join(sort_array(collect_set(col("channel"))), ",")
          .as("channels"))
      .select(col("url"), col("channels"), col("n_refs"))
      .orderBy("url")
  }

  /** CROSS-document line dedup as a hash gate
    * ([[graft.ext.TextAnalysis.dedupLinesGlobal]], the C4/CCNet
    * corpus-global rule): every doc wraps its natural text in shared
    * chrome — a header repeated by every fourth doc, a footer by
    * every third, a blank structural line, and one guaranteed-unique
    * line. The FIRST corpus occurrence of each chrome line survives,
    * every later one dies across document boundaries (what q240's
    * in-doc scrub cannot see), blank lines always survive, and the
    * natural text's own cross-doc duplicates (the fixture's planted
    * near-dup docs) dedup too — the oracle replays the full
    * window-arithmetic in SQL rather than restating, so the natural
    * duplication is covered exactly.
    */
  def lineDedupGlobal(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val t2 = concat_ws("\n",
      concat(lit("Shared Header "), pmod(i, lit(4)).cast("string")),
      col("text"),
      lit(""),
      concat(lit("Shared Footer "), pmod(i, lit(3)).cast("string")),
      concat(lit("unique line "), i.cast("string")))
    graft.ext.TextAnalysis.dedupLinesGlobal(
        t(s, d, "documents").select(col("doc_id"), t2.as("t2")),
        "doc_id", "t2")
      .orderBy("doc_id")
  }

  /** STREAMING revisit labeling as a hash gate
    * ([[graft.streaming.StreamingFeatures.labelRevisits]],
    * flatMapGroupsWithState keyed on the payload digest): the exact
    * q252 fixture flows through the stateful path — first capture per
    * digest becomes the stored response, every later one a revisit
    * stub — and the gate verifies against the SAME oracle SQL as the
    * batch operator (stream ≡ batch, the q200/q204 discipline).
    */
  def streamRevisits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val i = col("doc_id")
    val url = concat(lit("http://rv"), pmod(i, lit(10)).cast("string"),
      lit(".com/p/"), i.cast("string"))
    val payload = when(pmod(i, lit(10)) === 1, lit("mirror page body"))
      .when(pmod(i, lit(3)) === 0,
        concat(lit("stable content "), i.cast("string")))
      .otherwise(concat(lit("content "), i.cast("string"),
        lit(" crawl "), col("crawl").cast("string")))
    val captures = t(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(1), lit(2))).as("crawl"))
      .select(md5(payload).as("digest"), url.as("url"),
        (col("crawl") * 100000 + i).as("ts"), col("doc_id"), col("crawl"))
    PipelinesTextSim.runToMemory(s, "q265") { fx =>
      graft.streaming.StreamingFeatures.labelRevisits(
        fx.stage(captures).as[graft.streaming.StreamingFeatures.CaptureIn])
    } { sink =>
      sink.select(col("doc_id"), col("crawl"), col("url"),
          col("ts").as("capture_ts"), col("payload_digest"),
          col("record_type"), col("refers_to_url"), col("refers_to_ts"))
        .orderBy("doc_id", "crawl")
    }
  }

  /** Crawl snapshot diff as a hash gate — the churn report every
    * recurring crawl publishes: full outer join of two snapshots on
    * the canonical URL classifies every URL as `added` (new crawl
    * only), `removed` (old only), `changed` (both, digest moved), or
    * `unchanged`, then rolls the four counts up per host. Fixture
    * arithmetic: every fifth URL exists only in crawl 2 (added),
    * every seventh only in crawl 1 (removed; decorrelated residues so
    * both classes stay non-empty), the q252 stable/mirror docs are
    * unchanged, the rest changed. One shuffle for the join, one for
    * the rollup.
    */
  def crawlSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val url = concat(lit("http://sd"), pmod(i, lit(10)).cast("string"),
      lit(".com/p/"), i.cast("string"))
    def digest(crawl: Int) =
      md5(when(pmod(i, lit(3)) === 0, concat(lit("stable "), i.cast("string")))
        .otherwise(concat(lit("body "), i.cast("string"), lit(s" c$crawl"))))
    val docs = t(s, d, "documents")
    // new-only docs (i%5=2) are absent from the OLD snapshot;
    // old-only docs (i%7=1) are absent from the NEW one; a doc in
    // both classes is absent from both (and from the diff)
    val old = docs.filter(pmod(i, lit(5)) =!= 2)
      .select(url.as("url"), digest(1).as("old_digest"))
    val newer = docs.filter(pmod(i, lit(7)) =!= 1)
      .select(url.as("url"), digest(2).as("new_digest"))
    val status = when(col("old_digest").isNull, lit("added"))
      .when(col("new_digest").isNull, lit("removed"))
      .when(col("old_digest") === col("new_digest"), lit("unchanged"))
      .otherwise(lit("changed"))
    old.join(newer, Seq("url"), "full_outer")
      .withColumn("status", status)
      .withColumn("host", graft.ext.Urls.hostOf(col("url")))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"))
      .orderBy("host")
  }

  /** URL template mining as a hash gate
    * ([[graft.ext.Urls.pathTemplate]]): paths per doc cover the
    * numeric-id segment (`/product/<id>/view`), a MIXED segment whose
    * digit run masks in place (`u<id>` → `u{n}`), a 32-hex digest
    * segment (`{hex}` — the hex rule must fire before the digit rule
    * shreds it), and a static path that must survive untouched; the
    * rollup groups (host, template) — the crawl-budget view.
    */
  def urlTemplateMining(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val j = pmod(i, lit(4))
    val host = concat(lit("tm"), pmod(i, lit(5)).cast("string"), lit(".com"))
    val path = when(j === 0, concat(lit("/product/"), i.cast("string"),
        lit("/view")))
      .when(j === 1, concat(lit("/user/u"), pmod(i, lit(50)).cast("string"),
        lit("/profile")))
      .when(j === 2, concat(lit("/doc/"), md5(i.cast("string")), lit("/raw")))
      .otherwise(lit("/static/css/main.css"))
    t(s, d, "documents")
      .select(host.as("host"),
        graft.ext.Urls.pathTemplate(path).as("template"))
      .groupBy("host", "template")
      .agg(count(lit(1)).as("n_urls"))
      .orderBy("host", "template")
  }

  /** Robots fetch-outcome policy as a hash gate
    * ([[graft.ext.RobotsTxt.accessPolicy]], RFC 9309 §2.3.1): per doc
    * a raw robots.txt HTTP response with status 200 (a real body
    * disallowing /priv), 404, 500, 503, or 301 — parsed with the
    * production [[graft.ext.Http.statusOf]] + a garbage-status branch
    * (NULL status = the network-error analog). The decisions for a
    * /priv and a /pub URL pin the policy: 200 applies the parsed
    * rules, 404 allows ALL (a missing robots.txt is not a lock), 5xx
    * and unparseable disallow ALL, 3xx defers to redirect resolution
    * (NULL decisions).
    */
  def robotsFetchPolicy(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(6))
    val payload = when(k === 0, lit("HTTP/1.1 200 OK\r\n\r\n" +
        "User-agent: *\nDisallow: /priv\n"))
      .when(k === 1, lit("HTTP/1.1 404 Not Found\r\n\r\ngone"))
      .when(k === 2, lit("HTTP/1.1 500 Internal Server Error\r\n\r\noops"))
      .when(k === 3, lit("HTTP/1.1 503 Service Unavailable\r\n\r\nbusy"))
      .when(k === 4,
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: /r.txt\r\n\r\n"))
      .otherwise(lit("garbage not http"))
    val base = t(s, d, "documents")
      .select(col("doc_id"), payload.as("p"))
      .withColumn("status", graft.ext.Http.statusOf(col("p")))
      .withColumn("policy", graft.ext.RobotsTxt.accessPolicy(col("status")))
      .withColumn("rules", graft.ext.RobotsTxt.parsePolicy(
        coalesce(graft.ext.Http.bodyOf(col("p")), lit("")))
        .getField("rules"))
    def decide(path: String) = {
      val denied = exists(col("rules"), r =>
        r.getField("allow") === 0 &&
          lit(path).startsWith(r.getField("prefix")))
      when(col("policy") === "apply_rules", !denied)
        .when(col("policy") === "allow_all", lit(true))
        .when(col("policy") === "disallow_all", lit(false))
        .otherwise(lit(null).cast("boolean"))
    }
    base.select(col("doc_id"), col("status"), col("policy"),
        decide("/priv/x").as("allowed_priv"),
        decide("/pub").as("allowed_pub"))
      .orderBy("doc_id")
  }

  /** Crawl-trap detection as a hash gate (the q267 composition a
    * frontier scheduler actually runs): a template holding most of a
    * host's URLs AND carrying a variable segment is the
    * infinite-URL-space signature (calendars, session ids, faceted
    * search). Rule pinned here: share ≥ 60% of the host's URLs and
    * the template contains `{n}`. `trap` means BUDGET-CAP this
    * template, not drop it: legitimate deep pagination (/page/{n}
    * dominating a blog host) flags too, and capping it is exactly
    * what crawl schedulers do with unbounded-looking URL spaces
    * (r17 fresh-eyes — intended, not a false positive).
    * Host branches: a pure calendar trap
    * (share 1.0, flagged), a half-parameterized host (share 0.5 —
    * UNDER the bar, not flagged: parameterized ≠ trap), a static-only
    * host (share 1.0 but no `{n}` — never flagged), and a mixed host.
    * Shares quantize to integer percent before hashing.
    */
  def crawlTrapDetection(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val i = col("doc_id")
    val h = pmod(i, lit(4))
    val host = concat(lit("trap"), h.cast("string"), lit(".com"))
    // the within-host splitter is floor(i/4)%2, NOT i%2 — h = i%4
    // fixes i's parity, so an i%2 split would be constant per host
    val alt = pmod(floor(i / 4), lit(2)) === 1
    val path = when(h === 0, concat(lit("/cal/"), i.cast("string"), lit("/"),
        pmod(i, lit(7)).cast("string")))
      .when(h === 1, when(alt,
          concat(lit("/p/"), i.cast("string"))).otherwise(lit("/about")))
      .when(h === 2, lit("/static/a.css"))
      .otherwise(when(alt,
        concat(lit("/item/"), i.cast("string"))).otherwise(lit("/faq")))
    t(s, d, "documents")
      .select(host.as("host"),
        graft.ext.Urls.pathTemplate(path).as("template"))
      .groupBy("host", "template")
      .agg(count(lit(1)).as("n_urls"))
      .withColumn("host_total",
        sum(col("n_urls")).over(Window.partitionBy(col("host"))))
      .withColumn("share_pct",
        floor(col("n_urls").cast("double") * 100.0 /
          col("host_total").cast("double") + 0.5).cast("long"))
      .withColumn("trap",
        col("share_pct") >= 60 && col("template").contains("{n}"))
      .select(col("host"), col("template"), col("n_urls"),
        col("host_total").cast("long").as("host_total"), col("share_pct"),
        col("trap"))
      .orderBy("host", "template")
  }

  /** hreflang reciprocity audit as a hash gate (the validation search
    * engines actually run on q262's harvest: a variant link only
    * counts when the TARGET page links back — unreciprocated pairs
    * are ignored or flagged). Page pairs per doc-id block: the even
    * page declares its odd sibling; every third block's odd page
    * OMITS the backlink (violation), the rest reciprocate. The check
    * is one left-anti self-join of the edge set against its own
    * reverse on the (src, dst) key — equi join, no pairwise scan.
    */
  def hreflangReciprocity(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val f = floor(i / 2).cast("long")
    val isEven = pmod(i, lit(2)) === 0
    val self = concat(lit("http://hr"), f.cast("string"),
      when(isEven, lit(".com/en")).otherwise(lit(".com/fr")))
    val sibling = concat(lit("http://hr"), f.cast("string"),
      when(isEven, lit(".com/fr")).otherwise(lit(".com/en")))
    val omitBack = !isEven && pmod(f, lit(3)) === 0
    val html = concat(lit("<html><head>"),
      when(omitBack, lit(""))
        .otherwise(concat(
          lit("<link rel=\"alternate\" hreflang=\""),
          when(isEven, lit("fr")).otherwise(lit("en")),
          lit("\" href=\""), sibling, lit("\">"))),
      lit("</head><body>b</body></html>"))
    val edges = t(s, d, "documents")
      .select(self.as("src"), html.as("html"))
      .select(col("src"),
        explode(graft.ext.Html.extractHreflangAlternates(col("html")))
          .as("a"))
      .select(col("src"), col("a.lang").as("lang"), col("a.href").as("dst"))
    val reverse = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(1).as("_rev"))
    edges.join(reverse, Seq("src", "dst"), "left_outer")
      .select(col("src"), col("dst"), col("lang"),
        col("_rev").isNotNull.as("reciprocal"))
      .orderBy("src")
  }

  // ONE revisit ground truth for the batch (q252) and streaming
  // (q265) paths — the stream ≡ batch discipline: two plans, one
  // oracle, so the stateful path can never drift semantically.
  private val revisitOracleSql =
    """WITH caps AS (
      |  SELECT doc_id, c.crawl,
      |    'http://rv' || CAST(doc_id % 10 AS VARCHAR) || '.com/p/'
      |      || CAST(doc_id AS VARCHAR) AS url,
      |    c.crawl * 100000 + doc_id AS capture_ts,
      |    CASE WHEN doc_id % 10 = 1 THEN 'mirror page body'
      |         WHEN doc_id % 3 = 0
      |           THEN 'stable content ' || CAST(doc_id AS VARCHAR)
      |         ELSE 'content ' || CAST(doc_id AS VARCHAR) || ' crawl '
      |           || CAST(c.crawl AS VARCHAR) END AS payload
      |  FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS crawl) c),
      |d AS (SELECT *, md5(payload) AS payload_digest,
      |    row_number() OVER w AS rn,
      |    first_value(url) OVER w AS fu,
      |    first_value(capture_ts) OVER w AS ft
      |  FROM caps
      |  WINDOW w AS (PARTITION BY md5(payload)
      |    ORDER BY capture_ts, url))
      |SELECT doc_id, CAST(crawl AS INT) AS crawl, url, capture_ts,
      |  payload_digest,
      |  CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS record_type,
      |  CASE WHEN rn > 1 THEN fu END AS refers_to_url,
      |  CASE WHEN rn > 1 THEN ft END AS refers_to_ts
      |FROM d ORDER BY doc_id, crawl""".stripMargin

  override def gates: Seq[Gate] = super.gates ++ Seq(
    Gate("q265_stream_revisits", Family.Streaming, streamRevisits, _ => revisitOracleSql),

    // q266: diff arithmetic restated — new-only (i%5=2) → added,
    // old-only (i%7=1) → removed, in-both-classes → absent, stable
    // (i%3=0) → unchanged, rest → changed; host rollup.
    Gate("q266_crawl_snapshot_diff", Family.Crawl, crawlSnapshotDiff, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 10 AS h,
        |    doc_id % 5 = 2 AS only_new, doc_id % 7 = 1 AS only_old,
        |    doc_id % 3 = 0 AS stable
        |  FROM documents),
        |c AS (SELECT doc_id, h,
        |    CASE WHEN only_new AND only_old THEN NULL
        |         WHEN only_new THEN 'added'
        |         WHEN only_old THEN 'removed'
        |         WHEN stable THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM b)
        |SELECT 'sd' || CAST(h AS VARCHAR) || '.com' AS host,
        |  CAST(count(status) AS BIGINT) AS n_urls,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unchanged
        |FROM c WHERE status IS NOT NULL
        |GROUP BY h ORDER BY host""".stripMargin),

    // q267: expected templates restated per branch — the hex branch
    // masks whole (never digit-shredded), the static path survives.
    Gate("q267_url_templates", Family.Crawl, urlTemplateMining, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 5 AS h, doc_id % 4 AS j
        |  FROM documents),
        |t AS (SELECT h,
        |    CASE j WHEN 0 THEN '/product/{n}/view'
        |           WHEN 1 THEN '/user/u{n}/profile'
        |           WHEN 2 THEN '/doc/{hex}/raw'
        |           ELSE '/static/css/main.css' END AS template
        |  FROM b)
        |SELECT 'tm' || CAST(h AS VARCHAR) || '.com' AS host, template,
        |  CAST(count(*) AS BIGINT) AS n_urls
        |FROM t GROUP BY host, template ORDER BY host, template""".stripMargin),

    // q268: policy arithmetic restated — 200 applies rules (/priv
    // denied, /pub allowed), 404 allow-all, 5xx disallow-all, 301
    // defers (NULLs), garbage status = NULL = disallow-all.
    Gate("q268_robots_fetch_policy", Family.Crawl, robotsFetchPolicy, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 6 AS k FROM documents)
        |SELECT doc_id,
        |  CAST(CASE k WHEN 0 THEN 200 WHEN 1 THEN 404 WHEN 2 THEN 500
        |       WHEN 3 THEN 503 WHEN 4 THEN 301 END AS INT) AS status,
        |  CASE WHEN k = 0 THEN 'apply_rules'
        |       WHEN k = 1 THEN 'allow_all'
        |       WHEN k IN (2, 3, 5) THEN 'disallow_all'
        |       ELSE 'follow_redirect' END AS policy,
        |  CASE WHEN k = 0 THEN false WHEN k = 1 THEN true
        |       WHEN k IN (2, 3, 5) THEN false END AS allowed_priv,
        |  CASE WHEN k = 0 THEN true WHEN k = 1 THEN true
        |       WHEN k IN (2, 3, 5) THEN false END AS allowed_pub
        |FROM b ORDER BY doc_id""".stripMargin),
    // q249: expected JSON-LD fields restated per branch from the
    // generator arithmetic — k=3 has no block (has_ld false), k=4 is
    // malformed (has_ld true, fields NULL), k=2 takes the FIRST
    // entity of the array (the Article).
    Gate("q249_jsonld_harvest", Family.Crawl, jsonLdHarvest, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 6 AS k,
        |    CAST(doc_id % 9 AS VARCHAR) AS g,
        |    CAST(doc_id % 9 + 1 AS VARCHAR) AS m
        |  FROM documents)
        |SELECT doc_id,
        |  k != 3 AS has_ld,
        |  CASE WHEN k IN (0, 2, 5) THEN 'Article'
        |       WHEN k = 1 THEN 'Product' END AS ld_type,
        |  CASE WHEN k = 0 THEN 'Story g' || g
        |       WHEN k = 2 THEN 'Story g' || g
        |       WHEN k = 5 THEN 'Pad g' || g END AS headline,
        |  CASE WHEN k IN (0, 2) THEN '2024-0' || m || '-01' END AS date_published,
        |  CASE WHEN k IN (0, 2) THEN 'Author g' || g END AS author_name,
        |  CASE WHEN k = 1 THEN 'Widget g' || g END AS product_name,
        |  CASE WHEN k = 1 THEN g || '9.99' END AS price,
        |  CASE WHEN k = 1 THEN 'USD' END AS currency
        |FROM b ORDER BY doc_id""".stripMargin),

    // q250: directive arithmetic restated — noindex from meta
    // (1,3,6), header (5), and the 'none' shorthand; page-nofollow
    // from meta (2,3,5,6) and header (4); of the five planted links
    // only /a (plain) and /d (rel=sponsored) survive a follow page.
    Gate("q250_nofollow_links", Family.Graph, nofollowLinkGraph, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 8 AS k,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents)
        |SELECT doc_id,
        |  k IN (1, 3, 5, 6) AS noindex,
        |  k IN (2, 3, 4, 5, 6) AS nofollow_page,
        |  CAST(5 AS BIGINT) AS n_links_total,
        |  CAST(CASE WHEN k IN (2, 3, 4, 5, 6) THEN 0 ELSE 2 END AS BIGINT)
        |    AS n_links_kept,
        |  CASE WHEN k IN (2, 3, 4, 5, 6) THEN ''
        |       ELSE 'http://t' || g || '.com/a http://t' || g || '.com/d'
        |  END AS kept_hrefs
        |FROM b ORDER BY doc_id""".stripMargin),

    // q251: blocklist arithmetic restated — track0..2.com block their
    // ads.* subdomains, bad0/2/4.net block sub.* (bad0 dual-category,
    // sorted), good3.org matches itself exactly, notbad*.net never
    // matches (label suffix, not substring).
    Gate("q251_blocklist_curation", Family.Crawl, blocklistCuration, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 4 AS j, doc_id % 5 AS g,
        |    CAST(doc_id % 5 AS VARCHAR) AS gs
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN j = 0 THEN 'ads.track' || gs || '.com.'
        |       WHEN j = 1 THEN 'good' || gs || '.org'
        |       WHEN j = 2 THEN 'sub.bad' || gs || '.net'
        |       ELSE 'notbad' || gs || '.net' END AS host,
        |  CASE WHEN j = 0 AND g < 3 THEN 'ads'
        |       WHEN j = 1 AND g = 3 THEN 'parked'
        |       WHEN j = 2 AND g = 0 THEN 'adult,malware'
        |       WHEN j = 2 AND g IN (2, 4) THEN 'adult'
        |       ELSE '' END AS categories,
        |  (j = 0 AND g < 3) OR (j = 1 AND g = 3)
        |    OR (j = 2 AND g IN (0, 2, 4)) AS blocked
        |FROM b ORDER BY doc_id""".stripMargin),

    // q252: the same md5 + first-capture window replayed in SQL —
    // digest partitions, (ts, url) orders, row 1 is the response
    // (shared with the q265 streaming gate, see revisitOracleSql).
    Gate("q252_revisit_dedup", Family.Crawl, revisitDedup, _ => revisitOracleSql),

    // q253: expected entries restated per branch — RSS docs yield
    // items a1/a2 (channel link skipped), Atom docs yield e1/e2/e3
    // resolved against the feed URL (self links skipped).
    Gate("q253_feed_ingest", Family.Crawl, feedIngest, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 2 = 0 AS is_rss,
        |    CAST(doc_id % 6 AS VARCHAR) AS g
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, is_rss, g, idx.i AS idx
        |  FROM b CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) idx
        |  WHERE is_rss AND idx.i < 2 OR NOT is_rss)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx,
        |  CASE WHEN is_rss THEN 'rss' ELSE 'atom' END AS fmt,
        |  CASE WHEN is_rss
        |       THEN 'http://feed' || g || '.com/a' || CAST(idx + 1 AS VARCHAR)
        |       ELSE 'http://feed' || g || '.org/e' || CAST(idx + 1 AS VARCHAR)
        |  END AS url,
        |  CASE WHEN is_rss AND idx = 0 THEN 'First & g' || g
        |       WHEN is_rss THEN 'Second & g' || g
        |       WHEN idx = 0 THEN 'AOne g' || g
        |       WHEN idx = 1 THEN 'ATwo g' || g
        |       ELSE 'AThree g' || g END AS title
        |FROM e ORDER BY doc_id, idx""".stripMargin),

    // q254: expected normalized strings restated per branch — the é
    // literals here are PRECOMPOSED (U+00E9); branch k=1 plants the
    // decomposed form and must fold onto them.
    Gate("q254_unicode_normalize", Family.Lm, unicodeNormalizeGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 5 AS k,
        |    CAST(doc_id AS VARCHAR) AS s
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN k IN (0, 1) THEN 'café résumé ' || s
        |       WHEN k = 2 THEN 'ＡＢＣ１２３ ' || s
        |       WHEN k = 3 THEN 'ﬁnal ﬂow ' || s
        |       ELSE 'plain ascii ' || s END AS nfc,
        |  CASE WHEN k IN (0, 1) THEN 'café résumé ' || s
        |       WHEN k = 2 THEN 'ABC123 ' || s
        |       WHEN k = 3 THEN 'final flow ' || s
        |       ELSE 'plain ascii ' || s END AS nfkc,
        |  k = 1 AS changed_nfc,
        |  k IN (1, 2, 3) AS changed_nfkc
        |FROM b ORDER BY doc_id""".stripMargin),

    // q255: family arithmetic restated — every block of four doc_ids
    // is one alias family whose component minimum is the '/old' url
    // ('old' < 'older' < 'page' < the mirror host). Assumes the doc
    // count is a multiple of 4 (all driver SFs are).
    Gate("q255_alias_clusters", Family.Graph, aliasClusterGate, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 4 AS m,
        |    CAST(doc_id // 4 AS VARCHAR) AS f
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN m = 0 THEN 'http://fam' || f || '.com/page'
        |       WHEN m = 1 THEN 'http://fam' || f || '.com/old'
        |       WHEN m = 2 THEN 'http://mirror-fam' || f || '.net/copy'
        |       ELSE 'http://fam' || f || '.com/older' END AS url,
        |  'http://fam' || f || '.com/old' AS cluster_rep,
        |  CAST(4 AS BIGINT) AS cluster_size
        |FROM b ORDER BY doc_id""".stripMargin),

    // q256: the q139 wrapped-separator replace chain (same merge
    // table) rolled up by lang; ratios quantized to ppm in double
    // arithmetic on both engines.
    Gate("q256_tokenizer_fertility", Family.Lm, tokenizerFertility, _ => {
      val SEP = "\u001f"
      val wrapped =
        s"array_to_string(list_transform(range(1, length(w)+1), i -> '$SEP' || substr(w, i, 1) || '$SEP'), '')"
      val merged = Round10Fixtures.bpeMerges.foldLeft(wrapped) {
        case (acc, (l, r)) => s"replace($acc, '$SEP$l$SEP$SEP$r$SEP', '$SEP$l$r$SEP')"
      }
      val segExpr = s"trim(replace($merged, '$SEP$SEP', ' '), '$SEP')"
      s"""WITH d AS (SELECT lang,
         |    CASE WHEN length(trim(text)) = 0 THEN []
         |         ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
         |  FROM documents),
         |s AS (SELECT lang, len(toks) AS w,
         |    coalesce(list_sum(list_transform(toks,
         |      w -> len(string_split($segExpr, ' ')))), 0) AS p,
         |    coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS c
         |  FROM d),
         |a AS (SELECT lang, count(*) AS nd, sum(w) AS nw, sum(p) AS np,
         |    sum(c) AS nc
         |  FROM s GROUP BY lang)
         |SELECT lang, CAST(nd AS BIGINT) AS n_docs,
         |  CAST(nw AS BIGINT) AS n_words, CAST(np AS BIGINT) AS n_pieces,
         |  CAST(nc AS BIGINT) AS n_chars,
         |  CAST(floor(CAST(np AS DOUBLE) * 1000000e0 / CAST(nw AS DOUBLE)
         |    + 0.5e0) AS BIGINT) AS fertility_ppm,
         |  CAST(floor(CAST(np AS DOUBLE) * 100000000e0 / CAST(nc AS DOUBLE)
         |    + 0.5e0) AS BIGINT) AS pieces_per_100c_ppm
         |FROM a ORDER BY lang""".stripMargin
    }),

    // q257: the exact compact JSON restated by concatenation —
    // to_json emits schema-ordered fields, no whitespace; the
    // link-less branch keeps "Links":[].
    Gate("q257_wat_metadata", Family.Crawl, watMetadata, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS g,
        |    doc_id % 4 = 3 AS nolinks
        |  FROM documents)
        |SELECT doc_id,
        |  'http://w' || g || '.com/p/' || CAST(doc_id AS VARCHAR)
        |    AS target_uri,
        |  '{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"http://w'
        |    || g || '.com/p/' || CAST(doc_id AS VARCHAR)
        |    || '","WARC-Type":"response"},"Payload-Metadata":'
        |    || '{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"T '
        |    || g || '"},"Links":'
        |    || CASE WHEN nolinks THEN '[]'
        |       ELSE '[{"url":"/a' || g || '"},{"url":"http://x' || g
        |         || '.org/b"}]' END
        |    || '}}}}}' AS wat_json
        |FROM b ORDER BY doc_id""".stripMargin),

    // q258: change arithmetic restated — a URL changed unless it is a
    // mirror doc (d%10=1) or a stable doc (d%3=0); host rollup,
    // ppm-quantized rate, rank by (rate desc, host).
    Gate("q258_recrawl_priority", Family.Crawl, recrawlPriority, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 10 AS h,
        |    NOT (doc_id % 10 = 1 OR doc_id % 3 = 0) AS changed
        |  FROM documents),
        |a AS (SELECT 'rv' || CAST(h AS VARCHAR) || '.com' AS host,
        |    count(*) AS n_urls,
        |    sum(CASE WHEN changed THEN 1 ELSE 0 END) AS n_changed
        |  FROM b GROUP BY h),
        |p AS (SELECT host, CAST(n_urls AS BIGINT) AS n_urls,
        |    CAST(n_changed AS BIGINT) AS n_changed,
        |    CAST(floor(CAST(n_changed AS DOUBLE) * 1000000e0
        |      / CAST(n_urls AS DOUBLE) + 0.5e0) AS BIGINT) AS change_ppm
        |  FROM a)
        |SELECT host, n_urls, n_changed, change_ppm,
        |  CAST(rank() OVER (ORDER BY change_ppm DESC, host) AS BIGINT)
        |    AS recrawl_rank
        |FROM p ORDER BY host""".stripMargin),

    // q259: refresh arithmetic restated — k=0/4 immediate, k=1 quoted
    // uppercase URL with delay 5, k=2 reload-only (url NULL), k=3 no
    // tag, k=5 malformed delay with live target.
    Gate("q259_meta_refresh", Family.Crawl, metaRefreshRedirects, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 6 AS k,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN k IN (0, 4) THEN 0 WHEN k = 1 THEN 5
        |       WHEN k = 2 THEN 30 END AS BIGINT) AS delay,
        |  CASE WHEN k = 0 THEN '/new0'
        |       WHEN k = 1 THEN 'http://next' || g || '.com/p'
        |       WHEN k = 4 THEN 'page.html'
        |       WHEN k = 5 THEN '/x' END AS refresh_url,
        |  CASE WHEN k = 0 THEN 'http://mr' || g || '.com/new0'
        |       WHEN k = 1 THEN 'http://next' || g || '.com/p'
        |       WHEN k = 4 THEN 'http://mr' || g || '.com/dir/page.html'
        |       WHEN k = 5 THEN 'http://mr' || g || '.com/x'
        |  END AS target_url
        |FROM b ORDER BY doc_id""".stripMargin),

    // q260: two-stage resolution restated — the base (absolute,
    // relative, or absent) retargets the relative links; absolute
    // links ignore it.
    Gate("q260_base_href_links", Family.Crawl, baseHrefLinks, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 4 AS j,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, j, g, 0 AS idx, '/r0' AS href,
        |    CASE WHEN j = 0 OR j = 2 THEN 'http://b' || g || '.com/r0'
        |         WHEN j = 1 THEN 'http://cdn' || g || '.org/r0'
        |         ELSE 'http://ignored.com/r0' END AS resolved_url
        |  FROM b
        |  UNION ALL
        |  SELECT doc_id, j, g, 1 AS idx,
        |    CASE WHEN j = 3 THEN 'http://abs.com/x' ELSE 'a.html' END AS href,
        |    CASE WHEN j = 0 THEN 'http://b' || g || '.com/dir/a.html'
        |         WHEN j = 1 THEN 'http://cdn' || g || '.org/assets/a.html'
        |         WHEN j = 2 THEN 'http://b' || g || '.com/dir/sub/a.html'
        |         ELSE 'http://abs.com/x' END AS resolved_url
        |  FROM b)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx, href, resolved_url
        |FROM e ORDER BY doc_id, idx""".stripMargin),

    // q261: sitemap metadata restated — full-metadata, loc-only, and
    // malformed-priority (NULL) blocks; due_soon = daily/weekly OR
    // stale lastmod.
    Gate("q261_sitemap_metadata", Family.Crawl, sitemapEntryMetadata, _ =>
      """WITH b AS (SELECT doc_id, CAST(doc_id % 9 AS VARCHAR) AS g,
        |    CAST(doc_id % 9 + 1 AS VARCHAR) AS m
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, 0 AS idx, 'http://sm' || g || '.com/a' AS loc,
        |    '2024-0' || m || '-15' AS lastmod, 'daily' AS changefreq,
        |    CAST(0.8e0 AS DOUBLE) AS priority, true AS due_soon
        |  FROM b
        |  UNION ALL
        |  SELECT doc_id, 1, 'http://sm' || g || '.com/b', NULL, NULL, NULL,
        |    false
        |  FROM b
        |  UNION ALL
        |  SELECT doc_id, 2, 'http://sm' || g || '.com/c?x=1&y=2',
        |    '2023-12-01', 'monthly', NULL, true
        |  FROM b)
        |SELECT doc_id, CAST(idx AS BIGINT) AS idx, loc, lastmod, changefreq,
        |  priority, due_soon
        |FROM e ORDER BY doc_id, idx""".stripMargin),

    // q262: the variant map restated — en/x-default (k=0), en/fr/
    // x-default with case-folded FR (k=1), alternate-free page (k=2,
    // one NULL row from the outer explode); the feed link (no
    // hreflang) and the stylesheet never appear.
    Gate("q262_hreflang_variants", Family.Crawl, hreflangVariants, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 3 AS k,
        |    CAST(doc_id % 5 AS VARCHAR) AS g
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, CAST(NULL AS BIGINT) AS idx,
        |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS href
        |  FROM b WHERE k = 2
        |  UNION ALL
        |  SELECT doc_id, 0, 'en', 'http://hl' || g || '.com/en/p'
        |  FROM b WHERE k IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    CASE WHEN k = 1 THEN 'fr' ELSE 'x-default' END,
        |    CASE WHEN k = 1 THEN 'http://hl' || g || '.com/fr/p'
        |         ELSE 'http://hl' || g || '.com/p' END
        |  FROM b WHERE k IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, 2, 'x-default', 'http://hl' || g || '.com/p'
        |  FROM b WHERE k = 1)
        |SELECT doc_id, idx, lang, href
        |FROM e ORDER BY doc_id, idx""".stripMargin),

    // q263: the unified frontier restated from channel arithmetic —
    // per residue family g: /a = link+sitemap (2 refs/doc), /b =
    // feed+link (the utm param dies in canonicalization), /c =
    // refresh from EVEN docs only, /d = hreflang.
    Gate("q263_frontier_unify", Family.Crawl, frontierUnify, _ =>
      """WITH d AS (SELECT doc_id, doc_id % 10 AS g,
        |    (doc_id // 10) % 2 = 0 AS even
        |  FROM documents),
        |c AS (SELECT g, count(*) AS ng,
        |    sum(CASE WHEN even THEN 1 ELSE 0 END) AS ne
        |  FROM d GROUP BY g),
        |e AS (
        |  SELECT 'http://f' || CAST(g AS VARCHAR) || '.com/a' AS url,
        |    'link,sitemap' AS channels, 2 * ng AS n_refs FROM c
        |  UNION ALL
        |  SELECT 'http://f' || CAST(g AS VARCHAR) || '.com/b',
        |    'feed,link', 2 * ng FROM c
        |  UNION ALL
        |  SELECT 'http://f' || CAST(g AS VARCHAR) || '.com/c',
        |    'refresh', ne FROM c
        |  UNION ALL
        |  SELECT 'http://f' || CAST(g AS VARCHAR) || '.com/d',
        |    'hreflang', ng FROM c)
        |SELECT url, channels, CAST(n_refs AS BIGINT) AS n_refs
        |FROM e ORDER BY url""".stripMargin),

    // q264: the same first-occurrence window replayed in SQL — the
    // dedupable key is the trimmed line, exempt (blank) rows get a
    // unique key, first (doc_id, pos) wins globally.
    Gate("q264_line_dedup_global", Family.Dedup, lineDedupGlobal, _ =>
      """WITH f AS (SELECT doc_id,
        |    'Shared Header ' || CAST(doc_id % 4 AS VARCHAR) || chr(10) ||
        |    text || chr(10) || chr(10) ||
        |    'Shared Footer ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
        |    'unique line ' || CAST(doc_id AS VARCHAR) AS t2
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(generate_series(1, len(ls))) AS pos,
        |    unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM f)),
        |r AS (SELECT doc_id, pos, line,
        |    row_number() OVER (
        |      PARTITION BY CASE WHEN length(trim(line)) >= 1
        |          THEN 'd:' || trim(line)
        |          ELSE 'u:' || CAST(doc_id AS VARCHAR) || ':'
        |            || CAST(pos AS VARCHAR) END
        |      ORDER BY doc_id, pos) AS rn
        |  FROM l)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
        |    ORDER BY pos), '') AS text,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // q269: trap arithmetic replayed data-driven — counts from the
    // same residue classes, share quantized, the ≥60% + '{n}' rule.
    Gate("q269_crawl_traps", Family.Crawl, crawlTrapDetection, _ =>
      """WITH b AS (SELECT doc_id, doc_id % 4 AS h,
        |    (doc_id // 4) % 2 = 1 AS alt
        |  FROM documents),
        |t AS (SELECT h,
        |    CASE WHEN h = 0 THEN '/cal/{n}/{n}'
        |         WHEN h = 1 AND alt THEN '/p/{n}'
        |         WHEN h = 1 THEN '/about'
        |         WHEN h = 2 THEN '/static/a.css'
        |         WHEN alt THEN '/item/{n}'
        |         ELSE '/faq' END AS template
        |  FROM b),
        |g AS (SELECT h, template, count(*) AS n FROM t GROUP BY h, template),
        |w AS (SELECT h, template, n, sum(n) OVER (PARTITION BY h) AS tot
        |  FROM g)
        |SELECT 'trap' || CAST(h AS VARCHAR) || '.com' AS host, template,
        |  CAST(n AS BIGINT) AS n_urls, CAST(tot AS BIGINT) AS host_total,
        |  CAST(floor(CAST(n AS DOUBLE) * 100.0e0 / CAST(tot AS DOUBLE)
        |    + 0.5e0) AS BIGINT) AS share_pct,
        |  floor(CAST(n AS DOUBLE) * 100.0e0 / CAST(tot AS DOUBLE) + 0.5e0)
        |    >= 60 AND template LIKE '%{n}%' AS trap
        |FROM w ORDER BY host, template""".stripMargin),

    // q270: reciprocity restated — even pages always declare their
    // sibling (reciprocal unless the f%3=0 odd page omitted the
    // backlink); surviving odd-page edges are always reciprocal.
    Gate("q270_hreflang_reciprocity", Family.Crawl, hreflangReciprocity, _ =>
      """WITH b AS (SELECT doc_id, doc_id // 2 AS f, doc_id % 2 = 0 AS ev
        |  FROM documents),
        |e AS (
        |  SELECT 'http://hr' || CAST(f AS VARCHAR) || '.com/en' AS src,
        |    'http://hr' || CAST(f AS VARCHAR) || '.com/fr' AS dst,
        |    'fr' AS lang, f % 3 <> 0 AS reciprocal
        |  FROM b WHERE ev
        |  UNION ALL
        |  SELECT 'http://hr' || CAST(f AS VARCHAR) || '.com/fr',
        |    'http://hr' || CAST(f AS VARCHAR) || '.com/en', 'en', true
        |  FROM b WHERE NOT ev AND f % 3 <> 0)
        |SELECT src, dst, lang, reciprocal FROM e ORDER BY src""".stripMargin),
  )
}
