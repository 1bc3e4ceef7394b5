package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 gates. Each query sits next to its `Gate` entry and
  * DuckDB oracle.
  */
private[graft] trait PipelinesRound16 extends PipelinesBase {

  /** Transfer/content-decoded HTTP bodies as a hash gate
    * ([[graft.ext.Http.decodeBodyFull]], r15 verdict ask #1): real
    * crawl responses routinely carry `Transfer-Encoding: chunked`
    * and/or `Content-Encoding: gzip`/`deflate`, and the plain
    * [[graft.ext.Http.bodyOf]] would feed chunk-size hex lines or raw
    * deflate bytes into every text operator downstream. Per doc a
    * REAL byte payload is built with every layer live —
    *
    *   - identity (the parity branch with q224's native path),
    *   - chunked framing (multi-chunk, with a chunk EXTENSION and a
    *     TRAILER header by sub-branch — both must be consumed, never
    *     leak into the text),
    *   - gzip and deflate content codings (deflate in BOTH wire forms:
    *     zlib-wrapped per RFC 9110 and the raw form real servers ship),
    *   - chunked OVER gzip (strip order: framing first, then content
    *     coding — the wire-inverse),
    *   - a TRUNCATED chunk stream and an unsupported `br` coding, both
    *     of which must quarantine to NULL, never emit framing noise.
    *
    * The oracle restates the expected text per branch from the
    * generator arithmetic (compression and framing are transparent to
    * it by construction — the text survives byte-exact or nulls).
    */
  def httpTransferDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        def gz(b: Array[Byte]): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos)
          g.write(b); g.close()
          bos.toByteArray
        }
        def zlib(b: Array[Byte], raw: Boolean): Array[Byte] = {
          val defl = new java.util.zip.Deflater(6, raw)
          defl.setInput(b); defl.finish()
          val buf = new Array[Byte](b.length * 2 + 64)
          val n = defl.deflate(buf); defl.end()
          java.util.Arrays.copyOf(buf, n)
        }
        def chunked(b: Array[Byte], size: Int, ext: Boolean,
            trailer: Boolean): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          b.grouped(size).foreach { part =>
            val sizeLine = part.length.toHexString +
              (if (ext) ";x=1" else "") + "\r\n"
            bos.write(sizeLine.getBytes("US-ASCII"))
            bos.write(part)
            bos.write("\r\n".getBytes("US-ASCII"))
          }
          bos.write(("0\r\n" + (if (trailer) "X-Trailer: t\r\n" else "") +
            "\r\n").getBytes("US-ASCII"))
          bos.toByteArray
        }
        it.map { i =>
          val text = s"crawl body $i é${i % 7}"
          val utf8 = text.getBytes("UTF-8")
          val (extraHeaders, body) =
            if (i % 11 == 0) // truncated chunk stream → NULL quarantine
              ("Transfer-Encoding: chunked\r\n",
                chunked(utf8, 5, ext = false, trailer = false).dropRight(7))
            else if (i % 13 == 0) // unsupported coding → NULL quarantine
              ("Content-Encoding: br\r\n", utf8)
            else (i % 5) match {
              case 0 => ("", utf8)
              case 1 => ("Transfer-Encoding: chunked\r\n",
                chunked(utf8, 5, ext = i % 10 == 1, trailer = i % 10 == 6))
              case 2 => ("Content-Encoding: gzip\r\n", gz(utf8))
              case 3 => ("Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n",
                chunked(gz(utf8), 7, ext = false, trailer = false))
              case _ => ("Content-Encoding: deflate\r\n",
                zlib(utf8, raw = i % 10 == 9))
            }
          val header = "HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
            "charset=utf-8\r\n" + extraHeaders + "\r\n"
          (i, header.getBytes("US-ASCII") ++ body)
        }
      }.toDF("doc_id", "payload")
    graft.ext.Http.decodeBodyFull(payloads, "doc_id", "payload")
      .orderBy("doc_id")
  }

  /** PSL WILDCARD and EXCEPTION rules as a hash gate
    * ([[graft.ext.Urls.withRegisteredDomainPsl]], r15 verdict ask #3):
    * the real publicsuffix.org list carries ~2k `*.`/`!` lines
    * (`*.ck`, `*.kawasaki.jp`, `!www.ck`) that the exact-entry subset
    * q218 gates had to refuse; domains in those families group wrong
    * in per-domain caps and link graphs without them. Per doc a host
    * exercises every precedence branch — a wildcard-suffixed
    * registrable (`a.b.ck`), an exception under a subdomain
    * (`x.www.ck` → `www.ck`), a host that IS a wildcard-matched
    * suffix (strict NULL), the deep-wildcard family
    * (`*.kawasaki.jp` beating plain `jp`), a wildcard-suffix-only
    * host (NULL), a plain entry riding along, and IPv4 literals. The
    * oracle states the registered domain per branch; UrlsSpec pins
    * the full exception-beats-wildcard-beats-plain table unit-side.
    */
  def pslWildcardDomains(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(floor(i / 6), lit(7)).cast("string")
    val host = when(pmod(i, lit(11)) === 0,
        concat(lit("10.1."), pmod(i, lit(4)).cast("string"), lit("."),
          pmod(i, lit(9)).cast("string")))
      .when(pmod(i, lit(6)) === 0, concat(lit("a"), k, lit(".b.ck")))
      .when(pmod(i, lit(6)) === 1, concat(lit("x"), k, lit(".www.ck")))
      .when(pmod(i, lit(6)) === 2, concat(lit("b"), k, lit(".ck")))
      .when(pmod(i, lit(6)) === 3,
        concat(lit("s"), k, lit(".city.kawasaki.jp")))
      .when(pmod(i, lit(6)) === 4,
        concat(lit("city"), k, lit(".kawasaki.jp")))
      .otherwise(concat(lit("cdn"), k, lit(".shop"), k, lit(".com")))
    val suffixes = Seq("com", "ck", "*.ck", "!www.ck", "jp", "*.kawasaki.jp")
    val hosts = t(s, d, "documents").select(col("doc_id"), host.as("host"))
    graft.ext.Urls.withRegisteredDomainPsl(hosts, "host", suffixes)
      .select(col("doc_id"), col("host"), col("registered_domain"))
      .orderBy("doc_id")
  }

  /** Full-JRE charset decoding as a hash gate
    * ([[graft.ext.Http.decodeBodyFull]]'s charset layer, r15 verdict
    * ask #2): the native [[graft.ext.Http.decodeBody]] quarantines
    * everything outside UTF-8/Latin-1/ASCII/cp1252 — correct
    * discipline, but a multilingual crawl silently drops whole
    * languages. The JVM gear decodes the full `java.nio.charset` set;
    * per doc a body is REALLY ENCODED in Shift_JIS / GBK / EUC-KR /
    * Big5 / KOI8-R and must come back character-exact (the oracle
    * states the Unicode text per branch), with a still-unknown
    * charset branch proving the quarantine remains. HttpSpec pins the
    * JVM path ≡ native path on the shared charsets, so this gate plus
    * q224 cover both gears without drift.
    */
  /** IDN/punycode host folding as a hash gate
    * ([[graft.ext.Urls.withIdnFoldedUrl]], r15 verdict ask #5): an
    * internationalized site appears in crawls BOTH as its Unicode
    * host and as the `xn--` wire form, and without folding the two
    * split URL identity — double-counting the site in dedup,
    * per-domain caps, and the link graph. Per doc one of nine
    * branches —
    *
    *   - the COLLAPSE pair: `bücher.example` (branch 0) and
    *     `xn--bcher-kva.example` (branch 1) paths built from the SAME
    *     k, so after fold + canonicalize their canonical URLs are
    *     string-equal and the window `dup_count` proves the merge,
    *   - a Unicode host WITH an explicit non-default port and a
    *     tracking param (`東京.jp:8443` — fold keeps the port,
    *     canonicalize keeps it too and drops the param),
    *   - an UPPERCASE Unicode host (`MÜNCHEN.de` — nameprep
    *     case-folds before punycode),
    *   - a Unicode TLD (`пример.рф` → `xn--e1afmkfd.xn--p1ai` — the
    *     suffix itself folds),
    *   - a k-VARYING Unicode host family (`café{k}.fr` — the
    *     distinct-host gear maps each member),
    *   - an UNFOLDABLE host (`é..example`, empty label — the codec
    *     rejects it and the URL passes through unchanged:
    *     quarantine-keep, never corruption),
    *   - a pure-ASCII URL (the crawl majority — the codegen fast
    *     path, byte-identical passthrough),
    *   - a no-`://` string (cannot locate an authority → unchanged,
    *     canonical NULL).
    *
    * The oracle states url, folded form, and canonical per branch
    * from the generator arithmetic (punycode constants verified
    * against `java.net.IDN`), and replays the dup-count window.
    */
  def idnHostFold(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val i = col("doc_id")
    val k = pmod(floor(i / 9), lit(5)).cast("string")
    val m = pmod(i, lit(4)).cast("string")
    val b = pmod(i, lit(9))
    val url = when(b === 0, concat(lit("http://bücher.example/p/"), k))
      .when(b === 1, concat(lit("http://xn--bcher-kva.example/p/"), k))
      .when(b === 2, concat(lit("https://東京.jp:8443/t?id="), m, lit("&utm_x=1")))
      .when(b === 3, concat(lit("http://MÜNCHEN.de/x/"), k))
      .when(b === 4, lit("http://пример.рф/r"))
      .when(b === 5, concat(lit("http://café"), k, lit(".fr/c")))
      .when(b === 6, lit("http://é..example/q"))
      .when(b === 7, concat(lit("http://plain"), k, lit(".example/a?z="), m))
      .otherwise(concat(lit("no-scheme-"), k))
    val urls = t(s, d, "documents").select(col("doc_id"), url.as("url"))
    graft.ext.Urls.withIdnFoldedUrl(urls, "url")
      .withColumn("canonical_url",
        when(instr(col("url"), "://") > 0,
          graft.ext.Urls.canonicalizeUrl(col("url_idn")))
          .otherwise(lit(null).cast("string")))
      .withColumn("dup_count",
        count(lit(1)).over(Window.partitionBy(col("canonical_url"))))
      .select(col("doc_id"), col("url"), col("url_idn"),
        col("canonical_url"), col("dup_count"))
      .orderBy("doc_id")
  }

  /** robots.txt → sitemap → frontier wiring as a hash gate
    * ([[graft.ext.RobotsTxt.parseSitemaps]] +
    * [[graft.ext.Html.extractSitemapLocs]], r15 verdict ask #7): the
    * `Sitemap:` directive [[graft.ext.RobotsTxt.parseRules]]
    * deliberately flows past IS the frontier feed — a crawler reads
    * it out of robots.txt, fetches the sitemap, and when that sitemap
    * is a `<sitemapindex>` recurses ONE level into its children. Per
    * doc the robots body branches —
    *
    *   - even k: a `Sitemap:` pointing at a `<sitemapindex>` whose two
    *     children (whitespace-padded `<loc>`s) are urlsets,
    *   - odd k: a lowercase `sitemap:` directive with a TRAILING
    *     COMMENT pointing straight at a urlset,
    *   - k % 3 == 0: a SECOND `Sitemap:` line (direct urlset) — even k
    *     then reaches pages_b BOTH ways, level-tagged apart,
    *
    * and every "fetch" is a broadcast join of the URL against a
    * (fetch_url, xml) body table — the rules-as-data discipline, never
    * string synthesis at the consumer. Page locs carry mixed case, a
    * tracking param, the spec-REQUIRED `&amp;` escaping, `www.` and a
    * trailing slash, so the canonicalization composition stays
    * hash-visible. The oracle replays directive extraction, the
    * one-level recursion, and the canonical arithmetic per branch.
    */
  def robotsSitemapWiring(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(7))
    val ks = k.cast("string")
    val robots = concat(
      lit("# robots\nUser-agent: *\nDisallow: /tmp\n"),
      when(pmod(k, lit(2)) === 0,
        concat(lit("Sitemap: https://site"), ks, lit(".com/sm_index.xml\n")))
        .otherwise(concat(lit("sitemap: https://site"), ks,
          lit(".com/pages_a.xml # mirror\n"))),
      when(pmod(k, lit(3)) === 0,
        concat(lit("Sitemap: https://site"), ks, lit(".com/pages_b.xml\n")))
        .otherwise(lit("")))
    val docs = t(s, d, "documents")
      .select(col("doc_id"), robots.as("robots_txt"))
    val smUrls = docs.select(col("doc_id"),
      explode(graft.ext.RobotsTxt.parseSitemaps(col("robots_txt")))
        .as("sm_url"))
    // the fixture fetch table: one body per sitemap URL; the broadcast
    // join IS the fetch (bodies are data, never consumer-side strings)
    val kb = col("id").cast("string")
    val xmlns = "<?xml version=\"1.0\"?>"
    val idxBody = concat(lit(xmlns +
        "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<sitemap><loc>https://site"), kb,
      lit(".com/pages_a.xml</loc></sitemap><sitemap><loc>\n  https://site"),
      kb, lit(".com/pages_b.xml </loc></sitemap></sitemapindex>"))
    val aBody = concat(lit(xmlns +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<url><loc>HTTPS://Site"), kb, lit(".COM/a/0?id="), kb,
      lit("&amp;utm_x=1</loc><priority>0.5</priority></url>" +
        "<url><loc>HTTPS://Site"), kb, lit(".COM/a/1?id="), kb,
      lit("&amp;utm_x=1</loc></url></urlset>"))
    val bBody = concat(lit(xmlns +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<url><loc>http://www.site"), kb, lit(".com/b/0/</loc></url></urlset>"))
    def fetchUrl(leaf: String) =
      concat(lit("https://site"), kb, lit(".com/" + leaf))
    val base = s.range(7)
    val bodies =
      base.select(fetchUrl("sm_index.xml").as("fetch_url"), idxBody.as("xml"))
        .unionByName(base.select(
          fetchUrl("pages_a.xml").as("fetch_url"), aBody.as("xml")))
        .unionByName(base.select(
          fetchUrl("pages_b.xml").as("fetch_url"), bBody.as("xml")))
    val fetched = smUrls
      .join(broadcast(bodies), col("sm_url") === col("fetch_url"))
      .drop("fetch_url")
    val isIdx = instr(col("xml"), "<sitemapindex") > 0
    val direct = fetched.filter(!isIdx).select(col("doc_id"),
      lit(0).as("level"), col("sm_url"),
      explode(graft.ext.Html.extractSitemapLocs(col("xml"))).as("loc"))
    // ONE recursion level: index children are sitemap URLs — fetch
    // again, extract their page locs
    val level1 = fetched.filter(isIdx)
      .select(col("doc_id"),
        explode(graft.ext.Html.extractSitemapLocs(col("xml"))).as("child_url"))
      .join(broadcast(bodies), col("child_url") === col("fetch_url"))
      .select(col("doc_id"), lit(1).as("level"),
        col("child_url").as("sm_url"),
        explode(graft.ext.Html.extractSitemapLocs(col("xml"))).as("loc"))
    direct.unionByName(level1)
      .withColumn("canonical_url", graft.ext.Urls.canonicalizeUrl(col("loc")))
      .select(col("doc_id"), col("level"), col("sm_url"), col("canonical_url"))
      .orderBy("doc_id", "level", "canonical_url")
  }

  /** Crawl-delay politeness scheduling as a hash gate
    * ([[graft.ext.RobotsTxt.parseCrawlDelay]] +
    * [[graft.ext.Urls.schedulePolite]]): the pacing knob between a
    * robots-filtered frontier and the fetcher. Per host (20 distinct,
    * branch k = host mod 6) the robots body exercises —
    *
    *   - no directive (k 0) → the 1.0 s default,
    *   - a delay whose group is then CLOSED by a later UA line (k 1 —
    *     the stacking-end rule: `b`'s rules never bind to `*`),
    *   - a DECIMAL delay before rules (k 2),
    *   - a delay in ANOTHER agent's group only (k 3) → default,
    *   - a malformed value (`fast`, k 4) → NULL, never a guess →
    *     default,
    *   - a delay AFTER rules in the same `*` group (k 5) → honored,
    *
    * then three frontier URLs per doc serialize per host into fetch
    * slots across the whole corpus (`row_number` by uid), offset by
    * `slot × delay`. Delays are binary-exact doubles (3, 0.5, 2.5, 1)
    * so the offset arithmetic hashes clean. The oracle replays the
    * branch table, the window, and the offsets.
    */
  def crawlDelaySchedule(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val m = pmod(i, lit(20))
    val k = pmod(m, lit(6))
    val host = concat(lit("site"), m.cast("string"), lit(".com"))
    val robots = when(k === 0, lit("User-agent: *\nDisallow: /tmp\n"))
      .when(k === 1,
        lit("User-agent: *\nCrawl-delay: 3\nUser-agent: b\nDisallow: /z\n"))
      .when(k === 2,
        lit("User-agent: *\nCrawl-delay: 0.5\nDisallow: /p\n"))
      .when(k === 3,
        lit("User-agent: bot\nCrawl-delay: 9\n\nUser-agent: *\nDisallow: /x\n"))
      .when(k === 4, lit("User-agent: *\nCrawl-delay: fast\n"))
      .otherwise(lit("User-agent: *\nDisallow: /y\nCrawl-delay: 2.5\n"))
    val hostDocs = t(s, d, "documents")
      .select(col("doc_id"), host.as("host"), robots.as("txt"))
    // the robots "fetch" result: one parsed delay per distinct host —
    // rules-as-data, broadcast back onto the frontier
    val delays = hostDocs.select(col("host"), col("txt")).distinct()
      .select(col("host"),
        graft.ext.RobotsTxt.parseCrawlDelay(col("txt")).as("crawl_delay"))
    val frontier = hostDocs.select(col("doc_id"), col("host"),
        posexplode(array(lit("/a"), lit("/b"), lit("/c")))
          .as(Seq("url_ord", "path")))
      .withColumn("uid", i * 3 + col("url_ord"))
    graft.ext.Urls.schedulePolite(
        frontier.join(broadcast(delays), Seq("host")),
        "host", "uid", "crawl_delay", defaultDelaySecs = 1.0)
      .select(col("doc_id"), col("url_ord"), col("host"),
        col("crawl_delay"), col("fetch_slot"), col("fetch_offset_secs"))
      .orderBy("doc_id", "url_ord")
  }

  /** WARC WRITE → READ round trip as a hash gate
    * ([[graft.ext.Warc.buildWarcColumn]] inverting
    * [[graft.ext.Warc.parseWarcColumn]]): an engine that re-shards or
    * re-emits crawl archives needs the OUTPUT side of the container,
    * and a writer that drifts from the reader's framing poisons every
    * downstream archive silently. Per doc 1–3 records whose payloads
    * carry BOTH hazards the framing must survive — multibyte UTF-8
    * (`é`: Content-Length counts bytes, not chars) and an embedded
    * `WARC/1.0` magic (length-driven framing, never magic-scanning) —
    * are built into one blob per doc (even docs as per-record gzip
    * members, odd docs plain), then parsed BACK by the production
    * reader. The oracle restates every parsed field from the
    * generator arithmetic: a writer that miscounted bytes, reordered
    * records, or leaked framing into payloads changes rows.
    */
  def warcRoundTrip(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(7)).cast("string")
    val recs = t(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), pmod(i, lit(3)))).as("j"))
      .select(col("doc_id"), col("j"),
        when(pmod(col("j"), lit(2)) === 0, lit("response"))
          .otherwise(lit("request")).as("warc_type"),
        concat(lit("http://rt"), k, lit(".com/p/"), col("j")).as("target_uri"),
        concat(lit("<urn:uuid:rt-"), i, lit("-"), col("j"), lit(">"))
          .as("record_id"),
        encode(concat(lit("page é"), k, lit(" <html>WARC/1.0 hazard</html> "),
          i, lit("-"), col("j")), "UTF-8").as("payload"))
    def roundTrip(part: DataFrame, gz: Boolean) =
      graft.ext.Warc.parseWarcColumn(
        graft.ext.Warc.buildWarcColumn(part, "doc_id", "j", "warc_type",
          "target_uri", "record_id", "payload", gzipped = gz),
        "doc_id", "warc_blob", gzipped = gz)
        .withColumn("gz", lit(if (gz) 1 else 0))
    roundTrip(recs.filter(pmod(i, lit(2)) === 0), gz = true)
      .unionByName(roundTrip(recs.filter(pmod(i, lit(2)) === 1), gz = false))
      .select(col("doc_id"), col("rec_idx"), col("warc_type"),
        col("target_uri"), col("record_id"), col("content_length"),
        decode(col("payload"), "UTF-8").as("body_text"), col("gz"))
      .orderBy("doc_id", "rec_idx")
  }

  /** HTML metadata harvest as a hash gate
    * ([[graft.ext.Html.extractMetaContent]] +
    * [[graft.ext.Html.extractCanonicalHref]]): the WAT-style per-page
    * metadata a crawl pipeline extracts beside the text — title,
    * description, `og:url`, and the page's own dedup vote, `<link
    * rel=canonical>`. Branches cover both meta attribute ORDERS
    * (`name=… content=…` double-quoted vs `content=… name=…`
    * single-quoted with an UNQUOTED name), the `property=` keying of
    * OpenGraph, absent title/description/canonical, entity decoding
    * (`&amp;` in title and description), and both link attribute
    * orders. The canonical identity —
    * `canonicalizeUrl(coalesce(canonical_href, page_url))` — then
    * collapses page VARIANTS onto their declared target (mixed case,
    * `:80`, a tracking param all die), and the window `dup_count`
    * proves the grouping. The oracle restates every field and replays
    * the window.
    */
  def htmlMetadata(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val i = col("doc_id")
    val k = pmod(i, lit(8))
    val g = pmod(floor(i / 2), lit(5)).cast("string")
    val titlePart = when(k === 7, lit(""))
      .otherwise(concat(lit("<title> Page &amp; Co "), g, lit(" </title>")))
    val descPart = when(k === 5, lit(""))
      .when(pmod(k, lit(2)) === 0,
        concat(lit("<meta name=\"description\" content=\"Desc &amp; d"), g,
          lit("\">")))
      .otherwise(concat(lit("<meta content='Desc & d"), g,
        lit("' name=description>")))
    val ogPart = when(pmod(k, lit(3)) === 0,
        concat(lit("<meta property=\"og:url\" content=\"https://og"), g,
          lit(".com/x\">")))
      .otherwise(lit(""))
    val canonHref = concat(lit("HTTP://Site"), g, lit(".COM:80/page/"), g,
      lit("?utm_z=1"))
    val canonPart = when(k >= 6, lit(""))
      .when(pmod(k, lit(2)) === 0,
        concat(lit("<link rel=\"canonical\" href=\""), canonHref, lit("\">")))
      .otherwise(concat(lit("<link href='"), canonHref,
        lit("' rel=canonical>")))
    val html = concat(lit("<html><head>"), titlePart, descPart, ogPart,
      canonPart, lit("</head><body><p>body</p></body></html>"))
    val pageUrl = concat(lit("http://self"), pmod(i, lit(10)).cast("string"),
      lit(".com/p/"), pmod(i, lit(4)).cast("string"))
    t(s, d, "documents")
      .select(col("doc_id"), html.as("html"), pageUrl.as("page_url"))
      .select(col("doc_id"),
        graft.ext.Html.extractTitle(col("html")).as("title"),
        graft.ext.Html.extractMetaContent(col("html"), "description")
          .as("description"),
        graft.ext.Html.extractMetaContent(col("html"), "og:url").as("og_url"),
        graft.ext.Html.extractCanonicalHref(col("html")).as("canonical_href"),
        col("page_url"))
      .withColumn("canonical_url", graft.ext.Urls.canonicalizeUrl(
        coalesce(col("canonical_href"), col("page_url"))))
      .withColumn("dup_count",
        count(lit(1)).over(Window.partitionBy(col("canonical_url"))))
      .select(col("doc_id"), col("title"), col("description"), col("og_url"),
        col("canonical_href"), col("canonical_url"), col("dup_count"))
      .orderBy("doc_id")
  }

  /** Anchor-text link graph as a hash gate
    * ([[graft.ext.Html.extractAnchors]] →
    * [[graft.ext.Urls.resolveUrl]] →
    * [[graft.ext.Urls.canonicalizeUrl]] → per-target aggregation):
    * anchor text is how the web DESCRIBES a target page — retrieval
    * and quality pipelines aggregate it per canonical target, which
    * takes the full composition: harvest anchors with their visible
    * text (nested `<b>` stripped, `&amp;` decoded), resolve each href
    * against its page (root-relative, absolute, and QUERY-ONLY merge
    * branches all live), canonicalize (trailing slash dies), then a
    * two-level aggregation — (target, text) counts, then per-target
    * in-degree, distinct-text count, and the MODE anchor text
    * (`max(struct(n, text))`: ties break toward the
    * lexicographically larger text, deterministically). The oracle
    * replays the whole composition from the generator arithmetic.
    */
  def anchorTextGraph(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val t1 = pmod(i, lit(5)).cast("string")
    val t2 = pmod(i + 1, lit(5)).cast("string")
    val html = concat(
      lit("<html><body><a href=\"/t/"), t1,
      lit("\">Go <b>now</b> &amp; read "), pmod(i, lit(2)).cast("string"),
      lit("</a><a href='http://hub.com/t/"), t2, lit("/'>Hub "), t2,
      lit("</a><a href=?p="), t1, lit(">Query "), t1,
      lit("</a></body></html>"))
    val pageUrl = concat(lit("http://self.com/d"),
      pmod(i, lit(3)).cast("string"), lit("/page.html"))
    val anchors = t(s, d, "documents")
      .select(col("doc_id"), html.as("html"), pageUrl.as("page_url"))
      .select(col("page_url"),
        explode(graft.ext.Html.extractAnchors(col("html"))).as("a"))
      .select(col("page_url"), col("a.href").as("href"),
        col("a.text").as("text"))
    // resolveUrl STAGED before canonicalizeUrl: the canonicalizer
    // references its input ~20×, and inlining would re-expand the
    // whole resolve tree per reference (the q216 staging discipline)
    val resolved = anchors
      .withColumn("resolved_url",
        graft.ext.Urls.resolveUrl(col("page_url"), col("href")))
      .withColumn("target_url",
        graft.ext.Urls.canonicalizeUrl(col("resolved_url")))
    val byText = resolved.groupBy(col("target_url"), col("text"))
      .agg(count(lit(1)).as("n"))
    byText.groupBy(col("target_url"))
      .agg(sum(col("n")).as("in_degree"),
        count(lit(1)).as("n_texts"),
        max(struct(col("n").as("n"), col("text").as("text")))
          .getField("text").as("top_text"))
      .orderBy("target_url")
  }

  /** Redirect-chain resolution as a hash gate
    * ([[graft.ext.Urls.followRedirects]], fed by
    * [[graft.ext.Http.statusOf]]/[[graft.ext.Http.headerOf]]): a crawl
    * keyed by final URLs has to walk 3xx chains, and every chain
    * pathology is planted per site family m — a 2-edge chain to a
    * terminal page (relative AND absolute `Location` values both
    * live), a 2-cycle entered from both of its nodes, a redirect to a
    * never-fetched URL (`dangling` — the next crawl pass's frontier),
    * and a 3-edge chain that exhausts `maxHops = 3` (`hop_limit`,
    * honestly reported even though its tail is terminal). The
    * composition is the production one: status + Location parse →
    * staged resolve → canonicalize → bounded pointer-chasing joins.
    * The oracle states (status, target, outcome, final, hops) per
    * node from the chain topology.
    */
  def redirectChains(s: SparkSession, d: String): DataFrame = {
    val nodes = t(s, d, "documents")
      .select(pmod(col("doc_id"), lit(10)).cast("string").as("m")).distinct()
      .select(col("m"), explode(sequence(lit(0), lit(6))).as("j"))
    val letter = element_at(
      array(Seq("a", "b", "c", "d", "e", "f", "g").map(lit): _*),
      col("j") + 1)
    val payload = when(col("j") === 0,
        lit("HTTP/1.1 301 Moved\r\nLocation: /hop/b\r\n\r\n"))
      .when(col("j") === 1, concat(
        lit("HTTP/1.1 302 Found\r\nLocation: http://s"), col("m"),
        lit(".com/hop/c\r\n\r\n")))
      .when(col("j") === 2, lit("HTTP/1.1 200 OK\r\n\r\nok"))
      .when(col("j") === 3,
        lit("HTTP/1.1 301 Moved\r\nLocation: /hop/e\r\n\r\n"))
      .when(col("j") === 4,
        lit("HTTP/1.1 301 Moved\r\nLocation: /hop/d\r\n\r\n"))
      .when(col("j") === 5,
        lit("HTTP/1.1 302 Found\r\nLocation: /hop/x\r\n\r\n"))
      .otherwise(lit("HTTP/1.1 301 Moved\r\nLocation: /hop/a\r\n\r\n"))
    val pages = nodes
      .select(concat(lit("http://s"), col("m"), lit(".com/hop/"), letter)
          .as("url"),
        payload.as("payload"))
      .withColumn("status", graft.ext.Http.statusOf(col("payload")))
      .withColumn("loc", graft.ext.Http.headerOf(col("payload"), "Location"))
      // staged resolve (q216 discipline) before the canonicalizer
      .withColumn("resolved",
        graft.ext.Urls.resolveUrl(col("url"), col("loc")))
      .withColumn("redirect_to",
        when(col("status").isin(301, 302, 303, 307, 308) && col("loc") =!= "",
          graft.ext.Urls.canonicalizeUrl(col("resolved")))
          .otherwise(lit(null).cast("string")))
    graft.ext.Urls.followRedirects(pages, "url", "redirect_to", maxHops = 3)
      .join(pages.select(col("url"), col("status"), col("redirect_to")),
        Seq("url"))
      .select(col("url"), col("status"), col("redirect_to"), col("outcome"),
        col("final_url"), col("n_hops"))
      .orderBy("url")
  }

  /** Per-segment language profiling as a hash gate
    * ([[graft.ext.TextAnalysis.segmentLangProfile]]): doc-level
    * language ID buries the minority language of a code-switching
    * page — the profile classifies per LINE (mC4/CCNet's per-paragraph
    * discipline). Branches per doc: monolingual EN, EN-majority mixed,
    * ES-majority mixed, and an unclassifiable zero-stopword segment
    * beside one EN line (counted in `n_segments`, honest `unknown` —
    * never the argmax tie-break's first language); every doc carries
    * a short `nav` line that the `minChars` floor drops. `n_fr` is
    * emitted to pin that the Spanish lines' `la` hit (a French
    * stopword too) never flips a segment. The oracle restates the
    * whole profile per branch.
    */
  def segmentLangs(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(4))
    val ks = k.cast("string")
    val en = concat(lit("the cat is in the house "), ks)
    val es = concat(lit("el perro es de la casa "), ks)
    val unk = concat(lit("zzzz qqqq wwww rrrr tttt "), ks)
    val text = when(k === 0, concat_ws("\n", en, lit("nav"), en, en))
      .when(k === 1, concat_ws("\n", en, en, lit("nav"), es))
      .when(k === 2, concat_ws("\n", en, es, es))
      .otherwise(concat_ws("\n", unk, lit("nav"), en))
    val docs = t(s, d, "documents").select(col("doc_id"), text.as("text"))
    graft.ext.TextAnalysis.withSegmentLangProfile(docs, "text", out = "p")
      .select(col("doc_id"),
        col("p.n_segments").as("n_segments"),
        col("p.n_classified").as("n_classified"),
        col("p.n_en").as("n_en"), col("p.n_es").as("n_es"),
        col("p.n_fr").as("n_fr"),
        col("p.majority_lang").as("majority_lang"),
        col("p.is_mixed").as("is_mixed"))
      .orderBy("doc_id")
  }

  /** In-doc repeated-line scrubbing as a hash gate
    * ([[graft.ext.TextAnalysis.dropRepeatedLines]]): scraped pages
    * repeat navigation rows and banners throughout the body, and a
    * Gopher-style duplicate-line FILTER would discard such docs
    * wholesale where this rewrite saves them. Per doc (branch on
    * k = doc_id % 3): a clean single-line doc passes untouched, and a
    * seven-line doc loses its CASE-VARIANT repeat and its exact
    * repeat (first occurrence kept in ORIGINAL form) while the blank
    * structural line survives. The oracle restates the rebuilt text
    * byte-for-byte per branch.
    */
  def repeatedLineScrub(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val m = pmod(i, lit(5)).cast("string")
    val text = when(pmod(i, lit(3)) === 0, concat(lit("only line "), i))
      .otherwise(concat_ws("\n",
        concat(lit("Nav Bar "), m),
        concat(lit("unique content A "), i),
        concat(lit("nav bar "), m), // case-variant repeat → removed
        lit(""),                    // blank structural line → kept
        concat(lit("unique content B "), i),
        concat(lit("Nav Bar "), m), // exact repeat → removed
        concat(lit("tail "), i)))
    val scrub = graft.ext.TextAnalysis.dropRepeatedLines(text)
    t(s, d, "documents").select(col("doc_id"), scrub.as("r"))
      .select(col("doc_id"), col("r.text").as("text"),
        col("r.n_removed").as("n_removed"))
      .orderBy("doc_id")
  }

  /** Gopher quality rules as a hash gate
    * ([[graft.ext.TextAnalysis.gopherQualityFlags]], Rae et al. 2021
    * §A1.1): the published document-level filter battery between
    * extraction and dedup. Eight branch texts each trip ONE rule
    * where the arithmetic allows isolation — good prose (passes all),
    * too few words, gibberish mean word length 171/13, `#`-suffixed
    * words at symbol ratio 1, an all-bullet list page (alpha and mean
    * sit exactly ON their 0.8 / 3.0 bounds — boundary-inclusive),
    * ellipsis-trailing lines (ALSO trips the symbol rule — Gopher
    * counts `...` as a symbol, the coupling is faithful), digit soup
    * at alpha 4/12, and stopword-free prose. Every ratio is stated in
    * the oracle as the same integer division the operator performs.
    */
  def gopherQuality(s: SparkSession, d: String): DataFrame = {
    val k = pmod(col("doc_id"), lit(8))
    val text = when(k === 0, lit(
        "the quick brown fox jumps over the lazy dog today.\n" +
        "we have many fine words here to read and enjoy now."))
      .when(k === 1, lit("short doc only."))
      .when(k === 2, lit((Seq.fill(5)("extraordinarily") ++ Seq("the") ++
        Seq.fill(5)("extraordinarily") ++ Seq("and", "extraordinarily"))
        .mkString(" ")))
      .when(k === 3,
        lit("the# tag# has# many# hash# marks# and# more# here# now#"))
      .when(k === 4, lit(Seq.fill(4)("- the item and more").mkString("\n")))
      .when(k === 5, lit("the story continues longer...\n" +
        "we have more words here\nit trails away again...\n" +
        "and the plot thickens now\nfading out at last..."))
      .when(k === 6, lit("the and 111 222 333 444 555 666 777 12345 cat dog."))
      .otherwise(lit("cats enjoy naps under warm sun during quiet " +
        "afternoons here."))
    val flags = graft.ext.TextAnalysis.gopherQualityFlags(text,
      minWords = 10, maxWords = 1000)
    t(s, d, "documents").select(col("doc_id"), flags.as("g"))
      .select(col("doc_id"), col("g.n_words").as("n_words"),
        col("g.mean_word_len").as("mean_word_len"),
        col("g.symbol_ratio").as("symbol_ratio"),
        col("g.bullet_line_ratio").as("bullet_line_ratio"),
        col("g.ellipsis_line_ratio").as("ellipsis_line_ratio"),
        col("g.alpha_word_ratio").as("alpha_word_ratio"),
        col("g.n_stopword_hits").as("n_stopword_hits"),
        col("g.pass").as("pass"))
      .orderBy("doc_id")
  }

  /** C4 line-level cleaning as a hash gate
    * ([[graft.ext.TextAnalysis.c4CleanLines]], Raffel et al. 2020
    * §2.2): the REWRITE battery — terminal punctuation required
    * (`"`-quoted endings count), the 3-word line floor, curly-brace /
    * `javascript` / `lorem ipsum` line drops, and the ≥ 3-kept-lines
    * doc flag. Branch 0 keeps three lines (doc survives), branch 1
    * keeps two (doc flagged out), branch 2 is boilerplate-only (empty
    * rebuild). The oracle restates the rebuilt text byte-for-byte.
    */
  def c4LineClean(s: SparkSession, d: String): DataFrame = {
    val k = pmod(col("doc_id"), lit(3))
    val bad = "short one.\nNo terminal punctuation here\n" +
      "This has code { inside } here.\n" +
      "Please enable javascript to continue.\n" +
      "We offer lorem ipsum filler text."
    val text = when(k === 0, lit(
        "This line is a fine sentence.\n" + bad +
        "\nAnother good sentence stands here!\n" +
        "He said \"yes it works.\""))
      .when(k === 1, lit(
        "This line is a fine sentence.\n" + bad +
        "\nAnother good sentence stands here!"))
      .otherwise(lit(bad))
    val cleaned = graft.ext.TextAnalysis.c4CleanLines(text)
    t(s, d, "documents").select(col("doc_id"), cleaned.as("c"))
      .select(col("doc_id"), col("c.text").as("text"),
        col("c.n_kept").as("n_kept"), col("c.n_dropped").as("n_dropped"),
        col("c.keep_doc").as("keep_doc"))
      .orderBy("doc_id")
  }

  /** CDX-indexed WARC random access as a hash gate
    * ([[graft.ext.Warc.buildWarcColumnIndexed]]): real archives ship a
    * CDX index beside every `.warc.gz` so one record costs one ranged
    * read + one member decompression — and this gate PROVES that
    * access path in-plan: blobs build with their index, each index
    * entry's `(offset, length)` slices the member back out of the
    * binary blob with `substring`, the slice parses STANDALONE through
    * the production reader, and `access_ok` checks the re-parsed URI
    * and payload md5 against the index entry. Offsets are compressed
    * byte positions (content-dependent — deliberately NOT emitted;
    * the digest and the round-tripped fields are the hash surface).
    * The oracle restates URI/digest/length/text per record and pins
    * `access_ok` TRUE everywhere.
    */
  def warcCdxAccess(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(7)).cast("string")
    val recs = tSpread(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), pmod(i, lit(3)))).as("j"))
      .select(col("doc_id"), col("j"), lit("response").as("warc_type"),
        concat(lit("http://cdx"), k, lit(".com/p/"), col("j"))
          .as("target_uri"),
        concat(lit("<urn:uuid:cdx-"), i, lit("-"), col("j"), lit(">"))
          .as("record_id"),
        encode(concat(lit("cdx body é"), k, lit(" rec "), i, lit("-"),
          col("j")), "UTF-8").as("payload"))
    val indexed = graft.ext.Warc.buildWarcColumnIndexed(recs, "doc_id", "j",
      "warc_type", "target_uri", "record_id", "payload")
    val entries = indexed
      .select(col("doc_id"), col("warc_blob"), explode(col("cdx")).as("e"))
      .select((col("doc_id") * 4 + col("e.rec_idx")).as("uid"),
        col("doc_id"), col("e.rec_idx").as("rec_idx"),
        col("e.target_uri").as("indexed_uri"), col("e.digest").as("digest"),
        // the ranged read: one member sliced straight out of the blob
        substring(col("warc_blob"), (col("e.offset") + 1).cast("int"),
          col("e.length").cast("int")).as("member"))
    val reparsed = graft.ext.Warc.parseWarcColumn(
      entries.select(col("uid"), col("member")), "uid", "member",
      gzipped = true)
    entries.drop("member")
      .join(reparsed.select(col("uid"), col("target_uri"),
        col("content_length"), col("payload")), Seq("uid"))
      .select(col("doc_id"), col("rec_idx"), col("indexed_uri"),
        col("digest"), col("content_length"),
        decode(col("payload"), "UTF-8").as("body_text"),
        (col("target_uri") === col("indexed_uri") &&
          md5(col("payload")) === col("digest")).as("access_ok"))
      .orderBy("doc_id", "rec_idx")
  }

  /** Content-type sniffing as a hash gate
    * ([[graft.ext.Http.sniffContentType]]): real crawl `Content-Type`
    * headers LIE — PNGs served as `text/html`, gzip as `text/plain` —
    * and a pipeline that trusts them feeds binary soup into text
    * operators. Per branch a response whose DECLARED type and actual
    * body magic agree or disagree: BOM-prefixed real HTML (match),
    * PNG magic under `text/html` (mismatch), PNG under `image/png`
    * (match), gzip magic under `text/plain` (mismatch), real PDF
    * (match), an undeclared `<?xml` (sniffed alone), and plain prose
    * (the printable fallback). The oracle states declared, sniffed,
    * and the mismatch verdict per branch.
    */
  def mimeSniff(s: SparkSession, d: String): DataFrame = {
    val k = pmod(col("doc_id"), lit(7))
    val png = "\u0089PNG\r\n\u001A\n0000FAKEPIXELS"
    val (ct, body) = (
      when(k === 0, lit("text/html"))
        .when(k === 1, lit("text/html"))
        .when(k === 2, lit("image/png"))
        .when(k === 3, lit("text/plain"))
        .when(k === 4, lit("application/pdf"))
        .when(k === 5, lit(""))
        .otherwise(lit("text/plain")),
      when(k === 0,
          lit("ï»¿<!DOCTYPE html><html><body>hi</body></html>"))
        .when(k === 1, lit(png))
        .when(k === 2, lit(png))
        .when(k === 3, lit("\u001F\u008B\u0008not really deflate"))
        .when(k === 4, lit("%PDF-1.4 fake pdf body"))
        .when(k === 5, lit("  <?xml version=\"1.0\"?><root/>"))
        .otherwise(lit("just some plain prose here.")))
    val payload = concat(lit("HTTP/1.1 200 OK\r\n"),
      when(ct === "", lit("")).otherwise(concat(lit("Content-Type: "), ct,
        lit("\r\n"))),
      lit("\r\n"), body)
    t(s, d, "documents").select(col("doc_id"), payload.as("p"))
      .select(col("doc_id"),
        graft.ext.Http.contentTypeOf(col("p")).as("declared"),
        graft.ext.Http.sniffContentType(graft.ext.Http.bodyOf(col("p")))
          .as("sniffed"))
      .withColumn("mismatch",
        col("declared") =!= "" && col("declared") =!= col("sniffed"))
      .orderBy("doc_id")
  }

  /** Meta-charset fallback decoding as a hash gate
    * ([[graft.ext.Http.decodeBodyFull]] with `metaFallback`, the
    * WHATWG prescan): real pages declare their charset in the BODY
    * (`<meta charset=…>` / the legacy http-equiv form) at least as
    * often as in the header, and a header-only decoder mojibakes or
    * drops them. Branches: header silent + HTML5 meta `shift_jis`
    * (REAL Shift_JIS bytes decode exactly), header `utf-8` + meta
    * `shift_jis` (header WINS — precedence pin), header silent +
    * http-equiv `koi8-r` (legacy form, real bytes), meta declaring an
    * unknown charset (quarantine NULL, the charset column still names
    * it), and no declaration anywhere (UTF-8 crawl default). The
    * oracle states effective charset + exact text per branch.
    */
  def metaCharsetDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { i =>
          val k = i % 5
          val (ctype, bodyStr, cs) = k match {
            case 0 => ("text/html",
              s"<html><head><meta charset=\"shift_jis\"></head>" +
                s"<body>東京 $i</body></html>", "shift_jis")
            case 1 => ("text/html; charset=utf-8",
              s"<html><head><meta charset=\"shift_jis\"></head>" +
                s"<body>café $i</body></html>", "UTF-8")
            case 2 => ("text/html",
              "<html><head><meta http-equiv=\"Content-Type\" " +
                s"content=\"text/html; charset=koi8-r\"></head>" +
                s"<body>данные $i</body></html>", "koi8-r")
            case 3 => ("text/html",
              s"<html><head><meta charset=\"x-klingon\"></head>" +
                s"<body>opaque $i</body></html>", "US-ASCII")
            case _ => ("text/html", s"<html><body>plain é $i</body></html>",
              "UTF-8")
          }
          val header = s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n"
          (i, header.getBytes("US-ASCII") ++ bodyStr.getBytes(cs))
        }
      }.toDF("doc_id", "payload")
    graft.ext.Http.decodeBodyFull(payloads, "doc_id", "payload",
        metaFallback = true)
      .orderBy("doc_id")
  }

  /** WET conversion-record generation as a hash gate — the Common
    * Crawl text artifact, end to end: a RESPONSE archive (gzipped
    * members) parses through the production reader, each page's main
    * content extracts ([[graft.ext.Html.extractMainText]] — the nav
    * block dies by link density, the prose survives), and the text is
    * re-archived as WARC `conversion` records
    * ([[graft.ext.Warc.buildWarcColumn]]) that parse BACK
    * byte-exactly — the full read→transform→write→read cycle over
    * multibyte text. The oracle restates type, URI, extracted text,
    * and its UTF-8 octet length per record.
    */
  def wetConversion(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(7)).cast("string")
    val html = concat(
      lit("<html><body><div><a href=\"/\">Home</a> <a href=\"/x\">X</a>" +
        "</div><p>Documents about topic "), k,
      lit(" continue with ample prose to clear the floor easily é "),
      i, lit("-"), col("j"), lit(".</p></body></html>"))
    val responses = tSpread(s, d, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), pmod(i, lit(2)))).as("j"))
      .select(col("doc_id"), col("j"), lit("response").as("wt"),
        concat(lit("http://wet"), k, lit(".com/p/"), col("j")).as("uri"),
        concat(lit("<urn:uuid:resp-"), i, lit("-"), col("j"), lit(">"))
          .as("rid"),
        encode(html, "UTF-8").as("payload"))
    val responseArchive = graft.ext.Warc.buildWarcColumn(responses,
      "doc_id", "j", "wt", "uri", "rid", "payload", gzipped = true)
    val pages = graft.ext.Warc.parseWarcColumn(responseArchive,
      "doc_id", "warc_blob", gzipped = true)
    val wet = pages
      .withColumn("page_html", decode(col("payload"), "UTF-8"))
      .withColumn("main_text",
        graft.ext.Html.extractMainText(col("page_html")))
      .select(col("doc_id"), col("rec_idx"), lit("conversion").as("wt"),
        col("target_uri").as("uri"),
        concat(lit("<urn:uuid:wet-"), col("doc_id"), lit("-"),
          col("rec_idx"), lit(">")).as("rid"),
        encode(col("main_text"), "UTF-8").as("payload"))
    val wetArchive = graft.ext.Warc.buildWarcColumn(wet, "doc_id",
      "rec_idx", "wt", "uri", "rid", "payload", gzipped = true)
    graft.ext.Warc.parseWarcColumn(wetArchive, "doc_id", "warc_blob",
        gzipped = true)
      .select(col("doc_id"), col("rec_idx"), col("warc_type"),
        col("target_uri"), col("content_length"),
        decode(col("payload"), "UTF-8").as("wet_text"))
      .orderBy("doc_id", "rec_idx")
  }

  /** Fused robots-policy parse as a hash gate
    * ([[graft.ext.RobotsTxt.parsePolicy]]): a fetcher maintains rules,
    * crawl delay, AND sitemap feeds per domain — three separate parses
    * walk the same body three times; the fused machine walks once.
    * Per doc a hostile body carries all three concerns interleaved
    * (directive before any group, a wildcard rule, a delay whose group
    * is closed by a later UA line, sitemaps scattered group-free, a
    * trailing comment); the exploded rule rows ride beside the
    * repeated delay/sitemap columns so every field is hash-visible.
    * RobotsTxtSpec pins fused ≡ the three single parsers on the same
    * bodies.
    */
  def robotsPolicy(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(4))
    val ks = k.cast("string")
    val txt = when(k === 0, concat(
        lit("Sitemap: https://p0-"), ks, lit(".com/sm.xml\n" +
          "User-agent: *\nDisallow: /a\nCrawl-delay: 2.5\nAllow: /a/pub\n")))
      .when(k === 1, concat(
        lit("User-agent: *\nCrawl-delay: 3\nUser-agent: b\nDisallow: /only-b\n" +
          "sitemap: https://p1-"), ks, lit(".com/s1.xml # mirror\n")))
      .when(k === 2,
        lit("User-agent: *\nDisallow: /q/*/z$\nCrawl-delay: fast\n"))
      .otherwise(lit("User-agent: other\nDisallow: /x\n"))
    val docs = t(s, d, "documents").select(col("doc_id"),
      graft.ext.RobotsTxt.parsePolicy(txt).as("p"))
    docs.select(col("doc_id"),
        col("p.crawl_delay").as("crawl_delay"),
        array_join(col("p.sitemaps"), " ").as("sitemaps"),
        size(col("p.rules")).as("n_rules"),
        posexplode_outer(col("p.rules")).as(Seq("rule_idx", "r")))
      .select(col("doc_id"), col("crawl_delay"), col("sitemaps"),
        col("n_rules"), col("rule_idx"),
        col("r.prefix").as("prefix"), col("r.allow").as("allow"),
        col("r.rx").as("rx"))
      .orderBy("doc_id", "rule_idx")
  }

  /** SURT keys as a hash gate ([[graft.ext.Urls.surtKey]]): the
    * sort-friendly transform CDX archives key by — host labels
    * reverse so one registered domain's URLs become ONE contiguous
    * key range (a prefix scan instead of a scatter over subdomains).
    * Branches: a subdomain with case/tracking hazards (canonicalize
    * feeds the key), a `www.` + trailing-slash variant landing
    * adjacent to its sibling subdomain, and an IPv4 literal that must
    * NOT reverse. The output is ORDERED BY the key, so the
    * domain-contiguity property is itself hash-visible.
    */
  def surtKeys(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(5)).cast("string")
    val m = pmod(i, lit(3))
    val ms = m.cast("string")
    val url = when(m === 0, concat(lit("HTTP://A.Shop"), k,
        lit(".COM/x/"), ms, lit("?utm_z=1&id="), ms))
      .when(m === 1, concat(lit("https://www.shop"), k, lit(".com/y/")))
      .otherwise(concat(lit("http://10.0."), k, lit(".1/z")))
    val urls = t(s, d, "documents").select(col("doc_id"), url.as("url"))
      .withColumn("canonical_url", graft.ext.Urls.canonicalizeUrl(col("url")))
    urls.withColumn("surt", graft.ext.Urls.surtKey(col("canonical_url")))
      .select(col("doc_id"), col("canonical_url"), col("surt"))
      .orderBy("surt", "doc_id")
  }

  def charsetJreDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { i =>
          val k = i % 7
          val (cs, text) = (i % 6) match {
            case 0 => ("shift_jis", s"東京タワー $k")
            case 1 => ("gbk", s"数据管道 $k")
            case 2 => ("euc-kr", s"데이터 $k")
            case 3 => ("big5", s"資料處理 $k")
            case 4 => ("koi8-r", s"данные $k")
            case _ => ("x-no-such-charset", s"opaque $k")
          }
          val bytes =
            if (cs.startsWith("x-")) text.getBytes("US-ASCII")
            else text.getBytes(cs)
          val header = s"HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
            s"charset=$cs\r\n\r\n"
          (i, header.getBytes("US-ASCII") ++ bytes)
        }
      }.toDF("doc_id", "payload")
    graft.ext.Http.decodeBodyFull(payloads, "doc_id", "payload")
      .orderBy("doc_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // expected text per branch from the generator arithmetic: framing
    // and compression are transparent (the text survives byte-exact),
    // the truncated-chunk and br branches quarantine to NULL
    Gate("q229_http_transfer_decode", Family.Crawl, httpTransferDecode, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents)
        |SELECT i AS doc_id, 'utf-8' AS charset,
        |  CASE WHEN i % 11 = 0 OR i % 13 = 0 THEN NULL
        |       ELSE 'crawl body ' || i || ' é' || (i % 7) END AS body_text
        |FROM d ORDER BY doc_id""".stripMargin),

    // expected registered domain per PSL branch: wildcard suffixes add
    // one label, the exception's own span registers, suffix-only hosts
    // (exact OR wildcard-matched) are strict NULL, IPv4 is the unit
    Gate("q231_psl_wildcard_domains", Family.Crawl, pslWildcardDomains, _ =>
      """WITH d AS (SELECT doc_id AS i,
        |    CAST((doc_id // 6) % 7 AS VARCHAR) AS k FROM documents)
        |SELECT i AS doc_id,
        |  CASE WHEN i % 11 = 0 THEN '10.1.' || (i % 4) || '.' || (i % 9)
        |       WHEN i % 6 = 0 THEN 'a' || k || '.b.ck'
        |       WHEN i % 6 = 1 THEN 'x' || k || '.www.ck'
        |       WHEN i % 6 = 2 THEN 'b' || k || '.ck'
        |       WHEN i % 6 = 3 THEN 's' || k || '.city.kawasaki.jp'
        |       WHEN i % 6 = 4 THEN 'city' || k || '.kawasaki.jp'
        |       ELSE 'cdn' || k || '.shop' || k || '.com' END AS host,
        |  CASE WHEN i % 11 = 0 THEN '10.1.' || (i % 4) || '.' || (i % 9)
        |       WHEN i % 6 = 0 THEN 'a' || k || '.b.ck'
        |       WHEN i % 6 = 1 THEN 'www.ck'
        |       WHEN i % 6 = 2 THEN NULL
        |       WHEN i % 6 = 3 THEN 's' || k || '.city.kawasaki.jp'
        |       WHEN i % 6 = 4 THEN NULL
        |       ELSE 'shop' || k || '.com' END AS registered_domain
        |FROM d ORDER BY doc_id""".stripMargin),

    // url, folded form, and canonical per branch from the generator
    // arithmetic — punycode constants verified against java.net.IDN;
    // the collapse pair (branches 0/1) shares one canonical string and
    // the dup-count window replays identically
    Gate("q232_idn_host_fold", Family.Crawl, idnHostFold, _ =>
      """WITH d AS (SELECT doc_id AS i,
        |    CAST((doc_id // 9) % 5 AS VARCHAR) AS k,
        |    CAST(doc_id % 4 AS VARCHAR) AS m FROM documents),
        |r AS (SELECT i,
        |  CASE CAST(i % 9 AS INTEGER)
        |    WHEN 0 THEN 'http://bücher.example/p/' || k
        |    WHEN 1 THEN 'http://xn--bcher-kva.example/p/' || k
        |    WHEN 2 THEN 'https://東京.jp:8443/t?id=' || m || '&utm_x=1'
        |    WHEN 3 THEN 'http://MÜNCHEN.de/x/' || k
        |    WHEN 4 THEN 'http://пример.рф/r'
        |    WHEN 5 THEN 'http://café' || k || '.fr/c'
        |    WHEN 6 THEN 'http://é..example/q'
        |    WHEN 7 THEN 'http://plain' || k || '.example/a?z=' || m
        |    ELSE 'no-scheme-' || k END AS url,
        |  CASE CAST(i % 9 AS INTEGER)
        |    WHEN 0 THEN 'http://xn--bcher-kva.example/p/' || k
        |    WHEN 1 THEN 'http://xn--bcher-kva.example/p/' || k
        |    WHEN 2 THEN 'https://xn--1lqs71d.jp:8443/t?id=' || m || '&utm_x=1'
        |    WHEN 3 THEN 'http://xn--mnchen-3ya.de/x/' || k
        |    WHEN 4 THEN 'http://xn--e1afmkfd.xn--p1ai/r'
        |    WHEN 5 THEN 'http://xn--caf' || k || '-dpa.fr/c'
        |    WHEN 6 THEN 'http://é..example/q'
        |    WHEN 7 THEN 'http://plain' || k || '.example/a?z=' || m
        |    ELSE 'no-scheme-' || k END AS url_idn,
        |  CASE CAST(i % 9 AS INTEGER)
        |    WHEN 0 THEN 'http://xn--bcher-kva.example/p/' || k
        |    WHEN 1 THEN 'http://xn--bcher-kva.example/p/' || k
        |    WHEN 2 THEN 'https://xn--1lqs71d.jp:8443/t?id=' || m
        |    WHEN 3 THEN 'http://xn--mnchen-3ya.de/x/' || k
        |    WHEN 4 THEN 'http://xn--e1afmkfd.xn--p1ai/r'
        |    WHEN 5 THEN 'http://xn--caf' || k || '-dpa.fr/c'
        |    WHEN 6 THEN 'http://é..example/q'
        |    WHEN 7 THEN 'http://plain' || k || '.example/a?z=' || m
        |    ELSE NULL END AS canonical_url
        | FROM d)
        |SELECT i AS doc_id, url, url_idn, canonical_url,
        |  COUNT(*) OVER (PARTITION BY canonical_url) AS dup_count
        |FROM r ORDER BY doc_id""".stripMargin),

    // directive extraction, one-level index recursion, and canonical
    // arithmetic replayed per branch: pages_a rides the index (level 1)
    // for even k and the direct lowercase directive (level 0) for odd
    // k; pages_b arrives via the index for even k and ALSO directly
    // when k % 3 = 0
    Gate("q233_robots_sitemap_wiring", Family.Crawl, robotsSitemapWiring, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k,
        |    doc_id % 7 AS kn FROM documents),
        |aj AS (SELECT 0 AS j UNION ALL SELECT 1),
        |r AS (
        |  SELECT i, CASE WHEN kn % 2 = 0 THEN 1 ELSE 0 END AS level,
        |    'https://site' || k || '.com/pages_a.xml' AS sm_url,
        |    'https://site' || k || '.com/a/' || j || '?id=' || k
        |      AS canonical_url
        |  FROM d, aj
        |  UNION ALL
        |  SELECT i, 1, 'https://site' || k || '.com/pages_b.xml',
        |    'http://site' || k || '.com/b/0'
        |  FROM d WHERE kn % 2 = 0
        |  UNION ALL
        |  SELECT i, 0, 'https://site' || k || '.com/pages_b.xml',
        |    'http://site' || k || '.com/b/0'
        |  FROM d WHERE kn % 3 = 0
        |)
        |SELECT i AS doc_id, level, sm_url, canonical_url
        |FROM r ORDER BY doc_id, level, canonical_url""".stripMargin),

    // the delay branch table, the per-host slot window, and the offset
    // arithmetic replayed; NULL delay (absent / other-group / malformed)
    // falls to the 1.0 s default in the offset only, staying NULL in
    // the crawl_delay column itself
    Gate("q234_crawl_delay_schedule", Family.Crawl, crawlDelaySchedule, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 20 AS m,
        |    (doc_id % 20) % 6 AS k FROM documents),
        |f AS (SELECT i, j AS url_ord, 'site' || m || '.com' AS host,
        |    CASE WHEN k = 1 THEN CAST(3 AS DOUBLE)
        |         WHEN k = 2 THEN CAST(0.5 AS DOUBLE)
        |         WHEN k = 5 THEN CAST(2.5 AS DOUBLE)
        |         ELSE NULL END AS crawl_delay,
        |    i * 3 + j AS uid
        |  FROM d, (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2)),
        |s AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY uid) - 1
        |      AS fetch_slot FROM f)
        |SELECT i AS doc_id, url_ord, host, crawl_delay, fetch_slot,
        |  fetch_slot * COALESCE(crawl_delay, CAST(1 AS DOUBLE))
        |    AS fetch_offset_secs
        |FROM s ORDER BY doc_id, url_ord""".stripMargin),

    // every parsed-back field restated from the generator arithmetic;
    // content_length is the UTF-8 OCTET length of the text (the
    // multibyte pin), rec_idx is the parse order = the build order
    Gate("q235_warc_round_trip", Family.Crawl, warcRoundTrip, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k
        |    FROM documents),
        |js AS (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT i, k, j,
        |    'page é' || k || ' <html>WARC/1.0 hazard</html> ' || i || '-'
        |      || j AS txt
        |  FROM d, js WHERE j <= i % 3)
        |SELECT i AS doc_id, j AS rec_idx,
        |  CASE WHEN j % 2 = 0 THEN 'response' ELSE 'request' END
        |    AS warc_type,
        |  'http://rt' || k || '.com/p/' || j AS target_uri,
        |  '<urn:uuid:rt-' || i || '-' || j || '>' AS record_id,
        |  octet_length(encode(txt)) AS content_length,
        |  txt AS body_text,
        |  CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS gz
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // every harvested field restated per branch (extractTitle keeps
    // its documented empty-string-when-absent contract; the meta and
    // link extractors are NULL-when-absent); the canonical-identity
    // window replays over coalesce(canonical target, own URL)
    Gate("q236_html_metadata", Family.Crawl, htmlMetadata, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 8 AS k,
        |    CAST((doc_id // 2) % 5 AS VARCHAR) AS g FROM documents),
        |r AS (SELECT i, k, g,
        |  CASE WHEN k = 7 THEN '' ELSE 'Page & Co ' || g END AS title,
        |  CASE WHEN k = 5 THEN NULL ELSE 'Desc & d' || g END AS description,
        |  CASE WHEN k % 3 = 0 THEN 'https://og' || g || '.com/x'
        |       ELSE NULL END AS og_url,
        |  CASE WHEN k >= 6 THEN NULL
        |       ELSE 'HTTP://Site' || g || '.COM:80/page/' || g || '?utm_z=1'
        |       END AS canonical_href,
        |  CASE WHEN k >= 6 THEN
        |         'http://self' || (i % 10) || '.com/p/' || (i % 4)
        |       ELSE 'http://site' || g || '.com/page/' || g
        |       END AS canonical_url
        | FROM d)
        |SELECT i AS doc_id, title, description, og_url, canonical_href,
        |  canonical_url,
        |  COUNT(*) OVER (PARTITION BY canonical_url) AS dup_count
        |FROM r ORDER BY doc_id""".stripMargin),

    // the full composition replayed: three anchors per doc (relative,
    // absolute-with-trailing-slash, query-only), (target, text) counts
    // from the documents table itself, mode by (n DESC, text DESC)
    Gate("q237_anchor_text_graph", Family.Graph, anchorTextGraph, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents),
        |a AS (
        |  SELECT 'http://self.com/t/' || (i % 5) AS target_url,
        |    'Go now & read ' || (i % 2) AS text FROM d
        |  UNION ALL
        |  SELECT 'http://hub.com/t/' || ((i + 1) % 5),
        |    'Hub ' || ((i + 1) % 5) FROM d
        |  UNION ALL
        |  SELECT 'http://self.com/d' || (i % 3) || '/page.html?p=' || (i % 5),
        |    'Query ' || (i % 5) FROM d),
        |g AS (SELECT target_url, text, COUNT(*) AS n FROM a GROUP BY 1, 2),
        |top AS (SELECT target_url, text, ROW_NUMBER() OVER (
        |    PARTITION BY target_url ORDER BY n DESC, text DESC) AS rn
        |  FROM g),
        |tot AS (SELECT target_url, CAST(SUM(n) AS BIGINT) AS in_degree,
        |    COUNT(*) AS n_texts FROM g GROUP BY 1)
        |SELECT t.target_url, tot.in_degree, tot.n_texts, t.text AS top_text
        |FROM top t JOIN tot ON t.target_url = tot.target_url
        |WHERE t.rn = 1 ORDER BY t.target_url""".stripMargin),

    // the chain topology stated per node: (status, resolved target,
    // outcome, final URL, hops) over the distinct site families
    Gate("q238_redirect_chains", Family.Crawl, redirectChains, _ =>
      """WITH d AS (SELECT DISTINCT CAST(doc_id % 10 AS VARCHAR) AS m
        |    FROM documents),
        |jt AS (SELECT * FROM (VALUES
        |  ('a', 301, 'b',  'ok',        'c', 2),
        |  ('b', 302, 'c',  'ok',        'c', 1),
        |  ('c', 200, NULL, 'ok',        'c', 0),
        |  ('d', 301, 'e',  'loop',      'd', 2),
        |  ('e', 301, 'd',  'loop',      'e', 2),
        |  ('f', 302, 'x',  'dangling',  'x', 1),
        |  ('g', 301, 'a',  'hop_limit', 'c', 3)
        |) AS t(l, status, r, outcome, fin, hops))
        |SELECT 'http://s' || m || '.com/hop/' || l AS url, status,
        |  CASE WHEN r IS NULL THEN NULL
        |       ELSE 'http://s' || m || '.com/hop/' || r END AS redirect_to,
        |  outcome, 'http://s' || m || '.com/hop/' || fin AS final_url,
        |  CAST(hops AS BIGINT) AS n_hops
        |FROM d, jt ORDER BY url""".stripMargin),

    // the whole per-branch profile restated: segment counts after the
    // minChars floor, per-language line counts, majority with the
    // langOrder tie-break, the mixed flag, and the unknown segment
    // that must never inherit the argmax default
    Gate("q239_segment_langs", Family.Lm, segmentLangs, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 4 AS k FROM documents)
        |SELECT i AS doc_id,
        |  CASE WHEN k = 0 THEN 3 WHEN k = 1 THEN 3 WHEN k = 2 THEN 3
        |       ELSE 2 END AS n_segments,
        |  CASE WHEN k = 3 THEN 1 ELSE 3 END AS n_classified,
        |  CASE WHEN k = 0 THEN 3 WHEN k = 1 THEN 2 WHEN k = 2 THEN 1
        |       ELSE 1 END AS n_en,
        |  CASE WHEN k = 1 THEN 1 WHEN k = 2 THEN 2 ELSE 0 END AS n_es,
        |  0 AS n_fr,
        |  CASE WHEN k = 2 THEN 'es' ELSE 'en' END AS majority_lang,
        |  k IN (1, 2) AS is_mixed
        |FROM d ORDER BY doc_id""".stripMargin),

    // the rebuilt text restated byte-for-byte: case-variant and exact
    // repeats die (first occurrence in ORIGINAL form), the blank
    // structural line survives, clean docs pass untouched
    Gate("q240_repeated_line_scrub", Family.Lm, repeatedLineScrub, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 5 AS VARCHAR) AS m
        |    FROM documents)
        |SELECT i AS doc_id,
        |  CASE WHEN i % 3 = 0 THEN 'only line ' || i
        |       ELSE 'Nav Bar ' || m || chr(10) ||
        |            'unique content A ' || i || chr(10) ||
        |            chr(10) ||
        |            'unique content B ' || i || chr(10) ||
        |            'tail ' || i END AS text,
        |  CASE WHEN i % 3 = 0 THEN 0 ELSE 2 END AS n_removed
        |FROM d ORDER BY doc_id""".stripMargin),

    // every ratio stated as the SAME integer division the operator
    // performs (IEEE-identical across engines); pass only for the
    // good-prose branch
    Gate("q241_gopher_quality", Family.Lm, gopherQuality, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 8 AS k FROM documents)
        |SELECT i AS doc_id,
        |  CASE k WHEN 0 THEN 21 WHEN 1 THEN 3 WHEN 2 THEN 13
        |         WHEN 3 THEN 10 WHEN 4 THEN 20 WHEN 5 THEN 22
        |         WHEN 6 THEN 12 ELSE 10 END AS n_words,
        |  CASE k WHEN 0 THEN CAST(82 AS DOUBLE)/21
        |         WHEN 1 THEN CAST(13 AS DOUBLE)/3
        |         WHEN 2 THEN CAST(171 AS DOUBLE)/13
        |         WHEN 3 THEN CAST(46 AS DOUBLE)/10
        |         WHEN 4 THEN CAST(60 AS DOUBLE)/20
        |         WHEN 5 THEN CAST(104 AS DOUBLE)/22
        |         WHEN 6 THEN CAST(39 AS DOUBLE)/12
        |         ELSE CAST(51 AS DOUBLE)/10 END AS mean_word_len,
        |  CASE k WHEN 3 THEN CAST(10 AS DOUBLE)/10
        |         WHEN 5 THEN CAST(3 AS DOUBLE)/22
        |         ELSE CAST(0 AS DOUBLE) END AS symbol_ratio,
        |  CASE k WHEN 4 THEN CAST(4 AS DOUBLE)/4
        |         ELSE CAST(0 AS DOUBLE) END AS bullet_line_ratio,
        |  CASE k WHEN 5 THEN CAST(3 AS DOUBLE)/5
        |         ELSE CAST(0 AS DOUBLE) END AS ellipsis_line_ratio,
        |  CASE k WHEN 4 THEN CAST(16 AS DOUBLE)/20
        |         WHEN 6 THEN CAST(4 AS DOUBLE)/12
        |         ELSE CAST(1 AS DOUBLE) END AS alpha_word_ratio,
        |  CASE k WHEN 0 THEN 4 WHEN 1 THEN 0 WHEN 5 THEN 3
        |         WHEN 7 THEN 0 ELSE 2 END AS n_stopword_hits,
        |  k = 0 AS pass
        |FROM d ORDER BY doc_id""".stripMargin),

    // the rebuilt text per branch: terminal-punctuation/word-floor/
    // brace/javascript/lorem-ipsum drops, quote-terminated lines kept,
    // the >=3-kept-lines doc flag
    Gate("q242_c4_line_clean", Family.Lm, c4LineClean, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS k FROM documents)
        |SELECT i AS doc_id,
        |  CASE WHEN k = 0 THEN 'This line is a fine sentence.' || chr(10)
        |         || 'Another good sentence stands here!' || chr(10)
        |         || 'He said "yes it works."'
        |       WHEN k = 1 THEN 'This line is a fine sentence.' || chr(10)
        |         || 'Another good sentence stands here!'
        |       ELSE '' END AS text,
        |  CASE WHEN k = 0 THEN 3 WHEN k = 1 THEN 2 ELSE 0 END AS n_kept,
        |  5 AS n_dropped,
        |  k = 0 AS keep_doc
        |FROM d ORDER BY doc_id""".stripMargin),

    // uri/digest/length/text restated per record (md5 over the same
    // UTF-8 bytes both sides), access_ok pinned TRUE — a wrong offset,
    // a torn member, or a digest drift would flip it
    Gate("q243_warc_cdx_access", Family.Crawl, warcCdxAccess, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k
        |    FROM documents),
        |js AS (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT i, k, j,
        |    'cdx body é' || k || ' rec ' || i || '-' || j AS txt
        |  FROM d, js WHERE j <= i % 3)
        |SELECT i AS doc_id, j AS rec_idx,
        |  'http://cdx' || k || '.com/p/' || j AS indexed_uri,
        |  md5(txt) AS digest,
        |  octet_length(encode(txt)) AS content_length,
        |  txt AS body_text,
        |  TRUE AS access_ok
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // declared vs sniffed vs mismatch verdict per branch — a sniffer
    // that trusted the header, missed a magic, or tripped on the BOM
    // changes rows
    Gate("q244_mime_sniff", Family.Crawl, mimeSniff, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 7 AS k FROM documents)
        |SELECT i AS doc_id,
        |  CASE k WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/html'
        |         WHEN 2 THEN 'image/png' WHEN 3 THEN 'text/plain'
        |         WHEN 4 THEN 'application/pdf' WHEN 5 THEN ''
        |         ELSE 'text/plain' END AS declared,
        |  CASE k WHEN 0 THEN 'text/html' WHEN 1 THEN 'image/png'
        |         WHEN 2 THEN 'image/png' WHEN 3 THEN 'application/gzip'
        |         WHEN 4 THEN 'application/pdf'
        |         WHEN 5 THEN 'application/xml'
        |         ELSE 'text/plain' END AS sniffed,
        |  k IN (1, 3) AS mismatch
        |FROM d ORDER BY doc_id""".stripMargin),

    // effective charset (header beats meta beats default) + exact text
    // per branch; the unknown-meta branch quarantines to NULL while
    // still NAMING what the page declared
    Gate("q245_meta_charset_decode", Family.Crawl, metaCharsetDecode, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 5 AS k FROM documents)
        |SELECT i AS doc_id,
        |  CASE k WHEN 0 THEN 'shift_jis' WHEN 1 THEN 'utf-8'
        |         WHEN 2 THEN 'koi8-r' WHEN 3 THEN 'x-klingon'
        |         ELSE '' END AS charset,
        |  CASE k
        |    WHEN 0 THEN '<html><head><meta charset="shift_jis"></head>'
        |      || '<body>東京 ' || i || '</body></html>'
        |    WHEN 1 THEN '<html><head><meta charset="shift_jis"></head>'
        |      || '<body>café ' || i || '</body></html>'
        |    WHEN 2 THEN '<html><head><meta http-equiv="Content-Type" '
        |      || 'content="text/html; charset=koi8-r"></head>'
        |      || '<body>данные ' || i || '</body></html>'
        |    WHEN 3 THEN NULL
        |    ELSE '<html><body>plain é ' || i || '</body></html>'
        |    END AS body_text
        |FROM d ORDER BY doc_id""".stripMargin),

    // type/URI/extracted text/UTF-8 octet length restated per record:
    // the nav block dies inside the archive cycle, the prose paragraph
    // survives byte-exactly through two WARC round trips
    Gate("q246_wet_conversion", Family.Crawl, wetConversion, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k
        |    FROM documents),
        |js AS (SELECT 0 AS j UNION ALL SELECT 1),
        |r AS (SELECT i, k, j,
        |    'Documents about topic ' || k ||
        |    ' continue with ample prose to clear the floor easily é '
        |    || i || '-' || j || '.' AS txt
        |  FROM d, js WHERE j <= i % 2)
        |SELECT i AS doc_id, j AS rec_idx, 'conversion' AS warc_type,
        |  'http://wet' || k || '.com/p/' || j AS target_uri,
        |  octet_length(encode(txt)) AS content_length,
        |  txt AS wet_text
        |FROM r ORDER BY doc_id, rec_idx""".stripMargin),

    // all three policy fields restated per branch: rules (with the
    // compiled wildcard regex), first-valid delay under stacking-end
    // semantics, group-independent sitemaps; rule-less docs emit one
    // outer row of NULL rule fields
    Gate("q247_robots_policy", Family.Crawl, robotsPolicy, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 4 AS k,
        |    CAST(doc_id % 4 AS VARCHAR) AS ks FROM documents),
        |r AS (
        |  SELECT i, 0 AS rule_idx, '/a' AS prefix, 0 AS allow,
        |    NULL AS rx FROM d WHERE k = 0
        |  UNION ALL SELECT i, 1, '/a/pub', 1, NULL FROM d WHERE k = 0
        |  UNION ALL SELECT i, 0, '/q/*/z$', 0, '^/q/.*/z$' FROM d
        |    WHERE k = 2
        |  UNION ALL SELECT i, NULL, NULL, NULL, NULL FROM d
        |    WHERE k IN (1, 3))
        |SELECT d.i AS doc_id,
        |  CASE k WHEN 0 THEN CAST(2.5 AS DOUBLE)
        |         WHEN 1 THEN CAST(3 AS DOUBLE)
        |         ELSE NULL END AS crawl_delay,
        |  CASE k WHEN 0 THEN 'https://p0-' || ks || '.com/sm.xml'
        |         WHEN 1 THEN 'https://p1-' || ks || '.com/s1.xml'
        |         ELSE '' END AS sitemaps,
        |  CASE k WHEN 0 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS n_rules,
        |  r.rule_idx, r.prefix, r.allow, r.rx
        |FROM d JOIN r ON d.i = r.i
        |ORDER BY doc_id, rule_idx""".stripMargin),

    // canonical URL and its SURT key per branch; the ORDER BY surt
    // makes the domain-contiguity property itself hash-visible
    Gate("q248_surt_keys", Family.Crawl, surtKeys, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 5 AS VARCHAR) AS k,
        |    doc_id % 3 AS m, CAST(doc_id % 3 AS VARCHAR) AS ms
        |  FROM documents)
        |SELECT i AS doc_id,
        |  CASE WHEN m = 0 THEN
        |         'http://a.shop' || k || '.com/x/' || ms || '?id=' || ms
        |       WHEN m = 1 THEN 'https://shop' || k || '.com/y'
        |       ELSE 'http://10.0.' || k || '.1/z' END AS canonical_url,
        |  CASE WHEN m = 0 THEN
        |         'com,shop' || k || ',a)/x/' || ms || '?id=' || ms
        |       WHEN m = 1 THEN 'com,shop' || k || ')/y'
        |       ELSE '10.0.' || k || '.1)/z' END AS surt
        |FROM d ORDER BY surt, doc_id""".stripMargin),

    // the Unicode text per charset branch, stated literally — a decoder
    // that guessed, mojibake'd, or framed through a UTF-8 view changes
    // rows; the unknown-charset branch must stay NULL
    Gate("q230_charset_jre_decode", Family.Crawl, charsetJreDecode, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k
        |  FROM documents)
        |SELECT i AS doc_id,
        |  CASE CAST(i % 6 AS INTEGER)
        |    WHEN 0 THEN 'shift_jis' WHEN 1 THEN 'gbk' WHEN 2 THEN 'euc-kr'
        |    WHEN 3 THEN 'big5' WHEN 4 THEN 'koi8-r'
        |    ELSE 'x-no-such-charset' END AS charset,
        |  CASE CAST(i % 6 AS INTEGER)
        |    WHEN 0 THEN '東京タワー ' || k
        |    WHEN 1 THEN '数据管道 ' || k
        |    WHEN 2 THEN '데이터 ' || k
        |    WHEN 3 THEN '資料處理 ' || k
        |    WHEN 4 THEN 'данные ' || k
        |    ELSE NULL END AS body_text
        |FROM d ORDER BY doc_id""".stripMargin)
  )
}
