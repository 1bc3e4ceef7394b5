package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 gates. Each query sits next to its `Gate` entry and
  * DuckDB oracle.
  */
private[graft] trait PipelinesRound15 extends PipelinesBase {

  /** Gzipped WARC ingest ([[graft.ext.Warc.gunzipMembers]], r14
    * verdict ask #1): real crawl archives (`.warc.gz`) arrive as one
    * gzip MEMBER per record, members concatenated — the q213 parser
    * alone cannot open one. Per doc 1–3 records are framed exactly as
    * in q213, then each record is compressed as its OWN gzip member
    * (a fresh `GZIPOutputStream` finished per record into one shared
    * stream), and the gate runs decompress → length-driven parse. The
    * j=1 record's payload still embeds a fake `WARC/1.0` block, so
    * both hazards are live at once: a magic-scanning parser
    * desynchronizes AFTER decompression, and a single-member gunzip
    * stops after record 0 and loses every later record — either
    * defect breaks the hash. The oracle restates fields and payloads
    * from the generator arithmetic; compression is transparent to it
    * by construction.
    */
  def warcGzIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { i =>
          val bos = new java.io.ByteArrayOutputStream()
          val n = (i % 3).toInt + 1
          for (j <- 0 until n) {
            val payload =
              if (j == 1) s"G\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nZ $i"
              else "gz payload " + i + ":" + j + " " + "y" * ((i + 2 * j) % 5).toInt
            val host = (i / 5 + 3 * j) % 7
            val rec = new StringBuilder
            rec.append("WARC/1.0\r\n")
              .append(if (j % 2 == 0) "WARC-Type: response\r\n"
                      else "WARC-Type: request\r\n")
              .append(s"WARC-Target-URI: http://gz$host.org/g/$j\r\n")
              .append(s"WARC-Record-ID: <urn:uuid:gz-$i-$j>\r\n")
              .append(s"Content-Length: ${payload.length}\r\n\r\n")
              .append(payload).append("\r\n\r\n")
            // one gzip MEMBER per record: close() finishes the member
            // trailer AND ends the native Deflater deterministically
            // (finish() alone leaks it until GC finalization);
            // ByteArrayOutputStream.close() is a no-op, so the shared
            // byte stream stays open for the next member — the
            // .warc.gz layout
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(rec.toString.getBytes("US-ASCII"))
            gz.close()
          }
          (i, bos.toByteArray)
        }
      }.toDF("doc_id", "blob")
    graft.ext.Warc.parseWarcColumn(blobs, "doc_id", "blob", gzipped = true)
      .select(col("doc_id"), col("rec_idx"), col("warc_type"),
        col("target_uri"), col("content_length"),
        col("payload").cast("string").as("payload_text"))
      .orderBy("doc_id", "rec_idx")
  }

  /** The real image-dedup pipeline END TO END (r14 verdict ask #2):
    * heterogeneous source sizes → [[graft.ext.Multimodal.resizeImages]]
    * → [[graft.ext.ImageHash.imageDHash]] → banded near-dup pairs.
    * q206 gates the hash on fixtures already AT the 18×16 contract
    * size; this gate feeds 18×16, 36×32, and 54×48 sources (scale
    * `doc_id % 3 + 1`), so near-dup groups must survive a resize from
    * DIFFERENT dimensions — the composition q206 deliberately left
    * unfused.
    *
    * Exactness argument (what makes a hash oracle possible at all):
    * each source is painted uniformly over every s×s region that maps
    * to one target pixel, so nearest-neighbor sampling — wherever in
    * the footprint Java2D lands — returns the region's single value,
    * and the resized 18×16 image is bit-identical to the 1× rendering
    * of the same block grid (ImageHashSpec pins this per scale). From
    * there the oracle replays the q206 arithmetic: block sums from the
    * md5 formula (fresh `r15:` salt — decorrelated from the q206
    * fixture), gradient bits, band values, the banded candidate join,
    * band-wise bit_count Hamming ≤ 8. BMP in (lossless), PNG out of
    * the resizer (lossless) — no codec noise anywhere.
    */
  def imageResizeDedup(s: SparkSession, d: String): DataFrame = {
    val media = resizeImageMedia(tSpread(s, d, "documents").select(col("doc_id")))
    val resized = graft.ext.Multimodal.resizeImages(media, 18, 16)
    val hashes = graft.ext.ImageHash.imageDHash(resized)
    // eager=true: materialize and unpersist the (id, dhash) snapshot
    // before returning — Bench/Verify call this gate repeatedly per
    // session, and the lazy gear's cached partitions would accumulate
    // in storage memory (r15 ADVICE)
    graft.ext.ImageHash.nearDupPairs(hashes, maxHamming = 8, eager = true)
      .orderBy("id_a", "id_b")
  }

  /** The q215 fixture generator: (media_id, payload, meta) BMPs at
    * scale s = id % 3 + 1 — an (18s)×(16s) image whose every s×s
    * target-pixel footprint is uniform, carrying the q206 group
    * structure (id/4 groups, exposure variant id % 4, +64 bump in
    * block (0,0) for variant 3) under the `r15:` md5 salt.
    */
  private def resizeImageMedia(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.select(col(ids.columns.head).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val scale = (id % 3).toInt + 1
          val gid = id / 4
          val variant = (id % 4).toInt
          val w = 18 * scale
          val h = 16 * scale
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 9) {
              val hv = Character.digit(org.apache.commons.codec.digest.DigestUtils
                .md5Hex(s"r15:$gid:$bx:$by").charAt(0), 16)
              val v = hv * 12 + variant +
                (if (variant == 3 && bx == 0 && by == 0) 64 else 0)
              val rgb = v * 0x010101
              // block (bx,by) covers target pixels {2bx,2bx+1}×{2by,2by+1},
              // i.e. source region [2bx·s,(2bx+2)·s)×[2by·s,(2by+2)·s)
              var dy = 0
              while (dy < 2 * scale) {
                var dx = 0
                while (dx < 2 * scale) {
                  img.setRGB(2 * bx * scale + dx, 2 * by * scale + dy, rgb)
                  dx += 1
                }
                dy += 1
              }
              bx += 1
            }
            by += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "bmp", bos)
          (id, bos.toByteArray, w, h)
        }
      }.toDF("media_id", "payload", "w", "h")
      .select(col("media_id"), col("payload"),
        struct(lit("image/bmp").as("format"), col("w").as("width"),
          col("h").as("height"), lit(1).as("n_frames")).as("meta"))
  }

  /** Percent-encoding normalization as a hash gate
    * ([[graft.ext.Urls.normalizePercentEncoding]], r14 verdict ask
    * #3): per doc a url plants every encoding hazard — an unreserved
    * escape in three spellings (`%7e` / `%7E` / literal `~`, all one
    * identity), a reserved escape in both hex cases (`%2f`/`%2F`,
    * must stay encoded uppercase — decoding it would CHANGE the path
    * structure), an ALPHA escape vs its literal (`%41`/`A`/`%61`), an
    * encoded query value, and a malformed `%zz` that must pass
    * through untouched. The oracle states the canonical string
    * directly from the generator arithmetic (an independent
    * derivation — it never decodes anything), and the `idempotent`
    * column re-canonicalizes in-gate: canonicalize ∘ canonicalize ≡
    * canonicalize, hash-visible.
    */
  def urlPercentCanonicalize(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val seg1 = element_at(array(lit("%7e"), lit("%7E"), lit("~")),
      (pmod(i, lit(3)) + 1).cast("int"))
    val seg2 = element_at(array(lit("%2f"), lit("%2F")),
      (pmod(i, lit(2)) + 1).cast("int"))
    val seg3 = element_at(array(lit("%41"), lit("A"), lit("%61")),
      (pmod(floor(i / 3), lit(3)) + 1).cast("int"))
    val mal = when(pmod(i, lit(5)) === 0, lit("%zz")).otherwise(lit(""))
    val qv = element_at(array(lit("%4a"), lit("J"), lit("%7c")),
      (pmod(floor(i / 9), lit(3)) + 1).cast("int"))
    val url = concat(lit("https://ex"), pmod(i, lit(4)).cast("string"),
      lit(".com/f/"), seg1, seg2, seg3, mal, lit("?v="), qv)
    // STAGED through attributes (the q171 CollapseProject discipline):
    // canonicalizeUrl references its input ~15 times, so feeding it a
    // raw expression tree copies that tree per reference — and the
    // idempotence re-canonicalization would square it (measured 68 s
    // vs <1 s at sf0.1, the cost being Janino codegen of the exploded
    // tree). Each select boundary below survives CollapseProject
    // because its alias is multi-referenced upstream.
    t(s, d, "documents").select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        graft.ext.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
      .select(col("doc_id"), col("canonical_url"),
        (graft.ext.Urls.canonicalizeUrl(col("canonical_url"))
          === col("canonical_url")).as("idempotent"))
      .orderBy("doc_id")
  }

  /** The robots BROADCAST-JOIN gear as a hash gate
    * ([[graft.ext.Urls.applyRobotsRules]] past `maxLiteralDomains`,
    * r14 verdict ask #4): the q212 frontier runs under the SAME seven
    * decision rules plus 90 dummy domains that match no row — enough
    * domains that compiling a literal map would be a plan-size cliff,
    * so the operator must take the broadcast left-outer join gear and
    * apply the identical filter/transform/array_max decision past it.
    * The plan REQUIRE fails fast if the join gear didn't engage; the
    * oracle is the q212 decision table restated — decision parity
    * across the switch, driver-visible (UrlsSpec proves it unit-side).
    */
  def robotsJoinFilter(s: SparkSession, d: String): DataFrame = {
    val links = t(s, d, "documents").select(col("doc_id"),
        PipelinesExt.docHtml(col("doc_id")).as("html"))
      .select(col("doc_id"),
        explode(graft.ext.Html.extractLinks(col("html"))).as("href"))
      .withColumn("curl", graft.ext.Urls.canonicalizeUrl(col("href")))
      .withColumn("dom", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("curl"))))
      .withColumn("path", graft.ext.Urls.pathOf(col("curl")))
    val rules = Seq(
      ("site1.com", "/p/", false), ("site1.com", "/p/1", true),
      ("site2.com", "/", false), ("site4.com", "/p/0", false),
      ("site5.com", "/p", true), ("site5.com", "/p", false),
      ("site7.com", "/q", false)) ++
      (0 until 90).map(n => (f"dummy$n%03d.net", "/", false))
    val out = graft.ext.Urls.applyRobotsRules(links, rules, "dom", "path")
      .select(col("doc_id"), col("curl"), col("allowed"), col("matched_len"))
      .orderBy("doc_id", "curl")
    // the plan audit IS part of the gate (the q205 discipline): 97
    // domains must engage the broadcast-join gear, not the literal map
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("BroadcastHashJoin"),
      "q217: expected the robots rule broadcast join in the physical plan — " +
        "the literal-map gear engaged past maxLiteralDomains")
    out
  }

  /** PSL-backed registered domains as a hash gate
    * ([[graft.ext.Urls.withRegisteredDomainPsl]], r14 verdict ask #5):
    * hosts cover exactly the shapes the 7-entry heuristic groups
    * wrong or cannot see — a PRIVATE suffix (`github.io`: registrable
    * is one label deeper), ccTLD families (`com.au`, `co.uk`) under
    * extra subdomains, deep label chains over a plain TLD, a host
    * that IS a public suffix (strict PSL: NULL — no registrable
    * domain), an unlisted-TLD fallback (`*` default rule), and IPv4
    * literals (the address is the registrable unit). The oracle
    * states the expected domain per branch directly; UrlsSpec
    * separately proves heuristic ≡ PSL on the heuristic's home
    * domain.
    */
  def pslDomains(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(7)).cast("string")
    val host = when(pmod(i, lit(11)) === 0,
        concat(lit("10.0."), pmod(i, lit(4)).cast("string"), lit("."),
          pmod(i, lit(9)).cast("string")))
      .when(pmod(i, lit(5)) === 0, concat(lit("alpha"), k, lit(".github.io")))
      .when(pmod(i, lit(5)) === 1, concat(lit("www.beta"), k, lit(".com.au")))
      .when(pmod(i, lit(5)) === 2, concat(lit("cdn.gamma"), k, lit(".co.uk")))
      .when(pmod(i, lit(5)) === 3, concat(lit("a.b.delta"), k, lit(".org")))
      .otherwise(when(pmod(i, lit(2)) === 0, lit("github.io"))
        .otherwise(concat(lit("eps"), k, lit(".zz"))))
    val hosts = t(s, d, "documents").select(col("doc_id"), host.as("host"))
    graft.ext.Urls.withRegisteredDomainPsl(hosts, "host", PslFixture.Suffixes)
      .select(col("doc_id"), col("host"), col("registered_domain"))
      .orderBy("doc_id")
  }

  /** The full crawl stack as ONE oracle-pinned composition gate (r14
    * verdict ask #8 — CrawlStackSpec proved the chain unit-side; this
    * is the q124 composition-gate treatment): WARC blobs are framed
    * in-plan around the SHARED q210 html generator (plus, for
    * doc_id % 6 = 0, a single-quoted footer anchor — the r14 gap-#5
    * quoting form, live in a driver gate), then
    *
    *   parse ([[graft.ext.Warc]], response records only; a trailing
    *   `request` record per blob must be type-filtered, not
    *   mis-framed) → link harvest ([[graft.ext.Html.extractLinks]]) →
    *   canonicalize ([[graft.ext.Urls.canonicalizeUrl]]) → robots
    *   ([[graft.ext.Urls.applyRobotsRules]], longest-match) →
    *   frontier rollup (in-degree, first-seen doc per canonical url)
    *   → [[graft.ext.Urls.capPerDomain]] (3 best pages per domain).
    *
    * The oracle chains the stage CTEs — links and canonical urls from
    * the generator arithmetic, robots decisions restated, the same
    * two windows — so a defect in ANY stage (framing, quoting,
    * normalization, the robots tie, the cap ordering) breaks the
    * hash. Stage semantics are individually pinned by q210–q214; this
    * gate pins their composition.
    */
  def crawlStack(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val html = concat(PipelinesExt.docHtml(i),
      when(pmod(i, lit(6)) === 0,
        concat(lit("<a href='https://Foot"), pmod(i, lit(4)).cast("string"),
          lit(".NET/f/'>f</a>"))).otherwise(lit("")))
    val blob = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://origin"),
      pmod(i, lit(20)).cast("string"), lit(".com/d/"), i.cast("string"),
      lit("\r\nWARC-Record-ID: <urn:uuid:cs-"), i.cast("string"),
      lit(">\r\nContent-Length: "), octet_length(html).cast("string"),
      lit("\r\n\r\n"), html, lit("\r\n\r\n"),
      lit("WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: http://origin"),
      pmod(i, lit(20)).cast("string"), lit(".com/r/"), i.cast("string"),
      lit("\r\nContent-Length: 4\r\n\r\nping\r\n\r\n")).cast("binary")
    val blobs = t(s, d, "documents").select(col("doc_id"), blob.as("blob"))
    val links = graft.ext.Warc.parseWarcColumn(blobs, "doc_id", "blob")
      .filter(col("warc_type") === "response")
      .select(col("doc_id"),
        explode(graft.ext.Html.extractLinks(col("payload").cast("string")))
          .as("href"))
      .withColumn("curl", graft.ext.Urls.canonicalizeUrl(col("href")))
      .withColumn("dom", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("curl"))))
      .withColumn("path", graft.ext.Urls.pathOf(col("curl")))
    val rules = Seq(
      ("site1.com", "/p/", false), ("site1.com", "/p/1", true),
      ("site2.com", "/", false), ("site4.com", "/p/0", false),
      ("site5.com", "/p", true), ("site5.com", "/p", false),
      ("site7.com", "/q", false),
      // footer domains: foot2 blocked, foot0 has a non-matching rule
      // (doc_id % 6 = 0 forces doc_id even, so only foot0/foot2 occur)
      ("foot2.net", "/f", false), ("foot0.net", "/x", false))
    val frontier = graft.ext.Urls.applyRobotsRules(links, rules, "dom", "path")
      .filter(col("allowed"))
      .groupBy(col("dom"), col("curl"))
      .agg(count(lit(1)).as("in_degree"), min(col("doc_id")).as("first_doc"))
    graft.ext.Urls.capPerDomain(frontier, "dom", "in_degree", "curl", cap = 3)
      .select(col("dom").as("registered_domain"), col("domain_rank"),
        col("curl"), col("in_degree"), col("first_doc"))
      .orderBy("registered_domain", "domain_rank")
  }

  /** robots.txt PARSING as a hash gate ([[graft.ext.RobotsTxt]]): per
    * doc a robots body is synthesized with every grammar hazard live —
    * a comment line and a TRAILING comment on a directive, a
    * non-`*` group whose rules must be ignored (before AND, for
    * i%5=0, after the `*` group), mixed-case directive names, a
    * stacked second `User-agent` line that must extend the `*` group
    * (not end it), an EMPTY `Disallow:` that is a marker rather than
    * a rule, an ignored `Crawl-delay:`, and CRLF vs LF line endings
    * by parity. The oracle states the expected (rule ordinal, prefix,
    * allow) rows straight from the generator arithmetic — any state
    * machine defect (group tracking, comment cut, case fold, empty
    * value) changes rows.
    */
  def robotsTxtParse(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val nl = when(pmod(i, lit(2)) === 0, lit("\r\n")).otherwise(lit("\n"))
    val k = pmod(i, lit(7)).cast("string")
    val txt = concat(
      lit("# crawl policy "), i.cast("string"), nl,
      lit("User-Agent: googlebot"), nl,
      lit("Disallow: /private"), pmod(i, lit(5)).cast("string"), nl,
      lit("User-agent: *"), nl,
      when(pmod(i, lit(3)) === 0, concat(lit("User-agent: extrabot"), nl))
        .otherwise(lit("")),
      lit("DISALLOW: /p/"), k,
      when(pmod(i, lit(3)) === 1, lit(" # temporary")).otherwise(lit("")), nl,
      when(pmod(i, lit(2)) === 0,
        concat(lit("Allow: /p/"), k, lit("/pub"), nl)).otherwise(lit("")),
      when(pmod(i, lit(4)) === 0, concat(lit("Disallow:"), nl)).otherwise(lit("")),
      lit("Crawl-delay: 5"), nl,
      when(pmod(i, lit(5)) === 0,
        concat(lit("User-agent: otherbot"), nl, lit("Disallow: /x"), nl))
        .otherwise(lit("")))
    t(s, d, "documents").select(col("doc_id"),
        graft.ext.RobotsTxt.parseRules(txt).as("rules"))
      .select(col("doc_id"), posexplode(col("rules")).as(Seq("rule_idx", "r")))
      .select(col("doc_id"), col("rule_idx"),
        col("r.prefix").as("prefix"), col("r.allow").as("allow"))
      .orderBy("doc_id", "rule_idx")
  }

  /** HTTP response parsing as a hash gate ([[graft.ext.Http]]): WARC
    * `response` payloads are HTTP MESSAGES, and this pins the
    * message split — status line (three codes), `Content-Type` media
    * type extraction (mixed case, charset parameter stripped, header
    * matched inside the header block only), another header pulled by
    * name, and the body taken past the FIRST `\r\n\r\n` — including
    * the hazard body that itself CONTAINS a blank line, which a
    * last-separator split would truncate. A non-HTTP payload row
    * yields NULL status / empty type (the quarantine signal).
    */
  def httpParse(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val status = element_at(array(lit("200 OK"), lit("404 Not Found"),
      lit("301 Moved Permanently")), (pmod(i, lit(3)) + 1).cast("int"))
    val ctype = element_at(array(lit("text/html; charset=UTF-8"),
      lit("application/json"), lit("Text/Plain")),
      (pmod(floor(i / 3), lit(3)) + 1).cast("int"))
    val body = when(pmod(i, lit(4)) === 1,
        concat(lit("A\r\n\r\nB "), i.cast("string")))
      .otherwise(concat(lit("body "), i.cast("string")))
    val payload = when(pmod(i, lit(11)) === 0,
        concat(lit("not-http "), i.cast("string")))
      .otherwise(concat(
        lit("HTTP/1.1 "), status, lit("\r\n"),
        when(pmod(i, lit(2)) === 0, lit("X-Cache: HIT\r\n")).otherwise(lit("")),
        lit("Content-Type: "), ctype, lit("\r\nServer: g\r\n\r\n"), body))
    t(s, d, "documents").select(col("doc_id"), payload.as("p"))
      .select(col("doc_id"),
        graft.ext.Http.statusOf(col("p")).as("status"),
        graft.ext.Http.contentTypeOf(col("p")).as("content_type"),
        graft.ext.Http.headerOf(col("p"), "X-Cache").as("x_cache"),
        graft.ext.Http.bodyOf(col("p")).as("body_text"))
      .orderBy("doc_id")
  }

  /** The Common-Crawl-shaped pipeline END TO END, robots rules as
    * DATA: WARC blobs whose response payloads are HTTP MESSAGES
    * wrapping the shared q210 html → parse ([[graft.ext.Warc]]) →
    * HTTP split ([[graft.ext.Http]]) → keep `200` + `text/html` only
    * (1 in 10 docs 404s, 1 in 9 serves JSON — both must drop out) →
    * link harvest → canonicalize → robots decision where the rule
    * table is PARSED from per-domain robots.txt bodies in-plan
    * ([[graft.ext.RobotsTxt.parseRules]] →
    * [[graft.ext.Urls.applyRobotsRulesFrom]], the q212 rule semantics
    * re-expressed as robots.txt text, non-`*` groups planted) →
    * frontier rollup → per-domain cap. q219 pinned the stack with
    * literal rules; this gate pins the production shape — rules as a
    * broadcast TABLE produced by the parser, plus the HTTP layer
    * q219 skips.
    */
  def crawlPipeline(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val html = PipelinesExt.docHtml(i)
    val status = when(pmod(i, lit(10)) === 0, lit("404 Not Found"))
      .otherwise(lit("200 OK"))
    val ctype = when(pmod(i, lit(9)) === 0, lit("application/json"))
      .otherwise(lit("text/html; charset=UTF-8"))
    val http = concat(lit("HTTP/1.1 "), status,
      lit("\r\nContent-Type: "), ctype, lit("\r\n\r\n"), html)
    val blob = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://origin"),
      pmod(i, lit(20)).cast("string"), lit(".com/d/"), i.cast("string"),
      lit("\r\nContent-Length: "), octet_length(http).cast("string"),
      lit("\r\n\r\n"), http, lit("\r\n\r\n")).cast("binary")
    val blobs = t(s, d, "documents").select(col("doc_id"), blob.as("blob"))
    val pages = graft.ext.Warc.parseWarcColumn(blobs, "doc_id", "blob")
      .filter(col("warc_type") === "response")
      .withColumn("p", col("payload").cast("string"))
      .filter(graft.ext.Http.statusOf(col("p")) === 200 &&
        graft.ext.Http.contentTypeOf(col("p")) === "text/html")
      .select(col("doc_id"), graft.ext.Http.bodyOf(col("p")).as("html"))
    val links = pages
      .select(col("doc_id"),
        explode(graft.ext.Html.extractLinks(col("html"))).as("href"))
      .withColumn("curl", graft.ext.Urls.canonicalizeUrl(col("href")))
      .withColumn("dom", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("curl"))))
      .withColumn("path", graft.ext.Urls.pathOf(col("curl")))
    // the q212 rule semantics, re-expressed as per-domain robots.txt
    // BODIES and parsed in-plan; rule-less domains carry a non-star
    // group (rules for someone else = no rules for us)
    val kk = col("id")
    val robotsTxt = when(kk === 1,
        lit("User-agent: *\nDisallow: /p/\nAllow: /p/1"))
      .when(kk === 2, lit("User-agent: *\nDisallow: /"))
      .when(kk === 4, lit("User-agent: *\nDisallow: /p/0"))
      .when(kk === 5, lit("User-agent: *\nAllow: /p\nDisallow: /p"))
      .when(kk === 7, lit("User-agent: *\nDisallow: /q"))
      .otherwise(lit("User-agent: googlebot\nDisallow: /"))
    val ruleTable = s.range(9).select(
      concat(lit("site"), kk.cast("string"), lit(".com")).as("domain"),
      graft.ext.RobotsTxt.parseRules(robotsTxt).as("rules"))
    val frontier = graft.ext.Urls.applyRobotsRulesFrom(links, ruleTable,
        "dom", "path")
      .filter(col("allowed"))
      .groupBy(col("dom"), col("curl"))
      .agg(count(lit(1)).as("in_degree"), min(col("doc_id")).as("first_doc"))
    graft.ext.Urls.capPerDomain(frontier, "dom", "in_degree", "curl", cap = 3)
      .select(col("dom").as("registered_domain"), col("domain_rank"),
        col("curl"), col("in_degree"), col("first_doc"))
      .orderBy("registered_domain", "domain_rank")
  }

  /** Sitemap ingestion as a hash gate
    * ([[graft.ext.Html.extractSitemapLocs]]): per doc a sitemaps.org
    * `<urlset>` with 1–3 `<url><loc>` entries — namespace attribute
    * on the root, whitespace padding inside `<loc>` (must trim), the
    * spec-REQUIRED `&amp;` escaping inside loc values (must decode),
    * and an unknown `<priority>` sibling that must flow past. Each
    * loc then canonicalizes ([[graft.ext.Urls.canonicalizeUrl]]:
    * mixed case, `:443` default port, tracking param, the decoded
    * `&`) — the frontier-feed composition. The oracle restates loc
    * and canonical per (doc, ordinal) from the generator arithmetic.
    */
  def sitemapIngest(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    def loc(j: Int): Column = when(pmod(i, lit(3)) >= j, concat(
      lit("<url><loc>\n  HTTPS://Site"),
      pmod(floor(i / 3) + lit(4 * j), lit(9)).cast("string"),
      lit(".COM:443/s/" + j + "?utm_y=2&amp;id="), pmod(i, lit(5)).cast("string"),
      lit("\n  </loc><priority>0.")
        , pmod(i, lit(9)).cast("string"), lit("</priority></url>")))
      .otherwise(lit(""))
    val xml = concat(
      lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      loc(0), loc(1), loc(2), lit("</urlset>"))
    t(s, d, "documents").select(col("doc_id"),
        graft.ext.Html.extractSitemapLocs(xml).as("locs"))
      .select(col("doc_id"), posexplode(col("locs")).as(Seq("loc_idx", "loc")))
      .withColumn("canonical_url", graft.ext.Urls.canonicalizeUrl(col("loc")))
      .orderBy("doc_id", "loc_idx")
  }

  /** Charset-correct body decoding as a hash gate
    * ([[graft.ext.Http.decodeBody]]): payloads are REAL bytes — the
    * same text encoded as UTF-8 (2-byte é) or ISO-8859-1 (1-byte é,
    * quoted mixed-case charset parameter), plus an undeclared-charset
    * document (UTF-8 crawl default), a declared us-ascii one, and a
    * shift_jis row that must yield NULL (quarantine, never mojibake).
    * The gate also emits [[graft.ext.Http.charsetOf]]. A decoder that
    * framed through a UTF-8 view, ignored the charset parameter, or
    * guessed at unsupported encodings changes rows; the oracle states
    * the expected text (with its non-ASCII characters) per branch.
    */
  def charsetDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val payloads = t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { i =>
          val accented = s"café résumé $i"
          val ascii = s"plain ascii $i"
          val smart = s"price €9 “quoted” $i" // cp1252 0x80/0x93/0x94
          val (ctypeTail, bodyBytes) = (i % 4) match {
            case 0 => ("; charset=utf-8", accented.getBytes("UTF-8"))
            case 1 => ("; charset=\"ISO-8859-1\"", accented.getBytes("ISO-8859-1"))
            case 2 =>
              if (i % 8 == 2) ("", ascii.getBytes("US-ASCII"))
              else ("; charset=US-ASCII", ascii.getBytes("US-ASCII"))
            case _ =>
              if (i % 8 == 3) ("; charset=Windows-1252", smart.getBytes("windows-1252"))
              else ("; charset=shift_jis", ascii.getBytes("US-ASCII"))
          }
          val header = s"HTTP/1.1 200 OK\r\nContent-Type: text/html$ctypeTail\r\n\r\n"
          (i, header.getBytes("US-ASCII") ++ bodyBytes)
        }
      }.toDF("doc_id", "payload")
    payloads.select(col("doc_id"),
        graft.ext.Http.charsetOf(decode(col("payload"), "ISO-8859-1"))
          .as("charset"),
        graft.ext.Http.decodeBody(col("payload")).as("body_text"))
      .orderBy("doc_id")
  }

  /** Relative-URL resolution as a hash gate
    * ([[graft.ext.Urls.resolveUrl]]), composed the way a frontier
    * builds: a one-anchor page is synthesized, the href HARVESTED
    * ([[graft.ext.Html.extractLinks]]), then resolved against the
    * page's own URL. Branches cover every RFC 3986 §5.3 merge case —
    * absolute, protocol-relative, root-relative, path-relative,
    * `../` (plus a `../../..` that must CLAMP at root), `./`,
    * query-only (base path kept, query replaced), and fragment-only
    * (base path AND base query inherited). The oracle states the
    * resolved URL per branch from the generator arithmetic — merge
    * choice, dot-segment stack, query inheritance all hash-visible.
    */
  def urlResolve(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val k = pmod(i, lit(3)).cast("string")
    val m = pmod(i, lit(4)).cast("string")
    val base = concat(lit("http://base"), pmod(i, lit(5)).cast("string"),
      lit(".com/a"), k, lit("/b/c.html"),
      when(pmod(i, lit(2)) === 0, lit("?id=9")).otherwise(lit("")))
    val href = when(pmod(i, lit(13)) === 0, lit("#sec"))
      .when(pmod(i, lit(17)) === 0, lit("../../../z"))
      .otherwise(element_at(array(
        lit("http://abs.example/x"),
        concat(lit("//cdn"), k, lit(".com/y")),
        concat(lit("/rooted/p"), m),
        concat(lit("img/"), m, lit(".png")),
        concat(lit("../up/"), m),
        concat(lit("./same/"), m, lit("?z=1")),
        concat(lit("?q="), m)), (pmod(i, lit(7)) + 1).cast("int")))
    val html = concat(lit("<a href=\""), href, lit("\">x</a>"))
    t(s, d, "documents")
      .select(col("doc_id"), base.as("base_url"),
        explode(graft.ext.Html.extractLinks(html)).as("href"))
      .withColumn("resolved",
        graft.ext.Urls.resolveUrl(col("base_url"), col("href")))
      .select(col("doc_id"), col("href"), col("resolved"))
      .orderBy("doc_id")
  }

  /** RFC 9309 WILDCARD rules end to end (`*` any-sequence, trailing
    * `$` anchor) — parsed from robots.txt TEXT
    * ([[graft.ext.RobotsTxt.parseRules]] compiles `rx`) and decided
    * through the data-driven gear
    * ([[graft.ext.Urls.applyRobotsRulesFrom]]): the q212 frontier
    * under rule bodies where a WILDCARD must beat a shorter prefix
    * (site3 allows the `/p/` prefix but disallows the 5-char
    * star-slash-1-anchor pattern — /p/1 falls to the longer pattern,
    * /p/0 stays allowed), an ANCHOR must match exactly one path
    * (site6 `/p/0$`), a never-matching wildcard must decide nothing
    * (site8 `/x*y`), and plain-prefix and whole-site rules ride
    * unchanged next to them. `matched_len` is the RAW
    * pattern length (the RFC most-specific tiebreaker), so the oracle
    * pins precedence, not just the boolean.
    */
  def robotsWildcard(s: SparkSession, d: String): DataFrame = {
    val links = t(s, d, "documents").select(col("doc_id"),
        PipelinesExt.docHtml(col("doc_id")).as("html"))
      .select(col("doc_id"),
        explode(graft.ext.Html.extractLinks(col("html"))).as("href"))
      .withColumn("curl", graft.ext.Urls.canonicalizeUrl(col("href")))
      .withColumn("dom", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("curl"))))
      .withColumn("path", graft.ext.Urls.pathOf(col("curl")))
    val kk = col("id")
    val robotsTxt = when(kk === 1,
        lit("User-agent: *\nDisallow: /p/\nAllow: /p/1"))
      .when(kk === 2, lit("User-agent: *\nDisallow: /"))
      .when(kk === 3, lit("User-agent: *\nAllow: /p/\nDisallow: /*/1$"))
      .when(kk === 6, lit("User-agent: *\nDisallow: /p/0$"))
      .when(kk === 8, lit("User-agent: *\nDisallow: /x*y"))
      .otherwise(lit("User-agent: googlebot\nDisallow: /"))
    val ruleTable = s.range(9).select(
      concat(lit("site"), kk.cast("string"), lit(".com")).as("domain"),
      graft.ext.RobotsTxt.parseRules(robotsTxt).as("rules"))
    graft.ext.Urls.applyRobotsRulesFrom(links, ruleTable, "dom", "path")
      .select(col("doc_id"), col("curl"), col("allowed"), col("matched_len"))
      .orderBy("doc_id", "curl")
  }

  /** The CAPSTONE crawl gate — every round-15 layer composed the way
    * Common Crawl is actually processed, no stage skipped:
    *
    *   per-record GZIP members ([[graft.ext.Warc.gunzipMembers]]) →
    *   length-driven WARC parse → HTTP message split
    *   ([[graft.ext.Http]], non-200 and non-html responses drop) →
    *   link harvest → RELATIVE resolution against the record's own
    *   `WARC-Target-URI` ([[graft.ext.Urls.resolveUrl]] — pages link
    *   relatively: `item/3`, `../shared/5`, plus an absolute
    *   cross-site anchor with canonicalization hazards) →
    *   [[graft.ext.Urls.canonicalizeUrl]] → robots rules PARSED from
    *   per-domain robots.txt text including a WILDCARD pattern
    *   ([[graft.ext.RobotsTxt.parseRules]] →
    *   [[graft.ext.Urls.applyRobotsRulesFrom]]) → frontier rollup →
    *   per-domain cap.
    *
    * Fixture keys are decorrelated (the q212 lesson): host `i % 9`,
    * JSON responses `i % 11 = 1`, 404s `i % 10 = 0`, link fan-out
    * `i % 2` / `i % 5` — no filter silently blanks a host. The oracle
    * chains every stage's CTE from the generator arithmetic; each
    * stage's own gate (q214, q221, q225, q226, q216/q207) localizes a
    * break this composition detects.
    */
  def crawlFull(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = tSpread(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { i =>
          val k0 = (i % 9).toInt
          val pageUrl = s"http://site$k0.com/dir${i % 4}/page${i % 20}.html"
          val sb = new StringBuilder("<html><body>")
          sb.append(s"""<a href="item/${i % 5}">a</a>""")
          if (i % 2 == 0) sb.append(s"<a href='../shared/${i % 7}'>b</a>")
          if (i % 5 == 0)
            sb.append(s"""<a href="HTTP://WWW.Site${(i / 5) % 9}.COM:80/abs/${i % 3}/">c</a>""")
          sb.append("</body></html>")
          val status = if (i % 10 == 0) "404 Not Found" else "200 OK"
          val ctype =
            if (i % 11 == 1) "application/json" else "text/html; charset=UTF-8"
          val http = s"HTTP/1.1 $status\r\nContent-Type: $ctype\r\n\r\n" + sb
          val rec = s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: $pageUrl\r\n" +
            s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n"
          val req = s"WARC/1.0\r\nWARC-Type: request\r\n" +
            s"WARC-Target-URI: $pageUrl\r\nContent-Length: 4\r\n\r\nping\r\n\r\n"
          val bos = new java.io.ByteArrayOutputStream()
          for (member <- Seq(rec, req)) {
            // close() (not bare finish()) ends the native Deflater;
            // BAOS.close() is a no-op so the stream stays usable
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(member.getBytes("US-ASCII"))
            gz.close()
          }
          (i, bos.toByteArray)
        }
      }.toDF("doc_id", "blob")
    val links = graft.ext.Warc
      .parseWarcColumn(blobs, "doc_id", "blob", gzipped = true)
      .filter(col("warc_type") === "response")
      .withColumn("p", col("payload").cast("string"))
      .filter(graft.ext.Http.statusOf(col("p")) === 200 &&
        graft.ext.Http.contentTypeOf(col("p")) === "text/html")
      .select(col("doc_id"), col("target_uri"),
        explode(graft.ext.Html.extractLinks(
          graft.ext.Http.bodyOf(col("p")))).as("href"))
      // resolved is staged as an attribute before canonicalization:
      // canonicalizeUrl references its input ~15 times, and inlining
      // the resolveUrl tree (with its aggregate-HOF segment stack) per
      // reference explodes the generated code (the q216 lesson)
      .withColumn("resolved",
        graft.ext.Urls.resolveUrl(col("target_uri"), col("href")))
      .withColumn("curl", graft.ext.Urls.canonicalizeUrl(col("resolved")))
      .withColumn("dom", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("curl"))))
      .withColumn("path", graft.ext.Urls.pathOf(col("curl")))
    val kk = col("id")
    val robotsTxt = when(kk === 2, lit("User-agent: *\nDisallow: /shared/"))
      .when(kk === 4, lit("User-agent: *\nDisallow: /*/item/3$"))
      .when(kk === 6, lit("User-agent: *\nDisallow: /"))
      .when(kk === 7, lit("User-agent: *\nAllow: /abs\nDisallow: /abs"))
      .otherwise(lit("User-agent: googlebot\nDisallow: /"))
    val ruleTable = s.range(9).select(
      concat(lit("site"), kk.cast("string"), lit(".com")).as("domain"),
      graft.ext.RobotsTxt.parseRules(robotsTxt).as("rules"))
    val frontier = graft.ext.Urls
      .applyRobotsRulesFrom(links, ruleTable, "dom", "path")
      .filter(col("allowed"))
      .groupBy(col("dom"), col("curl"))
      .agg(count(lit(1)).as("in_degree"), min(col("doc_id")).as("first_doc"))
    graft.ext.Urls.capPerDomain(frontier, "dom", "in_degree", "curl", cap = 3)
      .select(col("dom").as("registered_domain"), col("domain_rank"),
        col("curl"), col("in_degree"), col("first_doc"))
      .orderBy("registered_domain", "domain_rank")
  }

  /** Main-content extraction (boilerplate removal) as a hash gate
    * ([[graft.ext.Html.extractMainText]]): each page carries the four
    * block archetypes a real crawl page mixes — a nav bar (short AND
    * link-saturated: dies by both tests), an always-present prose
    * paragraph (kept), an even-doc paragraph whose INLINE link must
    * not disqualify it (the density threshold under test from below),
    * a promo block that clears the LENGTH floor but dies by density
    * alone (26 anchor chars of 44 — the density branch isolated), and
    * a footer (short). The `<head><title>` lands in the leading
    * non-block chunk and is dropped by length — titles are not body
    * text. The oracle states the surviving prose directly from the
    * generator arithmetic; a scorer that counted anchor chars wrong,
    * split blocks wrong, or skipped the extraction-order contract
    * changes rows.
    */
  def mainContent(s: SparkSession, d: String): DataFrame = {
    val i = col("doc_id")
    val html = concat(
      lit("<html><head><title>Doc "), i.cast("string"),
      lit("</title></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/faq\">FAQ</a></nav>"),
      lit("<p>Opening paragraph "), pmod(i, lit(7)).cast("string"),
      lit(" carries enough plain prose to clear the length floor easily.</p>"),
      when(pmod(i, lit(2)) === 0, concat(
        lit("<p>Second passage keeps <a href=\"/ref\">one link "),
        pmod(i, lit(5)).cast("string"),
        lit("</a> inside substantially longer surrounding prose text.</p>")))
        .otherwise(lit("")),
      when(pmod(i, lit(3)) === 0, concat(
        lit("<div><a href=\"/buy\">Buy now "), pmod(i, lit(4)).cast("string"),
        lit("</a> - <a href=\"/deal\">todays deals here</a> limited offer!</div>")))
        .otherwise(lit("")),
      lit("<footer><a href=\"/contact\">Contact</a></footer></body></html>"))
    t(s, d, "documents").select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        graft.ext.Html.extractMainText(col("html")).as("main_text"))
      .orderBy("doc_id")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // expected fields and payloads restated from the q214 generator —
    // gzip is transparent to the oracle by construction; the j=1
    // payload still embeds the fake header block
    Gate("q214_warc_gz_ingest", Family.Crawl, warcGzIngest, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 + 1 AS n FROM documents),
        |l AS (SELECT i, j FROM d,
        |    (SELECT unnest(generate_series(0, 2)) AS j) s WHERE j < n),
        |p AS (SELECT i, j,
        |    CASE WHEN j = 1 THEN 'G' || chr(13) || chr(10) || 'WARC/1.0'
        |        || chr(13) || chr(10) || 'WARC-Type: fake' || chr(13) || chr(10)
        |        || chr(13) || chr(10) || 'Z ' || i
        |      ELSE 'gz payload ' || i || ':' || j || ' '
        |        || repeat('y', CAST((i + 2 * j) % 5 AS INTEGER)) END AS payload
        |  FROM l)
        |SELECT i AS doc_id, CAST(j AS INTEGER) AS rec_idx,
        |  CASE WHEN j % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
        |  'http://gz' || ((i // 5 + 3 * j) % 7) || '.org/g/' || j AS target_uri,
        |  CAST(length(payload) AS BIGINT) AS content_length,
        |  payload AS payload_text
        |FROM p ORDER BY doc_id, rec_idx""".stripMargin),

    // the q206 arithmetic under the r15: salt — resize exactness means
    // the hash pipeline sees the SAME 18×16 block grid at every source
    // scale, so scale never appears in the oracle
    Gate("q215_image_resize_dedup", Family.Dedup, imageResizeDedup, _ =>
      """WITH grid AS (SELECT bx, by FROM range(9) t1(bx), range(8) t2(by)),
        |docs AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS v FROM documents),
        |gids AS (SELECT DISTINCT gid FROM docs),
        |h AS (SELECT gid, bx, by,
        |    strpos('0123456789abcdef',
        |      substr(md5('r15:' || CAST(gid AS VARCHAR) || ':' || bx || ':' || by), 1, 1)) - 1 AS hv
        |  FROM gids, grid),
        |g AS (SELECT d.doc_id, hh.bx, hh.by,
        |    4 * (hh.hv * 12 + d.v)
        |      + CASE WHEN d.v = 3 AND hh.bx = 0 AND hh.by = 0 THEN 256 ELSE 0 END AS gsum
        |  FROM docs d JOIN h hh ON hh.gid = d.gid),
        |bits AS (SELECT a.doc_id, a.by * 8 + a.bx AS idx,
        |    CASE WHEN b.gsum > a.gsum THEN 1 ELSE 0 END AS bit
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.by = a.by AND b.bx = a.bx + 1),
        |bandvals AS (SELECT doc_id, idx // 16 AS band,
        |    CAST(sum(bit * (1 << (idx % 16))) AS INTEGER) AS bval
        |  FROM bits GROUP BY 1, 2),
        |wide AS (SELECT doc_id,
        |    max(CASE WHEN band = 0 THEN bval END) AS b0,
        |    max(CASE WHEN band = 1 THEN bval END) AS b1,
        |    max(CASE WHEN band = 2 THEN bval END) AS b2,
        |    max(CASE WHEN band = 3 THEN bval END) AS b3
        |  FROM bandvals GROUP BY doc_id),
        |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM bandvals x JOIN bandvals y
        |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id),
        |pairs AS (SELECT c.id_a, c.id_b,
        |    bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
        |      + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3)) AS hd
        |  FROM cand c JOIN wide wa ON wa.doc_id = c.id_a
        |              JOIN wide wb ON wb.doc_id = c.id_b)
        |SELECT id_a, id_b, CAST(hd AS INTEGER) AS hamming
        |FROM pairs WHERE hd <= 8 ORDER BY id_a, id_b""".stripMargin),

    // the canonical string stated from the generator — the oracle never
    // percent-decodes: unreserved escapes are written decoded, reserved
    // ones uppercase, the malformed %zz verbatim
    Gate("q216_url_percent_canonicalize", Family.Crawl, urlPercentCanonicalize, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents)
        |SELECT i AS doc_id,
        |  'https://ex' || (i % 4) || '.com/f/~%2F'
        |    || ['A', 'A', 'a'][CAST((i // 3) % 3 AS INTEGER) + 1]
        |    || CASE WHEN i % 5 = 0 THEN '%zz' ELSE '' END
        |    || '?v=' || ['J', 'J', '%7C'][CAST((i // 9) % 3 AS INTEGER) + 1]
        |    AS canonical_url,
        |  TRUE AS idempotent
        |FROM d ORDER BY doc_id""".stripMargin),

    // the q212 decision table restated — 90 dummy rule domains match no
    // frontier row, so the broadcast-join gear must reproduce the
    // literal gear's decisions exactly
    Gate("q217_robots_join_filter", Family.Crawl, robotsJoinFilter, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS nl FROM documents),
        |l AS (SELECT i, j FROM d,
        |    (SELECT unnest(generate_series(0, 1)) AS j) s WHERE j < nl),
        |u AS (SELECT i, (i // 3 + 4 * j) % 9 AS k, j,
        |    'http://site' || ((i // 3 + 4 * j) % 9) || '.com/p/' || j
        |      || '?x=' || (i % 4) AS curl FROM l)
        |SELECT i AS doc_id, curl,
        |  CASE WHEN k = 1 AND j = 0 THEN FALSE
        |       WHEN k = 2 THEN FALSE
        |       WHEN k = 4 AND j = 0 THEN FALSE
        |       ELSE TRUE END AS allowed,
        |  CAST(CASE WHEN k = 1 AND j = 0 THEN 3
        |       WHEN k = 1 AND j = 1 THEN 4
        |       WHEN k = 2 THEN 1
        |       WHEN k = 4 AND j = 0 THEN 4
        |       WHEN k = 5 THEN 2
        |       ELSE 0 END AS INTEGER) AS matched_len
        |FROM u ORDER BY doc_id, curl""".stripMargin),

    // expected registered domain per host branch: longest listed
    // suffix + one label; suffix-only host → NULL; unlisted TLD → the
    // default * rule; IPv4 → the address itself
    Gate("q218_psl_domains", Family.Crawl, pslDomains, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k
        |  FROM documents)
        |SELECT i AS doc_id,
        |  CASE WHEN i % 11 = 0 THEN '10.0.' || (i % 4) || '.' || (i % 9)
        |       WHEN i % 5 = 0 THEN 'alpha' || k || '.github.io'
        |       WHEN i % 5 = 1 THEN 'www.beta' || k || '.com.au'
        |       WHEN i % 5 = 2 THEN 'cdn.gamma' || k || '.co.uk'
        |       WHEN i % 5 = 3 THEN 'a.b.delta' || k || '.org'
        |       WHEN i % 2 = 0 THEN 'github.io'
        |       ELSE 'eps' || k || '.zz' END AS host,
        |  CASE WHEN i % 11 = 0 THEN '10.0.' || (i % 4) || '.' || (i % 9)
        |       WHEN i % 5 = 0 THEN 'alpha' || k || '.github.io'
        |       WHEN i % 5 = 1 THEN 'beta' || k || '.com.au'
        |       WHEN i % 5 = 2 THEN 'gamma' || k || '.co.uk'
        |       WHEN i % 5 = 3 THEN 'delta' || k || '.org'
        |       WHEN i % 2 = 0 THEN NULL
        |       ELSE 'eps' || k || '.zz' END AS registered_domain
        |FROM d ORDER BY doc_id""".stripMargin),

    // the whole stack chained as CTEs: q211's link arithmetic + the
    // single-quoted footer, canonical urls restated, q212's robots
    // decisions + the footer rules, the frontier rollup, and the
    // per-domain cap windows
    Gate("q219_crawl_stack", Family.Crawl, crawlStack, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS nl FROM documents),
        |main AS (SELECT i,
        |    'http://site' || ((i // 3 + 4 * j) % 9) || '.com/p/' || j
        |      || '?x=' || (i % 4) AS curl,
        |    'site' || ((i // 3 + 4 * j) % 9) || '.com' AS dom,
        |    (i // 3 + 4 * j) % 9 AS k, j
        |  FROM d, (SELECT unnest(generate_series(0, 1)) AS j) s WHERE j < nl),
        |foot AS (SELECT i,
        |    'https://foot' || (i % 4) || '.net/f' AS curl,
        |    'foot' || (i % 4) || '.net' AS dom,
        |    -1 AS k, -1 AS j
        |  FROM d WHERE i % 6 = 0),
        |linked AS (SELECT * FROM main UNION ALL SELECT * FROM foot),
        |decided AS (SELECT *,
        |    CASE WHEN k = 1 AND j = 0 THEN FALSE
        |         WHEN k = 2 THEN FALSE
        |         WHEN k = 4 AND j = 0 THEN FALSE
        |         WHEN dom = 'foot2.net' THEN FALSE
        |         ELSE TRUE END AS allowed
        |  FROM linked),
        |frontier AS (SELECT dom, curl, count(*) AS in_degree,
        |    min(i) AS first_doc
        |  FROM decided WHERE allowed GROUP BY dom, curl),
        |capped AS (SELECT *, row_number() OVER (PARTITION BY dom
        |    ORDER BY in_degree DESC, curl) AS dr FROM frontier)
        |SELECT dom AS registered_domain, CAST(dr AS INTEGER) AS domain_rank,
        |  curl, in_degree, first_doc
        |FROM capped WHERE dr <= 3
        |ORDER BY registered_domain, domain_rank""".stripMargin),

    // expected (ordinal, prefix, allow) rows stated from the generator:
    // exactly one disallow from the * group (the googlebot and otherbot
    // groups' rules must never appear), plus the even-doc allow; the
    // empty Disallow and Crawl-delay contribute nothing
    Gate("q220_robots_txt_parse", Family.Crawl, robotsTxtParse, _ =>
      """WITH d AS (SELECT doc_id AS i, CAST(doc_id % 7 AS VARCHAR) AS k
        |  FROM documents)
        |SELECT doc_id, rule_idx, prefix, allow FROM (
        |  SELECT i AS doc_id, CAST(0 AS INTEGER) AS rule_idx,
        |    '/p/' || k AS prefix, CAST(0 AS INTEGER) AS allow FROM d
        |  UNION ALL
        |  SELECT i, CAST(1 AS INTEGER), '/p/' || k || '/pub',
        |    CAST(1 AS INTEGER) FROM d WHERE i % 2 = 0)
        |ORDER BY doc_id, rule_idx""".stripMargin),

    // expected message split stated from the generator: status code,
    // parameter-stripped lowercased media type, the named header, and
    // the body INCLUDING the embedded-blank-line hazard; the non-HTTP
    // row yields NULL/empty across the board
    Gate("q221_http_parse", Family.Crawl, httpParse, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents)
        |SELECT i AS doc_id,
        |  CASE WHEN i % 11 = 0 THEN NULL
        |       ELSE [200, 404, 301][CAST(i % 3 AS INTEGER) + 1] END AS status,
        |  CASE WHEN i % 11 = 0 THEN ''
        |       ELSE ['text/html', 'application/json', 'text/plain']
        |         [CAST((i // 3) % 3 AS INTEGER) + 1] END AS content_type,
        |  CASE WHEN i % 11 <> 0 AND i % 2 = 0 THEN 'HIT' ELSE '' END AS x_cache,
        |  CASE WHEN i % 11 = 0 THEN ''
        |       WHEN i % 4 = 1 THEN 'A' || chr(13) || chr(10) || chr(13)
        |         || chr(10) || 'B ' || i
        |       ELSE 'body ' || i END AS body_text
        |FROM d ORDER BY doc_id""".stripMargin),

    // the q219 chain with the HTTP layer's filters applied up front
    // (404s and JSON responses contribute no links) and the q212
    // robots decisions — now produced by the in-plan robots.txt parse
    Gate("q222_crawl_pipeline", Family.Crawl, crawlPipeline, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS nl FROM documents
        |           WHERE doc_id % 10 <> 0 AND doc_id % 9 <> 0),
        |main AS (SELECT i,
        |    'http://site' || ((i // 3 + 4 * j) % 9) || '.com/p/' || j
        |      || '?x=' || (i % 4) AS curl,
        |    'site' || ((i // 3 + 4 * j) % 9) || '.com' AS dom,
        |    (i // 3 + 4 * j) % 9 AS k, j
        |  FROM d, (SELECT unnest(generate_series(0, 1)) AS j) s WHERE j < nl),
        |decided AS (SELECT *,
        |    CASE WHEN k = 1 AND j = 0 THEN FALSE
        |         WHEN k = 2 THEN FALSE
        |         WHEN k = 4 AND j = 0 THEN FALSE
        |         ELSE TRUE END AS allowed
        |  FROM main),
        |frontier AS (SELECT dom, curl, count(*) AS in_degree,
        |    min(i) AS first_doc
        |  FROM decided WHERE allowed GROUP BY dom, curl),
        |capped AS (SELECT *, row_number() OVER (PARTITION BY dom
        |    ORDER BY in_degree DESC, curl) AS dr FROM frontier)
        |SELECT dom AS registered_domain, CAST(dr AS INTEGER) AS domain_rank,
        |  curl, in_degree, first_doc
        |FROM capped WHERE dr <= 3
        |ORDER BY registered_domain, domain_rank""".stripMargin),

    // expected charset and decoded text per branch — the é/€/“ ”
    // characters are literal in the oracle, so a UTF-8-view framing
    // bug, an ignored charset parameter (mojibake), or a cp1252 block
    // left as C1 controls breaks the hash; shift_jis rows must be NULL
    Gate("q224_charset_decode", Family.Crawl, charsetDecode, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents)
        |SELECT i AS doc_id,
        |  CASE CAST(i % 4 AS INTEGER)
        |    WHEN 0 THEN 'utf-8'
        |    WHEN 1 THEN 'iso-8859-1'
        |    WHEN 2 THEN CASE WHEN i % 8 = 2 THEN '' ELSE 'us-ascii' END
        |    ELSE CASE WHEN i % 8 = 3 THEN 'windows-1252'
        |         ELSE 'shift_jis' END END AS charset,
        |  CASE CAST(i % 4 AS INTEGER)
        |    WHEN 0 THEN 'café résumé ' || i
        |    WHEN 1 THEN 'café résumé ' || i
        |    WHEN 2 THEN 'plain ascii ' || i
        |    ELSE CASE WHEN i % 8 = 3 THEN 'price €9 “quoted” ' || i
        |         ELSE NULL END END AS body_text
        |FROM d ORDER BY doc_id""".stripMargin),

    // resolved URL per RFC 3986 merge branch, stated directly: the
    // dot-segment stack (incl. the root clamp), query replacement vs
    // inheritance, and the authority choice are all in the expected
    // strings
    Gate("q225_url_resolve", Family.Crawl, urlResolve, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS k, doc_id % 4 AS m,
        |    doc_id % 5 AS r5,
        |    CASE WHEN doc_id % 2 = 0 THEN '?id=9' ELSE '' END AS bq
        |  FROM documents),
        |b AS (SELECT *, 'http://base' || r5 || '.com' AS root,
        |    '/a' || k || '/b' AS dir FROM d)
        |SELECT i AS doc_id,
        |  CASE WHEN i % 13 = 0 THEN '#sec'
        |       WHEN i % 17 = 0 THEN '../../../z'
        |       ELSE ['http://abs.example/x', '//cdn' || k || '.com/y',
        |         '/rooted/p' || m, 'img/' || m || '.png', '../up/' || m,
        |         './same/' || m || '?z=1', '?q=' || m]
        |         [CAST(i % 7 AS INTEGER) + 1] END AS href,
        |  CASE WHEN i % 13 = 0 THEN root || dir || '/c.html' || bq
        |       WHEN i % 17 = 0 THEN root || '/z'
        |       ELSE [
        |         'http://abs.example/x',
        |         'http://cdn' || k || '.com/y',
        |         root || '/rooted/p' || m,
        |         root || dir || '/img/' || m || '.png',
        |         root || '/a' || k || '/up/' || m,
        |         root || dir || '/same/' || m || '?z=1',
        |         root || dir || '/c.html?q=' || m]
        |         [CAST(i % 7 AS INTEGER) + 1] END AS resolved
        |FROM b ORDER BY doc_id""".stripMargin),

    // expected wildcard decisions stated per (domain k, path ordinal j):
    // matched_len is the RAW pattern length, so wildcard-vs-prefix
    // precedence (site3: 5 > 3) is hash-pinned, not just the boolean
    Gate("q226_robots_wildcard", Family.Crawl, robotsWildcard, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS nl FROM documents),
        |l AS (SELECT i, j FROM d,
        |    (SELECT unnest(generate_series(0, 1)) AS j) s WHERE j < nl),
        |u AS (SELECT i, (i // 3 + 4 * j) % 9 AS k, j,
        |    'http://site' || ((i // 3 + 4 * j) % 9) || '.com/p/' || j
        |      || '?x=' || (i % 4) AS curl FROM l)
        |SELECT i AS doc_id, curl,
        |  CASE WHEN k = 1 AND j = 0 THEN FALSE
        |       WHEN k = 2 THEN FALSE
        |       WHEN k = 3 AND j = 1 THEN FALSE
        |       WHEN k = 6 AND j = 0 THEN FALSE
        |       ELSE TRUE END AS allowed,
        |  CAST(CASE WHEN k = 1 AND j = 0 THEN 3
        |       WHEN k = 1 AND j = 1 THEN 4
        |       WHEN k = 2 THEN 1
        |       WHEN k = 3 AND j = 0 THEN 3
        |       WHEN k = 3 AND j = 1 THEN 5
        |       WHEN k = 6 AND j = 0 THEN 5
        |       ELSE 0 END AS INTEGER) AS matched_len
        |FROM u ORDER BY doc_id, curl""".stripMargin),

    // the surviving prose blocks stated from the generator: the nav,
    // promo, footer, and title chunks never appear — length and
    // density kills are both exercised (the promo dies by density
    // alone: 26 anchor chars against 44 text chars at the 50% gate)
    Gate("q228_main_content", Family.Crawl, mainContent, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents)
        |SELECT i AS doc_id,
        |  'Opening paragraph ' || (i % 7)
        |    || ' carries enough plain prose to clear the length floor easily.'
        |  || CASE WHEN i % 2 = 0
        |     THEN ' Second passage keeps one link ' || (i % 5)
        |       || ' inside substantially longer surrounding prose text.'
        |     ELSE '' END AS main_text
        |FROM d ORDER BY doc_id""".stripMargin),

    // the capstone chain stated stage by stage: the HTTP filters cut
    // the doc set (decorrelated keys), the three link arms state their
    // RESOLVED canonical urls and robots decisions directly, then the
    // frontier rollup and cap windows replay
    Gate("q227_crawl_full", Family.Crawl, crawlFull, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents
        |           WHERE doc_id % 10 <> 0 AND doc_id % 11 <> 1),
        |la AS (SELECT i, i % 9 AS k,
        |    'http://site' || (i % 9) || '.com/dir' || (i % 4)
        |      || '/item/' || (i % 5) AS curl,
        |    NOT (i % 9 = 6 OR (i % 9 = 4 AND i % 5 = 3)) AS allowed
        |  FROM d),
        |lb AS (SELECT i, i % 9 AS k,
        |    'http://site' || (i % 9) || '.com/shared/' || (i % 7) AS curl,
        |    i % 9 NOT IN (2, 6) AS allowed
        |  FROM d WHERE i % 2 = 0),
        |lc AS (SELECT i, (i // 5) % 9 AS k,
        |    'http://site' || ((i // 5) % 9) || '.com/abs/' || (i % 3) AS curl,
        |    (i // 5) % 9 <> 6 AS allowed
        |  FROM d WHERE i % 5 = 0),
        |linked AS (SELECT * FROM la UNION ALL SELECT * FROM lb
        |           UNION ALL SELECT * FROM lc),
        |frontier AS (SELECT 'site' || k || '.com' AS dom, curl,
        |    count(*) AS in_degree, min(i) AS first_doc
        |  FROM linked WHERE allowed GROUP BY 1, 2),
        |capped AS (SELECT *, row_number() OVER (PARTITION BY dom
        |    ORDER BY in_degree DESC, curl) AS dr FROM frontier)
        |SELECT dom AS registered_domain, CAST(dr AS INTEGER) AS domain_rank,
        |  curl, in_degree, first_doc
        |FROM capped WHERE dr <= 3
        |ORDER BY registered_domain, domain_rank""".stripMargin),

    // expected (ordinal, raw trimmed+decoded loc, canonical) per doc:
    // the oracle writes the DECODED loc (it never runs entity or url
    // logic) and the canonical form with port/tracking/case folded
    Gate("q223_sitemap_ingest", Family.Crawl, sitemapIngest, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS nl FROM documents),
        |l AS (SELECT i, j FROM d,
        |    (SELECT unnest(generate_series(0, 2)) AS j) s WHERE j <= nl),
        |u AS (SELECT i, j, (i // 3 + 4 * j) % 9 AS kk FROM l)
        |SELECT i AS doc_id, CAST(j AS INTEGER) AS loc_idx,
        |  'HTTPS://Site' || kk || '.COM:443/s/' || j
        |    || '?utm_y=2&id=' || (i % 5) AS loc,
        |  'https://site' || kk || '.com/s/' || j || '?id=' || (i % 5)
        |    AS canonical_url
        |FROM u ORDER BY doc_id, loc_idx""".stripMargin)
  )
}

/** Suffix fixture shared by the q218 gate and UrlsSpec — a PSL-shaped
  * exact-entry subset: ICANN TLDs, ccTLD second levels, and one
  * private suffix.
  */
private[graft] object PslFixture {
  val Suffixes: Seq[String] = Seq(
    "com", "org", "net", "io", "au", "uk", "edu", "gov",
    "com.au", "net.au", "gov.au", "co.uk", "org.uk", "ac.uk",
    "github.io")
}
