package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fs.ParquetFooters

/** Round-14 gates. Each query sits next to its `Gate` entry and
  * DuckDB oracle.
  */
private[graft] trait PipelinesRound14 extends PipelinesBase {

  /** Streaming RESTART as a hash gate (r13 verdict ask #2 — the
    * checkpoint-recovery/exactly-once story was spec-only): a
    * watermarked 1-day tumbling-window aggregation over the events
    * fixture runs as TWO separate `start()` calls on ONE checkpoint,
    * with a `foreachBatch` parquet-append sink (the memory sink does
    * not recover from checkpoints — the StreamingFeaturesSpec restart
    * discipline, r13 ADVICE).
    *
    *   - Phase 1 sees only the even-`event_id` HALF of the corpus
    *     under a 40-day watermark delay (past the fixture's 30-day
    *     span), so NO window finalizes — every phase-1 event lives
    *     only as partial per-(window, user) state in the checkpoint
    *     when the query stops.
    *   - Phase 2 restarts from that checkpoint over the appended odd
    *     half plus a sentinel 11 months out; the sentinel pushes the
    *     recovered watermark past every real window's end + delay, so
    *     the closing batch emits every window exactly once.
    *
    * The hash is therefore UNREACHABLE without a real recovery: event
    * parity is independent of (user, window), so nearly every window
    * draws members from both halves — lost state undercounts phase-1
    * events, a replayed phase-1 offset double-counts them, and a
    * duplicated emission breaks the per-key `n_emissions ≡ 1` column
    * (exactly-once made visible, the q200 discipline). Values are
    * pre-quantized to integer-valued doubles (the q195/q201
    * floor(v·100 + 0.5) discipline) so sums are exact under any
    * arrival order; no phase-2 event can be late vs the recovered
    * watermark (max(phase-1 ts) − 40 days precedes the whole span).
    */
  def streamRestartAgg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = t(s, d, "events").select(
      col("event_id"), col("user_id"),
      col("ts").cast("timestamp").as("ts"),
      floor(col("value") * lit(100.0) + lit(0.5)).cast("double").as("vq"))
    // per-invocation temp dir (Files.createTempDirectory): the source
    // dir is APPENDED to between phases, and a path keyed only by the
    // dataset would let two concurrent processes (Bench and Verify on
    // the same sf) corrupt each other's in-flight checkpoint (r14 ADVICE)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q204_rst_").toString
    val srcDir = s"$dir/src"
    val outDir = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    val halfA = ev.filter(pmod(col("event_id"), lit(2)) === 0).drop("event_id")
    val halfB = ev.filter(pmod(col("event_id"), lit(2)) === 1).drop("event_id")
    halfA.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val srcSchema = halfA.schema
    def runPhase(): Unit = {
      val agg = s.readStream.schema(srcSchema).parquet(srcDir)
        .withWatermark("ts", "40 days")
        .groupBy(window(col("ts"), "1 day"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("vq")).as("sum_vq"))
        .select(col("user_id"),
          unix_micros(col("window.start")).as("window_start_us"),
          col("n_events"), col("sum_vq"))
      val query = PipelinesTextSim.withStreamStatePartitions(s) {
        agg.writeStream.outputMode("append")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      }
      query.awaitTermination()
    }
    runPhase() // phase 1: even half only; zero emissions, state only
    val sentinel = s.range(1).select(lit(-1L).as("user_id"),
      lit("2024-12-31 00:00:00").cast("timestamp").as("ts"),
      lit(0.0).as("vq"))
    halfB.unionByName(sentinel).coalesce(1).write.mode("append").parquet(srcDir)
    runPhase() // phase 2: restart from the checkpoint over the new files
    val out = ParquetFooters.read(s, outDir)
      .filter(col("user_id") >= 0) // the sentinel's window never finalizes; belt
      .groupBy(col("user_id"), col("window_start_us"))
      .agg(count(lit(1)).as("n_emissions"),
        min(col("n_events")).as("n_events"),
        min(col("sum_vq")).cast("long").as("sum_vq"))
      .orderBy("user_id", "window_start_us")
      .localCheckpoint(true)
    PipelinesRound12.deleteRecursively(java.nio.file.Paths.get(dir))
    out
  }

  /** The [[graft.plans.RangeJoinRewrite]] optimizer rule as a hash
    * gate (r13 verdict ask #3 — the repo's one custom Catalyst rule
    * was spec-only): NAIVE user SQL text — a pure range theta join
    * with no equi predicate, the shape Spark plans as an O(n·m)
    * BroadcastNestedLoopJoin — runs through the session's injected
    * extensions and must (a) plan the rewritten `_rj_bucket` equi
    * join with NO nested loop, enforced fail-fast on the physical
    * plan before execution, and (b) hash-match the DuckDB replay of
    * the same theta join. The user never names an operator: the
    * rewrite is what makes this query survive a 100 TB corpus, and
    * this gate is where that claim is driver-visible rather than
    * spec-only.
    *
    * The purchase slice (event_id % 97 = 0, ~1% of purchases) bounds
    * the OUTPUT (each interval spans 1 day of the 30-day click span);
    * the click side stays full-width, so the join's point side is
    * corpus-sized — the side the naive plan would re-scan per
    * interval.
    */
  def rangeRewriteSql(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    ev.filter(col("event_type") === "purchase" &&
        pmod(col("event_id"), lit(97)) === 0)
      .select(col("event_id").as("purchase_id"),
        col("ts").cast("timestamp").as("p_ts"))
      .createOrReplaceTempView("graft_q205_p")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("ts").cast("timestamp").as("c_ts"))
      .createOrReplaceTempView("graft_q205_c")
    val df = s.sql(
      """SELECT purchase_id, click_id,
        |  unix_micros(c_ts) - unix_micros(p_ts) AS dt_us
        |FROM graft_q205_p JOIN graft_q205_c
        |  ON c_ts >= p_ts AND c_ts < p_ts + INTERVAL 1 DAY
        |ORDER BY purchase_id, click_id""".stripMargin)
    // the plan audit IS part of the gate: matching rows through a
    // nested loop would be a silent scale regression
    val plan = df.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoopJoin"),
      "q205: the naive theta join still plans a BroadcastNestedLoopJoin — " +
        "RangeJoinRewrite did not fire (GraftExtensions missing on this session?)")
    require(plan.contains("_rj_bucket"),
      "q205: expected the rewritten _rj_bucket equi join in the physical plan")
    val out = df.localCheckpoint(true)
    s.catalog.dropTempView("graft_q205_p")
    s.catalog.dropTempView("graft_q205_c")
    out
  }

  /** Perceptual image near-dup pairs over REAL decode (the multimodal
    * × dedup crossover): per doc a deterministic 18×16 grayscale BMP
    * (lossless 24-bit — pixels round-trip exactly, unlike JPEG) is
    * encoded with md5-derived block intensities, then the full
    * [[graft.ext.ImageHash]] pipeline runs — ImageIO decode → 2×2
    * block sums → 64-bit dHash → 4×16-bit band-bucket join → Hamming
    * verify. Docs sharing `doc_id / 4` share block intensities up to a
    * per-doc uniform exposure shift (`doc_id % 4`, which dHash is
    * invariant to — the perceptual claim, under test) and one variant
    * with a +64 bump in block (0,0) (≤1 bit of drift — the tolerance
    * claim); different groups draw independent md5 intensities, so
    * cross-group candidates die at the Hamming check.
    *
    * The oracle replays the ENTIRE pipeline from the generator
    * arithmetic — block sums, gradient bits, band values, the banded
    * candidate semantics (a pair must share ≥1 exact band — the
    * documented ≥4-bit-distance miss mode is part of the contract,
    * not hidden), and band-wise bit_count Hamming. Any defect in the
    * BMP writer, the decoder, block summation, bit packing, band
    * extraction, or pair dedup breaks the hash.
    */
  def imageNearDup(s: SparkSession, d: String): DataFrame = {
    val media = imageMedia(t(s, d, "documents").select(col("doc_id")))
    val hashes = graft.ext.ImageHash.imageDHash(media)
    graft.ext.ImageHash.nearDupPairs(hashes, maxHamming = 8)
      .orderBy("id_a", "id_b")
  }

  /** The q206 BMP fixture generator on its own — (media_id, payload)
    * from a one-column id frame.
    */
  private def imageMedia(ids: DataFrame): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    ids.select(col(ids.columns.head).cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val gid = id / 4
          val variant = (id % 4).toInt
          val img = new java.awt.image.BufferedImage(18, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 9) {
              val h = Character.digit(org.apache.commons.codec.digest.DigestUtils
                .md5Hex(s"$gid:$bx:$by").charAt(0), 16)
              // ≤ 15·12 + 3 + 64 = 247: never clips, so the oracle's
              // unclamped arithmetic is exact
              val v = h * 12 + variant +
                (if (variant == 3 && bx == 0 && by == 0) 64 else 0)
              val rgb = v * 0x010101
              var dy = 0
              while (dy < 2) {
                var dx = 0
                while (dx < 2) {
                  img.setRGB(2 * bx + dx, 2 * by + dy, rgb); dx += 1
                }
                dy += 1
              }
              bx += 1
            }
            by += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "bmp", bos)
          (id, bos.toByteArray)
        }
      }.toDF("media_id", "payload")
  }

  /** Deterministic MESSY url for generator key `i` — every
    * canonicalization hazard in one string: mixed-case scheme and
    * host, `www.` and `cdn.` prefixes, default vs explicit ports,
    * trailing slashes, tracking params, unsorted query order,
    * fragments. Shared by q207 (keyed by doc_id) and q208 (keyed by
    * doc_id % 150 so documents collide on a page), the q176/q202
    * shared-generator discipline; both oracles restate the SAME
    * arithmetic.
    */
  private def messyUrl(i: Column): Column = {
    val scheme = element_at(array(lit("http"), lit("HTTP"),
      lit("https"), lit("HTTPS")), (pmod(i, lit(4)) + 1).cast("int"))
    val base = element_at(array(lit("example"), lit("News-Site"),
      lit("blog"), lit("data7"), lit("ARCHIVE")),
      (pmod(i / 4, lit(5)) + 1).cast("int"))
    val tld = element_at(array(lit("com"), lit("org"), lit("co.uk")),
      (pmod(i, lit(3)) + 1).cast("int"))
    val www = when(pmod(i, lit(2)) === 0, lit("www.")).otherwise(lit(""))
    val sub = when(pmod(i, lit(13)) === 0, lit("cdn.")).otherwise(lit(""))
    val port = when(pmod(i, lit(7)) === 0,
        when(pmod(i, lit(4)) < 2, lit(":80")).otherwise(lit(":443")))
      .when(pmod(i, lit(11)) === 0, lit(":8080"))
      .otherwise(lit(""))
    val path = when(pmod(i, lit(5)) === 0, lit("")).otherwise(
      concat(lit("/items/"), pmod(i, lit(50)).cast("string"),
        when(pmod(i, lit(6)) === 0, lit("/")).otherwise(lit(""))))
    val trackers = pmod(i, lit(8)) >= 4
    val params = filter(array(
      when(trackers, lit("gclid=z")).otherwise(lit("")),
      when(trackers, lit("utm_source=x")).otherwise(lit("")),
      when(pmod(i, lit(4)) >= 2, lit("b=2")).otherwise(lit("")),
      when(pmod(i, lit(2)) === 1, lit("a=1")).otherwise(lit(""))),
      p => p =!= "")
    val query = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    val frag = when(pmod(i, lit(9)) === 0, lit("#sec-2")).otherwise(lit(""))
    concat(scheme, lit("://"), www, sub, base, lit("."), tld,
      port, path, query, frag)
  }

  /** URL canonicalization as a hash gate: per document a messy url is
    * synthesized ([[messyUrl]]) and [[graft.ext.Urls.canonicalizeUrl]]
    * must normalize it — the oracle constructs the EXPECTED canonical
    * string directly from the generator arithmetic (an independent
    * derivation, not a replay of the parsing), so any defect in the
    * fragment/query/host/port/path handling or the param sort breaks
    * the per-row hash. `registered_domain` exercises the public-suffix
    * heuristic on both branches (`.co.uk` keeps three labels, `cdn.`
    * subdomains drop to two).
    */
  def urlCanonicalize(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"))
    docs.select(col("doc_id"), messyUrl(col("doc_id")).as("url"))
      .select(col("doc_id"),
        graft.ext.Urls.canonicalizeUrl(col("url")).as("canonical_url"))
      .withColumn("registered_domain", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("canonical_url"))))
      .orderBy("doc_id")
  }

  /** Per-domain cap as the crawl-curation composition: messy urls
    * keyed by `doc_id % 150` (so ~3–4 documents fetch each page under
    * different messy spellings — here identical spellings per gid,
    * the collision is the point) → canonicalize → URL-level dedup
    * keeping the best fetch (max `n_chars`, ties to min doc_id) →
    * [[graft.ext.Urls.capPerDomain]] keeps the 4 best pages per
    * registered domain by `n_chars`. The oracle restates generator
    * arithmetic + both window ranks; a dedup that keys on the RAW url
    * (missing collisions) or a cap ranking that breaks ties
    * nondeterministically changes rows.
    */
  def domainCap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      .withColumn("url", messyUrl(pmod(col("doc_id"), lit(150))))
      .withColumn("canonical_url", graft.ext.Urls.canonicalizeUrl(col("url")))
    val wUrl = Window.partitionBy(col("canonical_url"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val deduped = docs.withColumn("_rn", row_number().over(wUrl))
      .filter(col("_rn") === 1).drop("_rn", "url")
      .withColumn("registered_domain", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("canonical_url"))))
    graft.ext.Urls.capPerDomain(deduped, "registered_domain",
        "n_chars", "doc_id", cap = 4)
      .select(col("registered_domain"), col("domain_rank"),
        col("doc_id"), col("canonical_url"), col("n_chars"))
      .orderBy("registered_domain", "domain_rank")
  }

  /** Deterministic tag-soup HTML for generator key `i` — every
    * extraction hazard the q210/q211 gates need: entities in title
    * and body (`&amp;` that must decode LAST, `&lt;raw&gt;` that must
    * survive tag stripping), a script body with a raw `<` that would
    * corrupt the text if scripts were tag-stripped instead of
    * dropped, a style body with braces, attributes on tags, and 0–2
    * anchor links with messy hrefs (the [[messyUrl]] hazards: case,
    * www, default port, trailing slash, tracking param). Shared by
    * q210 and q211; both oracles restate the SAME arithmetic.
    */
  private[graft] def docHtml(i: Column): Column = {
    val script = when(pmod(i, lit(4)) === 0,
      lit("<script type=\"text/javascript\">var a = 1 < 2; " +
        "document.write(\"junk\");</script>")).otherwise(lit(""))
    val style = when(pmod(i, lit(5)) === 0,
      lit("<style>.big { color: #fff; }</style>")).otherwise(lit(""))
    // host index (i/3 + 4j) % 9 is deliberately DECORRELATED from the
    // link-count key i % 3: with (i+j) % 9 the residues k mod 3 and j
    // lock together and the second link never reaches the domains
    // whose robots rules test longest-match — found by auditing the
    // q212 branch distribution
    def link(j: Int): Column = when(pmod(i, lit(3)) > j, concat(
      lit("<a href=\"HTTP://WWW.Site"),
      pmod(floor(i / 3) + lit(4 * j), lit(9)).cast("string"),
      lit(".COM:80/p/" + j + "/?utm_source=z&x="), pmod(i, lit(4)).cast("string"),
      lit("\">link " + j + "</a>"))).otherwise(lit(""))
    concat(
      lit("<html><head><title>Doc "), i.cast("string"),
      lit(" &amp; notes</title>"), script, lit("</head><body>"),
      lit("<h1 class=\"big\">Heading "), pmod(i, lit(7)).cast("string"),
      lit("</h1><p>Text "),
      substring(md5(concat(i.cast("string"), lit(":body")).cast("binary")),
        1, 1),
      lit(" &lt;raw&gt; and <b>bold "), pmod(i, lit(5)).cast("string"),
      lit("</b> tail.</p>"), link(0), link(1), style, lit("</body></html>"))
  }

  /** HTML text extraction as a hash gate ([[graft.ext.Html]]): the
    * generated tag soup must reduce to exactly the visible text — the
    * oracle constructs the EXPECTED title/text/link-count straight
    * from the generator arithmetic (never touching a regex), so a
    * script body leaking into text, an entity decoded before tag
    * stripping (`&lt;raw&gt;` would vanish), `&amp;` decoded first
    * (double-decode), broken whitespace collapse, or a missed href
    * all break the per-row hash.
    */
  def htmlExtract(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents").select(col("doc_id"),
        docHtml(col("doc_id")).as("html"))
      .select(col("doc_id"),
        graft.ext.Html.extractTitle(col("html")).as("title"),
        graft.ext.Html.extractText(col("html")).as("text"),
        size(graft.ext.Html.extractLinks(col("html"))).as("n_links"))
      .orderBy("doc_id")
  }

  /** Link-graph aggregation — the crawl composition q207/q210 exist
    * for: harvested hrefs ([[graft.ext.Html.extractLinks]]) are
    * canonicalized ([[graft.ext.Urls.canonicalizeUrl]]) and rolled up
    * to per-registered-domain in-degree, distinct linking documents,
    * and distinct target pages. Scale: explode is a narrow per-row
    * expansion (≤2 links/doc here; real pages fan out more but stay
    * row-local), and the single shuffle is the domain groupBy with
    * map-side partial aggregation.
    */
  def linkGraph(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents").select(col("doc_id"),
        docHtml(col("doc_id")).as("html"))
      .select(col("doc_id"),
        explode(graft.ext.Html.extractLinks(col("html"))).as("href"))
      .withColumn("curl", graft.ext.Urls.canonicalizeUrl(col("href")))
      .withColumn("registered_domain", graft.ext.Urls.registeredDomain(
        graft.ext.Urls.hostOf(col("curl"))))
      .groupBy("registered_domain")
      .agg(count(lit(1)).as("in_degree"),
        countDistinct(col("doc_id")).as("n_sources"),
        countDistinct(col("curl")).as("n_urls"))
      .orderBy("registered_domain")
  }

  /** Robots-rule filtering over the harvested link frontier — the
    * crawl step between q211's link graph and any fetch: the shared
    * generator's canonical urls run through
    * [[graft.ext.Urls.applyRobotsRules]] under a rule set exercising
    * every decision branch — longest-match override (site1 disallows
    * `/p/` but allows the longer `/p/1`), whole-site disallow
    * (site2 `/`), single-page disallow with a non-matching sibling
    * (site4 `/p/0`), an equal-length allow/disallow tie that must
    * resolve toward allow (site5 `/p` twice), a rule that never
    * matches (site7 `/q`), and rule-less domains. The oracle states
    * the expected decision and matched prefix length per (domain,
    * path ordinal) directly.
    */
  def robotsFilter(s: SparkSession, d: String): DataFrame = {
    val links = t(s, d, "documents").select(col("doc_id"),
        docHtml(col("doc_id")).as("html"))
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
      ("site7.com", "/q", false))
    // maxLiteralDomains = 64 pins the LITERAL gear (this gate is its
    // plan pin; the production default is the join gear — see the r15
    // measured finding in applyRobotsRules' Scaladoc)
    graft.ext.Urls.applyRobotsRules(links, rules, "dom", "path",
        maxLiteralDomains = 64)
      .select(col("doc_id"), col("curl"), col("allowed"), col("matched_len"))
      .orderBy("doc_id", "curl")
  }

  /** WARC ingest as a hash gate ([[graft.ext.Warc]]): per doc a
    * binary WARC blob of 1–3 records is synthesized and the
    * length-driven parser must recover every header field and the
    * exact payload. The j=1 record's payload EMBEDS a fake
    * `WARC/1.0` header block (`\r\n`-framed) — a magic-scanning
    * parser would split there and desynchronize every later record,
    * so the Content-Length framing is what the hash certifies. The
    * oracle restates fields and payloads from the generator
    * arithmetic (chr(13)||chr(10) for the embedded CRLFs).
    */
  def warcIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, d, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { i =>
          val sb = new StringBuilder
          val n = (i % 3).toInt + 1
          for (j <- 0 until n) {
            val payload =
              if (j == 1) s"A\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nB $i"
              else "payload " + i + ":" + j + " " + "x" * ((i + j) % 7).toInt
            val host = (i / 3 + 4 * j) % 9
            sb.append("WARC/1.0\r\n")
              .append(if (j % 2 == 0) "WARC-Type: response\r\n"
                      else "WARC-Type: request\r\n")
              .append(s"WARC-Target-URI: http://site$host.com/p/$j\r\n")
              .append(s"WARC-Record-ID: <urn:uuid:$i-$j>\r\n")
              .append(s"Content-Length: ${payload.length}\r\n\r\n")
              .append(payload).append("\r\n\r\n")
          }
          (i, sb.toString.getBytes("US-ASCII"))
        }
      }.toDF("doc_id", "blob")
    graft.ext.Warc.parseWarcColumn(blobs, "doc_id", "blob")
      .select(col("doc_id"), col("rec_idx"), col("warc_type"),
        col("target_uri"), col("content_length"),
        col("payload").cast("string").as("payload_text"))
      .orderBy("doc_id", "rec_idx")
  }

  /** k-anonymity release of the customer table
    * ([[graft.ext.Privacy.kAnonymize]]): quasi-identifiers are
    * (nation, segment, balance band) with the ladder (nation,
    * segment, band) → (nation, segment) → (segment) → * — and the
    * ITERATIVE semantics under test: a coarser class releases only if
    * its STILL-UNRELEASED member count clears k, which the oracle
    * states as staged window counts over the remainder of each stage.
    * The band is deliberately skewed — `least(floor(acctbal/2000), 2)`
    * puts ~60% of customers in the top band — so level-0 releases
    * carve many (nation, segment) remainders below k: at sf0.01,
    * 138 rows land at level 2 that a NAIVE whole-class level-1 count
    * would (wrongly) release at level 1, so the honesty of the
    * remainder counting is hash-visible, not just spec-pinned.
    * (Full suppression needs a segment remainder < k, which 1500
    * customers over 5 segments never produce — PrivacySpec pins
    * level 3 on a crafted fixture instead.)
    */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val cust = t(s, d, "customer").select(col("c_custkey"),
      col("c_nationkey"), col("c_mktsegment"),
      least(floor(col("c_acctbal") / 2000.0), lit(2L)).as("bal_band"))
    graft.ext.Privacy.kAnonymize(cust,
        ladder = Seq(Seq("c_nationkey", "c_mktsegment", "bal_band"),
          Seq("c_nationkey", "c_mktsegment"), Seq("c_mktsegment")),
        k = 5)
      .select(col("c_custkey"), col("anon_level"),
        col("rel_c_nationkey").as("rel_nation"),
        col("rel_c_mktsegment").as("rel_segment"),
        col("rel_bal_band").as("rel_band"))
      .orderBy("c_custkey")
  }

  override def gates: Seq[Gate] = super.gates ++ Seq(

    // batch replay of the restarted stream: 1-day tumbling windows are
    // epoch-aligned under the pinned UTC session, values quantized per
    // event BEFORE summing (exact integer arithmetic both engines);
    // n_emissions = 1 is the exactly-once column
    Gate("q204_stream_restart", Family.Streaming, streamRestartAgg, _ =>
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100.0e0 + 0.5e0) AS BIGINT) AS vq FROM events)
        |SELECT user_id, us - us % 86400000000 AS window_start_us,
        |  CAST(1 AS BIGINT) AS n_emissions,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(vq) AS BIGINT) AS sum_vq
        |FROM e GROUP BY 1, 2
        |ORDER BY user_id, window_start_us""".stripMargin),

    // the same naive theta join, replayed as batch SQL: DuckDB plans
    // its own IEJoin — the point is identical PAIRS, exact integer
    // micros difference
    Gate("q205_range_rewrite_sql", Family.Sql, rangeRewriteSql, _ =>
      """WITH p AS (SELECT event_id AS purchase_id, ts AS p_ts FROM events
        |           WHERE event_type = 'purchase' AND event_id % 97 = 0),
        |c AS (SELECT event_id AS click_id, ts AS c_ts FROM events
        |      WHERE event_type = 'click')
        |SELECT purchase_id, click_id,
        |  epoch_us(c_ts) - epoch_us(p_ts) AS dt_us
        |FROM p JOIN c ON c_ts >= p_ts AND c_ts < p_ts + INTERVAL 1 DAY
        |ORDER BY purchase_id, click_id""".stripMargin),

    // full arithmetic replay of the dHash pipeline: block sums from the
    // generator formula (md5 nibble via the strpos idiom), horizontal
    // gradient bits, 16-bit band values (idx%16 shifts keep every
    // intermediate non-negative — no sign-bit traps), the BANDED
    // candidate join (≥1 exact shared band, the operator's documented
    // semantics), and band-wise bit_count Hamming ≤ 8
    Gate("q206_image_phash_neardup", Family.Dedup, imageNearDup, _ =>
      """WITH grid AS (SELECT bx, by FROM range(9) t1(bx), range(8) t2(by)),
        |docs AS (SELECT doc_id, doc_id // 4 AS gid, doc_id % 4 AS v FROM documents),
        |gids AS (SELECT DISTINCT gid FROM docs),
        |h AS (SELECT gid, bx, by,
        |    strpos('0123456789abcdef',
        |      substr(md5(CAST(gid AS VARCHAR) || ':' || bx || ':' || by), 1, 1)) - 1 AS hv
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

    // INDEPENDENT derivation of the canonical form from the messyUrl
    // generator arithmetic — the oracle never parses a url, it states
    // what canonicalization must produce (already-lowercased host, www
    // stripped, default ports dropped, trailing slash cut, tracking
    // params removed, survivors sorted)
    Gate("q207_url_canonicalize", Family.Crawl, urlCanonicalize, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents),
        |c AS (SELECT i,
        |    CASE WHEN i % 4 < 2 THEN 'http' ELSE 'https' END AS scheme,
        |    CASE WHEN i % 13 = 0 THEN 'cdn.' ELSE '' END
        |      || ['example','news-site','blog','data7','archive'][CAST((i // 4) % 5 AS INTEGER) + 1]
        |      || '.' || ['com','org','co.uk'][CAST(i % 3 AS INTEGER) + 1] AS host,
        |    CASE WHEN i % 7 <> 0 AND i % 11 = 0 THEN ':8080' ELSE '' END AS port,
        |    CASE WHEN i % 5 = 0 THEN '' ELSE '/items/' || CAST(i % 50 AS VARCHAR) END AS path,
        |    CASE CAST(i % 4 AS INTEGER) WHEN 0 THEN '' WHEN 1 THEN '?a=1'
        |      WHEN 2 THEN '?b=2' ELSE '?a=1&b=2' END AS q,
        |    ['example','news-site','blog','data7','archive'][CAST((i // 4) % 5 AS INTEGER) + 1]
        |      || '.' || ['com','org','co.uk'][CAST(i % 3 AS INTEGER) + 1] AS registered_domain
        |  FROM d)
        |SELECT i AS doc_id,
        |  scheme || '://' || host || port || path || q AS canonical_url,
        |  registered_domain
        |FROM c ORDER BY doc_id""".stripMargin),

    // same generator keyed by doc_id % 150, then the curation windows:
    // best fetch per canonical url (n_chars desc, doc_id), then the 4
    // best pages per registered domain
    Gate("q208_domain_cap", Family.Crawl, domainCap, _ =>
      """WITH docs AS (SELECT doc_id, n_chars, doc_id % 150 AS g FROM documents),
        |b AS (SELECT doc_id, n_chars, g,
        |    ['example','news-site','blog','data7','archive'][CAST((g // 4) % 5 AS INTEGER) + 1] AS base,
        |    ['com','org','co.uk'][CAST(g % 3 AS INTEGER) + 1] AS tld FROM docs),
        |c AS (SELECT doc_id, n_chars,
        |    (CASE WHEN g % 4 < 2 THEN 'http' ELSE 'https' END) || '://'
        |      || (CASE WHEN g % 13 = 0 THEN 'cdn.' ELSE '' END) || base || '.' || tld
        |      || (CASE WHEN g % 7 <> 0 AND g % 11 = 0 THEN ':8080' ELSE '' END)
        |      || (CASE WHEN g % 5 = 0 THEN '' ELSE '/items/' || CAST(g % 50 AS VARCHAR) END)
        |      || (CASE CAST(g % 4 AS INTEGER) WHEN 0 THEN '' WHEN 1 THEN '?a=1'
        |          WHEN 2 THEN '?b=2' ELSE '?a=1&b=2' END) AS canonical_url,
        |    base || '.' || tld AS registered_domain
        |  FROM b),
        |dd AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
        |    ORDER BY n_chars DESC, doc_id) AS rn FROM c),
        |kept AS (SELECT doc_id, n_chars, canonical_url, registered_domain
        |  FROM dd WHERE rn = 1),
        |capped AS (SELECT *, row_number() OVER (PARTITION BY registered_domain
        |    ORDER BY n_chars DESC, doc_id) AS dr FROM kept)
        |SELECT registered_domain, CAST(dr AS INTEGER) AS domain_rank,
        |  doc_id, canonical_url, n_chars
        |FROM capped WHERE dr <= 4
        |ORDER BY registered_domain, domain_rank""".stripMargin),

    // the ITERATIVE ladder: each coarser level counts only the
    // remainder of the previous one (records already released at a
    // finer level do not hide anyone)
    Gate("q209_k_anonymity", Family.Sql, kAnonymity, _ =>
      """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |    least(CAST(floor(c_acctbal / 2000) AS BIGINT), 2) AS bal_band FROM customer),
        |l0 AS (SELECT *, count(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
        |    bal_band) AS n0 FROM c),
        |rem0 AS (SELECT * FROM l0 WHERE n0 < 5),
        |l1 AS (SELECT *, count(*) OVER (PARTITION BY c_nationkey,
        |    c_mktsegment) AS n1 FROM rem0),
        |rem1 AS (SELECT * FROM l1 WHERE n1 < 5),
        |l2 AS (SELECT *, count(*) OVER (PARTITION BY c_mktsegment) AS n2 FROM rem1)
        |SELECT c_custkey, 0 AS anon_level,
        |    CAST(c_nationkey AS VARCHAR) AS rel_nation,
        |    c_mktsegment AS rel_segment, CAST(bal_band AS VARCHAR) AS rel_band
        |  FROM l0 WHERE n0 >= 5
        |UNION ALL
        |SELECT c_custkey, 1, CAST(c_nationkey AS VARCHAR), c_mktsegment, '*'
        |  FROM l1 WHERE n1 >= 5
        |UNION ALL
        |SELECT c_custkey, 2, '*', c_mktsegment, '*' FROM l2 WHERE n2 >= 5
        |UNION ALL
        |SELECT c_custkey, 3, '*', '*', '*' FROM l2 WHERE n2 < 5
        |ORDER BY c_custkey""".stripMargin),

    // EXPECTED visible text constructed straight from the docHtml
    // generator arithmetic — no regex on the oracle side; every
    // extraction-order hazard (script drop before tag strip, entities
    // after tag strip, &amp; last, whitespace collapse) is hash-visible
    Gate("q210_html_extract", Family.Crawl, htmlExtract, _ =>
      """WITH d AS (SELECT doc_id AS i FROM documents)
        |SELECT i AS doc_id,
        |  'Doc ' || i || ' & notes' AS title,
        |  'Doc ' || i || ' & notes Heading ' || (i % 7) || ' Text '
        |    || substr(md5(i || ':body'), 1, 1)
        |    || ' <raw> and bold ' || (i % 5) || ' tail.'
        |    || CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN ''
        |       WHEN 1 THEN ' link 0' ELSE ' link 0 link 1' END AS text,
        |  CAST(i % 3 AS INTEGER) AS n_links
        |FROM d ORDER BY doc_id""".stripMargin),

    // per-(doc, link ordinal) rows from the generator, canonical urls
    // restated directly (www/port/slash/tracking normalization already
    // applied), then the domain rollup
    Gate("q211_link_graph", Family.Graph, linkGraph, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 AS nl FROM documents),
        |l AS (SELECT i, j FROM d,
        |    (SELECT unnest(generate_series(0, 1)) AS j) s WHERE j < nl),
        |u AS (SELECT i,
        |    'http://site' || ((i // 3 + 4 * j) % 9) || '.com/p/' || j
        |      || '?x=' || (i % 4) AS curl,
        |    'site' || ((i // 3 + 4 * j) % 9) || '.com' AS dom FROM l)
        |SELECT dom AS registered_domain, count(*) AS in_degree,
        |  count(DISTINCT i) AS n_sources, count(DISTINCT curl) AS n_urls
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),

    // expected robots decision per (domain k, path ordinal j) stated
    // directly from the rule set: longest match wins, equal-length tie
    // → allow, no match / no rules → allowed with matched_len 0
    Gate("q212_robots_filter", Family.Crawl, robotsFilter, _ =>
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

    // expected WARC fields and payloads stated from the generator;
    // the j=1 payload embeds a fake header block (chr(13)||chr(10)
    // CRLFs) that only length-driven framing survives
    Gate("q213_warc_ingest", Family.Crawl, warcIngest, _ =>
      """WITH d AS (SELECT doc_id AS i, doc_id % 3 + 1 AS n FROM documents),
        |l AS (SELECT i, j FROM d,
        |    (SELECT unnest(generate_series(0, 2)) AS j) s WHERE j < n),
        |p AS (SELECT i, j,
        |    CASE WHEN j = 1 THEN 'A' || chr(13) || chr(10) || 'WARC/1.0'
        |        || chr(13) || chr(10) || 'WARC-Type: fake' || chr(13) || chr(10)
        |        || chr(13) || chr(10) || 'B ' || i
        |      ELSE 'payload ' || i || ':' || j || ' '
        |        || repeat('x', CAST((i + j) % 7 AS INTEGER)) END AS payload
        |  FROM l)
        |SELECT i AS doc_id, CAST(j AS INTEGER) AS rec_idx,
        |  CASE WHEN j % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
        |  'http://site' || ((i // 3 + 4 * j) % 9) || '.com/p/' || j AS target_uri,
        |  CAST(length(payload) AS BIGINT) AS content_length,
        |  payload AS payload_text
        |FROM p ORDER BY doc_id, rec_idx""".stripMargin)
  )
}
