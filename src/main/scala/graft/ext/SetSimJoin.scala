package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [extension] EXACT set-similarity self-join with prefix filtering —
  * the AllPairs/PPJoin candidate discipline (Chaudhuri et al. ICDE
  * 2006; Bayardo et al. WWW 2007) re-expressed as Spark equi joins.
  * Complements the MinHash tier (`Dedup.minhashPairs`): LSH banding is
  * probabilistic (recall budgeted, never 1.0), while this join returns
  * EXACTLY the pairs with token-set Jaccard ≥ t — the path a
  * contamination audit or a legal-grade dedup takes, where a missed
  * pair is a defect rather than a statistic.
  *
  * Why it scales without LSH's recall loss: a pair with Jaccard ≥ t
  * must share a token among each side's `|s| − ⌈t·|s|⌉ + 1` RAREST
  * tokens (rarity = global doc-frequency). Candidates therefore come
  * from an equi join on prefix tokens only — and prefix tokens are
  * rare BY CONSTRUCTION, so bucket sizes stay small exactly where a
  * naive token join explodes (stopwords never key a candidate unless
  * a document consists almost entirely of stopwords). Verification
  * then computes exact Jaccard on candidates only.
  */
object SetSimJoin {

  /** Width for the PINNED mid-pipeline exchanges below (r18): AQE's
    * parallelism-first coalescing floors post-shuffle partitions at
    * `minPartitionSize` (1 MB), so the token-stream window and the
    * candidate join of a small corpus collapsed to ONE task each —
    * q189 profiled two 2.5–2.9 s single-task stages carrying all the
    * explode/join/verify compute. A `repartition(n, key)` on the key
    * the downstream operator already requires REPLACES the implicit
    * exchange (same distribution, no extra shuffle) and is
    * AQE-coalesce-exempt (REPARTITION_BY_NUM), pinning the stage
    * width. Quarter of the configured shuffle width, floored at 4:
    * enough fan-out for the CPU-dense per-row work, few enough tasks
    * that per-task fixed costs stay small; scales with the session
    * conf rather than any local constant.
    */
  private def pinnedWidth(df: DataFrame): Int =
    math.max(4, df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt / 4)

  /** Distinct lowercase whitespace tokens (the corpus-wide token-set
    * view of a document; empty/NULL text → empty set).
    */
  def tokenSet(text: Column): Column =
    array_distinct(TextAnalysis.tokens(lower(text)))

  /** The shared eager token-set frame (_id, _toks, _sz): cached and
    * materialized at call time because the df agg, the prefix build,
    * and the verification joins all read it — a lazy cache lets their
    * scans race, each re-tokenizing the corpus before blocks land
    * (the ngramJaccardPairs lesson).
    */
  private def tokenFrame(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    // balanced BEFORE tokenizing (r18 optimization): a single-file
    // corpus caches as ONE partition here, and since every downstream
    // stage reads this cache, the tokenize pass AND the explode/join
    // stages over it all ran on one core (q189 profiled 2.5-2.9 s per
    // serial stage at sf0.1). The fan-out is the cache's partitioning,
    // so it pays once and every consumer inherits it.
    val toks = Dedup.balanced(docs)
      .select(col(idCol).as("_id"), tokenSet(col(textCol)).as("_toks"))
      .filter(col("_toks").isNotNull && size(col("_toks")) > 0)
      .withColumn("_sz", size(col("_toks")))
      .cache()
    toks.count()
    toks
  }

  /** All pairs (id_a < id_b) with token-set Jaccard ≥ `minJaccard`,
    * with the similarity attached as `jacc_q` (floor(j·1e9 + 0.5),
    * exact-integer compare cross-engine; the division itself is one
    * correctly-rounded IEEE op over exact integers, §5.3-portable).
    * Documents with empty token sets are excluded (Jaccard undefined).
    *
    * Stages, all equi joins — no O(n²) operator at any scale:
    *   1. token doc-frequencies: one explode + hash agg
    *      (vocabulary-sized output);
    *   2. per-doc PREFIX under the global (df, token) rarity order:
    *      a window over the doc id — groups are single documents, so
    *      the per-group sort is bounded by document length;
    *   3. candidates: prefix ⋈ prefix on the token, id_a < id_b, with
    *      the Jaccard size band (t·|a| ≤ |b| ≤ |a|/t) pushed into the
    *      join filter; distinct on the bare id pair — token sets never
    *      ride the candidate shuffle;
    *   4. verification: re-attach both token sets by id and keep
    *      exact Jaccard ≥ t.
    *
    * The two floating-point prefix/band computations carry a −1e-9
    * slack so a product landing an ulp ABOVE the true rational can
    * only lengthen a prefix or widen the band — never drop a
    * qualifying pair. Over-admission costs a few extra verified
    * candidates; under-admission would cost recall. Slack domain
    * (r12 audit): under-admission would need the double error of
    * t·|s| to exceed the slack, i.e. half-ulp(t·|s|) > 1e-9, which
    * first happens at |s| ≥ 2²³ ≈ 8.4M DISTINCT tokens in one
    * document (≈ 50 MB of unique words) — far past any real
    * document; at every feasible size the bound is strict at ANY
    * threshold in (0, 1], including band edges where t·|s| is an
    * exact integer (ceil(k − 1e-9) = k).
    *
    * EAGER semantics (the rrfFuse contract discipline): this call
    * materializes the token-set cache and the checkpointed prefix
    * frame at CALL time — callers pay the tokenize + prefix cost even
    * if they never consume the result. Ids are assumed unique per
    * document (the corpus contract every dedup operator here shares);
    * duplicate ids would interleave two documents' tokens inside one
    * prefix window.
    */
  def jaccardJoinExact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"jaccardJoinExact: minJaccard must be in (0,1], got $minJaccard")
    val toks = tokenFrame(docs, textCol, idCol)
    val tokenDf = toks.select(explode(col("_toks")).as("_token"))
      .groupBy(col("_token")).agg(count(lit(1)).as("_tdf"))
    // prefix length |s| − ⌈t·|s|⌉ + 1 under the global (df, token)
    // total order; row_number groups are single docs (bounded size),
    // so the variable per-doc limit costs nothing at scale
    val w = Window.partitionBy(col("_id")).orderBy(col("_tdf"), col("_token"))
    val prefixes = toks
      .select(col("_id"), col("_sz"), explode(col("_toks")).as("_token"))
      .join(tokenDf, Seq("_token"))
      // pinned width on the window's own key — replaces the implicit
      // exchange, see pinnedWidth
      .repartition(pinnedWidth(toks), col("_id"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <=
        col("_sz") - ceil(lit(minJaccard) * col("_sz") - lit(1e-9)) + 1)
      .select(col("_token"), col("_id"), col("_sz"))
      // both sides of the candidate self-join consume this frame — an
      // uncut lineage re-runs the df join + window once PER SIDE (the
      // triangleCounts/delta-CC lesson); the checkpointed frame is the
      // narrow (token, id, sz) prefix stream, ~(1−t) of the token
      // volume. EAGER deliberately (r19 re-measured): the
      // verification joins consume this via concurrent subtree builds
      // that would race a lazy mark into double-computing the window.
      .localCheckpoint(true)
    // pinned width on the join key for the candidate self-join and on
    // the pair ids for the verification joins (see pinnedWidth): both
    // sides of each equi join inherit the pinned distribution, so no
    // exchange is added — only un-coalesced
    val pc = prefixes.repartition(pinnedWidth(toks), col("_token"))
    val cands = pc
      .select(col("_token"), col("_id").as("id_a"), col("_sz").as("_sza"))
      .join(pc.select(col("_token"), col("_id").as("id_b"),
        col("_sz").as("_szb")), Seq("_token"))
      .filter(col("id_a") < col("id_b") &&
        col("_szb").cast("double") >= lit(minJaccard) * col("_sza") - lit(1e-9) &&
        col("_sza").cast("double") >= lit(minJaccard) * col("_szb") - lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()
    val inter = size(array_intersect(col("_ta"), col("_tb")))
    val jacc = inter.cast("double") / (col("_na") + col("_nb") - inter)
    cands
      .repartition(pinnedWidth(toks), col("id_a"))
      .join(toks.select(col("_id").as("id_a"), col("_toks").as("_ta"),
        col("_sz").as("_na")), Seq("id_a"))
      .repartition(pinnedWidth(toks), col("id_b"))
      .join(toks.select(col("_id").as("id_b"), col("_toks").as("_tb"),
        col("_sz").as("_nb")), Seq("id_b"))
      .filter(jacc >= minJaccard)
      .select(col("id_a"), col("id_b"),
        floor(jacc * lit(1e9) + lit(0.5)).cast("long").as("jacc_q"))
  }

  /** All DIRECTED pairs (id_a ≠ id_b) with token-set containment
    * C(a→b) = |A∩B| / |A| ≥ `minContainment`, attached as `cont_q`
    * (floor(c·1e9 + 0.5) — one correctly-rounded IEEE division over
    * exact integers, §5.3-portable). The asymmetric sibling of
    * [[jaccardJoinExact]]: Jaccard misses a short quote inside a long
    * document (the union term swamps it), containment is EXACTLY the
    * quote-detection / subset-document relation a provenance or
    * license audit needs. Mutual containment yields both directions;
    * empty token sets are excluded (containment undefined).
    *
    * Prefix filter, asymmetric form: if C(a→b) ≥ t then B holds at
    * least ⌈t·|A|⌉ of A's tokens, so B misses at most |A| − ⌈t·|A|⌉ of
    * them — B must share a token with A's first |A| − ⌈t·|A|⌉ + 1
    * RAREST (global df order). Candidates are therefore A-prefix ⋈
    * B-ALL-TOKENS on the token: only the CONTAINED side gets a prefix
    * (containment puts no upper bound on |B|, so B has no prefix
    * shrink), and the join stays bounded because every key is an
    * A-prefix token — rare by construction, bucket size df(token)
    * (the contaminationHits shape: the B token stream shuffles once,
    * the same volume the df aggregate already moved; stopwords never
    * key a candidate). The |B| ≥ ⌈t·|A|⌉ size bound pushes into the
    * join filter; verification computes exact containment on
    * candidates only. Same −1e-9 slack discipline and domain as
    * [[jaccardJoinExact]] (sound below 2²³ distinct tokens/doc).
    */
  def containmentJoinExact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minContainment: Double = 0.8): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"containmentJoinExact: minContainment must be in (0,1], got $minContainment")
    val toks = tokenFrame(docs, textCol, idCol)
    val tokenDf = toks.select(explode(col("_toks")).as("_token"))
      .groupBy(col("_token")).agg(count(lit(1)).as("_tdf"))
    val w = Window.partitionBy(col("_id")).orderBy(col("_tdf"), col("_token"))
    // pinned widths (see pinnedWidth): window keyed by _id, candidate
    // join keyed by _token, verification joins by the pair ids — each
    // repartition replaces the implicit exchange the next operator
    // would have inserted, un-coalesced
    val prefixes = toks
      .select(col("_id"), col("_sz"), explode(col("_toks")).as("_token"))
      .join(tokenDf, Seq("_token"))
      .repartition(pinnedWidth(toks), col("_id"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <=
        col("_sz") - ceil(lit(minContainment) * col("_sz") - lit(1e-9)) + 1)
      .select(col("_token"), col("_id"), col("_sz"))
    val allToks = toks.select(explode(col("_toks")).as("_token"),
      col("_id").as("id_b"), col("_sz").as("_szb"))
      .repartition(pinnedWidth(toks), col("_token"))
    val cands = prefixes
      .select(col("_token"), col("_id").as("id_a"), col("_sz").as("_sza"))
      .repartition(pinnedWidth(toks), col("_token"))
      .join(allToks, Seq("_token"))
      .filter(col("id_a") =!= col("id_b") &&
        col("_szb").cast("double") >=
          lit(minContainment) * col("_sza") - lit(1e-9))
      .select(col("id_a"), col("id_b")).distinct()
    val inter = size(array_intersect(col("_ta"), col("_tb")))
    val cont = inter.cast("double") / col("_na")
    cands
      .repartition(pinnedWidth(toks), col("id_a"))
      .join(toks.select(col("_id").as("id_a"), col("_toks").as("_ta"),
        col("_sz").as("_na")), Seq("id_a"))
      .repartition(pinnedWidth(toks), col("id_b"))
      .join(toks.select(col("_id").as("id_b"), col("_toks").as("_tb")),
        Seq("id_b"))
      .filter(cont >= minContainment)
      .select(col("id_a"), col("id_b"),
        floor(cont * lit(1e9) + lit(0.5)).cast("long").as("cont_q"))
  }
}
