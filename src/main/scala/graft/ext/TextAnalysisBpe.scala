package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [extension] BPE tokenizer training and application — the
  * subword-vocabulary tier of [[TextAnalysis]] (split out per the
  * one-file-per-theme discipline; all entry points remain
  * `TextAnalysis.<name>`).
  */
private[ext] trait TextAnalysisBpe {

  /** Tokenizer hook — implemented by the [[TextAnalysis]] core. */
  def tokens(text: Column): Column

  /** Top adjacent-character-pair counts over the corpus vocabulary —
    * the inner statistic of a BPE training step (Sennrich et al. 2016):
    * the argmax pair is the next merge. Counting runs on the DISTINCT
    * word set weighted by word frequency, so the expensive per-word
    * pair expansion is O(|vocab| · word_len), not O(corpus positions) —
    * at 100 TB the word-frequency aggregate is the only corpus-sized
    * stage (one explode + hash agg with map-side partials); everything
    * after operates on the bounded vocabulary.
    */
  def bpeMergePairs(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val words = docs
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("_wcnt"))
    words
      .select(col("_wcnt"),
        explode(when(length(col("word")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2))))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("_wcnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** Apply a LEARNED BPE merge list to segment text — the tokenizer
    * application step the packing/chunking tier assumes ([[bpeMergePairs]]
    * computes the training statistic; this consumes its output). Each
    * whitespace word is split to characters and the merges are applied
    * in rank order, each replacing every (left, right) adjacent token
    * occurrence left-to-right — Sennrich et al. 2016's apply step.
    *
    * Representation: the token sequence is a single string with every
    * token wrapped in U+001F separators (drawn ␟ here:
    * `␟t␟␟h␟␟e␟`), so one merge is ONE literal
    * `replace(␟l␟␟r␟ → ␟lr␟)` — boundary-safe (a pattern can never
    * match across a token) and overlap-correct (`aaa` +
    * merge (a,a) → [aa, a], leftmost-first, because the second
    * occurrence's leading separator is consumed by the first match).
    * The whole merge table unrolls at plan-build time into a chain of
    * codegen'd replaces inside one `transform` lambda: a pure scan
    * projection — zero shuffles, the merge table travels as literals in
    * the expression tree (the q133 classifier-serving discipline), so
    * at 100 TB this costs one pass over the corpus.
    *
    * Output column: one space-joined piece string PER WORD (word
    * boundaries preserved); flatten with [[bpePieces]] for the
    * doc-level piece stream the packing tier consumes.
    */
  def bpeSegment(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)], outCol: String = "bpe_segments"): DataFrame = {
    val SEP = "\u001f" // US control char: never appears in text tokens
    require(merges.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty && !l.contains(SEP) && !r.contains(SEP) },
      "bpeSegment: merge tokens must be non-empty and separator-free")
    val segWord = (w0: Column) => {
      // a U+001F in the INPUT would forge token boundaries inside the
      // wrapped representation (spurious merges, silent corruption) —
      // strip it up front, the same guard the merge tokens get
      val w = translate(w0, SEP, "")
      val wrapped = concat_ws("",
        transform(split(w, ""), ch => concat(lit(SEP), ch, lit(SEP))))
      val merged = merges.foldLeft(wrapped) { case (acc, (l, r)) =>
        replace(acc, lit(s"$SEP$l$SEP$SEP$r$SEP"), lit(s"$SEP$l$r$SEP"))
      }
      trim(replace(merged, lit(SEP + SEP), lit(" ")), SEP)
    }
    docs.withColumn(outCol,
      transform(tokens(lower(col(textCol))), segWord))
  }

  /** Flatten [[bpeSegment]]'s per-word piece strings into the doc-level
    * piece stream (pieces never contain spaces — words come from a
    * whitespace split).
    */
  def bpePieces(segments: Column): Column =
    flatten(transform(segments, s => split(s, " ")))

  /** DISTRIBUTED BPE training (Sennrich et al. 2016) — learn the merge
    * list [[bpeSegment]] applies, completing the tokenizer story next
    * to [[bpeMergePairs]]'s single-step statistic. The corpus-sized
    * work happens ONCE (the word-frequency aggregate); each of the
    * `numMerges` iterations then runs on the bounded VOCABULARY:
    * one (left, right) hash aggregate over the wrapped-token
    * representations, a deterministic argmax (count desc, then pair
    * lexicographic) of which exactly ONE ROW reaches the driver (the
    * k-means discipline — model state round-trips, data never), and a
    * narrow literal replace applying the merge. Each iteration ends in
    * an eager localCheckpoint so plan depth stays O(1) instead of
    * O(merges) (the connectedComponents contract).
    *
    * Training stops early when the best pair's weighted count falls
    * below `minCount` (merging hapax pairs only memorizes the corpus).
    * The returned table feeds [[bpeSegment]] directly.
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 1, s"bpeTrain: numMerges must be >= 1, got $numMerges")
    val SEP = "\u001f"
    var vocab = docs
      .select(explode(tokens(lower(col(textCol)))).as("_w0"))
      // strip U+001F from input words before wrapping — an in-text
      // separator would forge token boundaries (the bpeSegment guard);
      // applied AFTER the explode (generators must be top-level)
      .select(translate(col("_w0"), SEP, "").as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
      .select(concat_ws("",
        transform(split(col("word"), ""), ch => concat(lit(SEP), ch, lit(SEP))))
        .as("repr"), col("wcnt"))
      // lazy (r19): the first iteration's top-pair collect materializes
      // the blocks in the same driver job — one round-trip per merge
      // instead of two; the final iteration's unconsumed mark costs
      // nothing. Lineage is cut identically (LogicalRDD either way).
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val t = split(trim(col("repr"), SEP), SEP + SEP)
      val top = vocab
        .select(col("wcnt"), t.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("wcnt"), explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("_p"))
        .groupBy(col("_p.l").as("l"), col("_p.r").as("r"))
        .agg(sum(col("wcnt")).as("cnt"))
        .filter(col("cnt") >= minCount)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top.head.getString(0), top.head.getString(1))
        merges += ((l, r))
        vocab = vocab
          .withColumn("repr",
            replace(col("repr"), lit(s"$SEP$l$SEP$SEP$r$SEP"), lit(s"$SEP$l$r$SEP")))
          .localCheckpoint(false)
      }
    }
    merges.toSeq
  }
}
