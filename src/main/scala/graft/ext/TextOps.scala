package graft.ext

import graft.functions.ColFns._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus pipelines: language ID, quality
  * scoring, token counting, fingerprinting.  All per-row Column
  * expressions — embarrassingly parallel, codegen'd, no shuffle.
  */
object TextOps {

  /** Tiny per-language stopword lists for the n-gram/stopword
    * language-ID heuristic (shared with the oracle generator). */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "他"))

  /** Count of tokens contained in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Predicted language = argmax stopword hits, ties broken by
    * language code ascending (deterministic). */
  def langIdCol(text: Column): Column = {
    val toks = tokens(text)
    val scored = StopWords.map { case (lang, ws) =>
      struct(stopwordHits(toks, ws).as("hits"), lit(lang).as("lang"))
    }
    // max over (hits, -lang): sort_array desc puts highest hits first;
    // struct compare is lexicographic so equal hits pick the LAST lang —
    // invert by comparing on (hits, reversed-lang) is messy; instead
    // fold with explicit tie rule: strictly-greater replaces.
    scored.reduceLeft { (best, cand) =>
      when(cand.getField("hits") > best.getField("hits"), cand).otherwise(best)
    }.getField("lang")
  }

  /** Unrounded quality-score features (token count, mean token
    * length, punctuation ratio, stopword ratio, composite score).
    * Kept raw so aggregations can sum them exactly; round only at
    * presentation.  Expression shapes mirror the DuckDB oracle
    * operation-for-operation so doubles are bit-identical.
    *
    * Each returned column embeds its own `tokens(text)` tree — the
    * HOFs involved are CodegenFallback, so no codegen CSE rescues
    * the repetition and a corpus scan tokenizes every row ~5×.
    * Corpus-wide callers should project `tokens(text)` once and use
    * [[qualityColsRawOf]]; this convenience form is fine for
    * bounded inputs. */
  def qualityColsRaw(text: Column): Seq[Column] =
    qualityColsRawOf(tokens(text), text)

  /** [[qualityColsRaw]] over a MATERIALIZED token column: project
    * `tokens(text).as("toks")` first, then pass the attribute — one
    * tokenization per row instead of one per feature column.  Same
    * expression shapes downstream of the tokens, so values (and
    * oracle hashes) are identical to the convenience form. */
  def qualityColsRawOf(toks: Column, text: Column): Seq[Column] = {
    val nTok = size(toks)
    val meanLen = aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
      greatest(nTok, lit(1)).cast("double")
    val punct = (length(text) -
      length(regexp_replace(text, "[^a-z0-9 ]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val allStops = StopWords.flatMap(_._2).distinct
    val stopRatio = stopwordHits(toks, allStops).cast("double") /
      greatest(nTok, lit(1)).cast("double")
    val score = stopRatio * 0.4 + (lit(1.0) - punct) * 0.3 +
      least(meanLen / 8.0, lit(1.0)) * 0.3
    Seq(nTok.as("n_tokens"), meanLen.as("mean_tok_len"),
      punct.as("punct_ratio"), stopRatio.as("stopword_ratio"),
      score.as("quality_score"))
  }

  /** Rounded per-document presentation of [[qualityColsRaw]]. */
  def qualityCols(text: Column): Seq[Column] =
    qualityColsRaw(text).zip(Seq("n_tokens", "mean_tok_len", "punct_ratio",
      "stopword_ratio", "quality_score")).map { case (c, n) =>
      if (n == "n_tokens") c else round(c, 6).as(n)
    }

  /** BPE-ish token pattern: letter runs / digit runs / single other
    * non-space chars. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count via regexp_count (codegen'd). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit(BpePattern))

  /** Rolling-hash document fingerprint over tokens (order-sensitive). */
  def fingerprintCol(text: Column): Column = fingerprint(tokens(text))

  // ---- PII / boilerplate scrubbing --------------------------------------

  /** Scrub patterns, applied IN ORDER (emails first — they contain no
    * "://" so URL scrubbing can't eat them; long digit runs last so
    * digits inside URLs are already gone).  Kept to RE2-compatible
    * syntax (no backrefs/lookaround) so the same pattern strings run
    * in Spark's Java regex and in DuckDB/RE2 oracles. */
  val ScrubPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ \\t\\n]+" -> "<URL>",
    "[0-9]{6,}" -> "<NUM>")

  /** Replace emails / URLs / long digit runs with typed placeholder
    * tokens — the standard pre-training PII/noise scrub.  A chain of
    * codegen'd `regexp_replace`: per-row, zero shuffle, streams at
    * scan speed. */
  def scrubCol(text: Column): Column =
    ScrubPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  // ---- Repetition / boilerplate quality signals -------------------------

  /** Fraction of tokens that are repeats of an earlier token:
    * `1 - distinct/total` (0 for empty docs).  High values flag
    * low-quality boilerplate (Gopher-style repetition filter).
    * Takes a MATERIALIZED token column (project `tokens(text)` once
    * and share it across the repetition signals). */
  def dupTokenFraction(toks: Column): Column = {
    val n = size(toks)
    when(n === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(toks)).cast("double") / n.cast("double"))
  }

  /** Adjacent word-bigram array of `toks` (empty when < 2 tokens) —
    * the two slices are equal-length by construction so `zip_with`
    * never pads.  Project this ONCE and feed the column to
    * [[topBigramFraction]]: referencing the un-materialized
    * expression inside that function's lambdas would rebuild the
    * whole bigram array per distinct bigram (the interpreted-HOF
    * recompute pathology — see the chunk-dedup API note). */
  def bigramsOf(toks: Column): Column = {
    val n = size(toks)
    when(n < 2, array().cast("array<string>")).otherwise(
      zip_with(slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
  }

  /** Fraction of word bigrams taken up by the single most frequent
    * bigram (0 when < 2 tokens) — the other half of the repetition
    * filter.  Takes a MATERIALIZED bigram column ([[bigramsOf]],
    * projected); per-row O(distinct × total) element compares over
    * the bound attribute, no shuffle. */
  def topBigramFraction(bg: Column): Column = {
    val top = array_max(transform(array_distinct(bg),
      b => size(filter(bg, x => x === b))))
    when(size(bg) === 0, lit(0.0))
      .otherwise(top.cast("double") / size(bg).cast("double"))
  }

  // ---- Intra-document repetition removal --------------------------------
  //
  // The within-doc analog of corpus dedup: re-emit a document with
  // every repeated `width`-token chunk dropped, first occurrence kept
  // in order (nav-bar/footer/keyword-spam boilerplate).  Two-step API
  // by design: [[tokenChunks]] MATERIALIZES the chunk array as its
  // own projected column, and [[dedupChunks]]/[[droppedChunkCount]]
  // consume that bound attribute.  Fusing them into one text→text
  // expression would re-evaluate the whole chunk construction inside
  // every HOF lambda invocation — O(chunks² × tokens) per row in
  // Catalyst's interpreted HOF path, measured 20+ min for 50k docs vs
  // seconds with the projection split.

  /** Non-overlapping `width`-token chunks of the document, each
    * joined back to a string (the final chunk may be shorter).
    * Project this ONCE, then feed the resulting column to
    * [[dedupChunks]] / [[droppedChunkCount]].  `toks` is read inside
    * the per-chunk lambda, so pass a projected token column, not
    * `tokens(text)` inline (ColFns' lambda-capture rule). */
  def tokenChunks(toks: Column, width: Int): Column = {
    val nChunks = ceil(size(toks).cast("double") / width).cast("int")
    when(nChunks < 1, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), nChunks),
        j => concat_ws(" ", slice(toks, (j - lit(1)) * width + 1, lit(width)))))
  }

  /** Re-assembled document from a MATERIALIZED chunk column, repeated
    * chunks dropped (first occurrence kept, order preserved).  A
    * chunk is kept iff its first index in the array is its own index
    * — O(chunks²) element compares per row over the bound attribute,
    * zero shuffle. */
  def dedupChunks(ch: Column): Column =
    when(size(ch) === 0, lit("")).otherwise(
      concat_ws(" ", transform(firstOccurrenceIdx(ch),
        i => element_at(ch, i))))

  /** Number of chunks [[dedupChunks]] drops for the same chunk
    * column — the repetition-removal accounting column. */
  def droppedChunkCount(ch: Column): Column =
    when(size(ch) === 0, lit(0L)).otherwise(
      (size(ch) - size(firstOccurrenceIdx(ch))).cast("long"))

  /** 1-based indices of first-occurrence elements of `ch`, in order.
    * Only evaluated under a size(ch) > 0 guard (sequence(1, 0) would
    * otherwise count DOWN). */
  private def firstOccurrenceIdx(ch: Column): Column =
    filter(sequence(lit(1), size(ch)),
      i => array_position(ch, element_at(ch, i)) === i.cast("long"))
}
