package graft.operators

import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Within-document text quality metrics over a `(doc_id, text)` frame:
  * Gopher-style repetition fractions and the composite keep/drop gate
  * built on them. Pure codegen'd column arithmetic plus one native
  * expression ([[graft.functions.RepetitionStats]]).
  */
object TextAnalysis {

  /** Punctuation ratio: punctuation chars / total chars. */
  private def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", "")).cast("double") /
        length(text).cast("double"))

  /** Stopword ratio over whitespace tokens (tiny English list — a
    * quality feature, not a linguistic claim).
    */
  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
  private def stopwordRatio(text: Column): Column = {
    val toks = split(text, " ")
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*))).cast("double") /
        size(toks).cast("double"))
  }

  /** Gopher-style within-document repetition metrics (Rae et al. 2021,
    * table A1) — the canonical LLM training-data quality gate the stats
    * family doesn't cover: documents that repeat themselves (boilerplate,
    * scraper loops, template spam) score high here and get filtered
    * before dedup even runs.
    *
    * Metrics, all per document:
    *   - `dup_line_frac` / `dup_line_char_frac`: fraction of "lines"
    *     (fixed `lineTokens`-token chunks — the corpus is single-line,
    *     so physical newlines carry no signal; a chunk is the
    *     order-preserving analogue) that are repeats of an earlier
    *     line, by count and by character mass.
    *   - `top_bigram_char_frac`: characters covered by the most
    *     frequent word 2-gram (count × length, tie-free because the
    *     maximum is taken over the product) over total characters.
    *   - `dup_bigram_frac` / `dup_trigram_frac`: fraction of n-gram
    *     positions whose n-gram occurs more than once in the document.
    *
    * Everything is ONE native compiled pass per document
    * ([[graft.functions.TextOps.repetitionStats]] — the original
    * higher-order-function formulation ran INTERPRETED per n-gram,
    * measured 5.7-6.4 s at sf0.1 vs well under a second native; ZERO
    * shuffles either way, the 100 TB cost is one scan); per-doc
    * n-gram counting is O(n) hash-map work bounded by the tokenizer,
    * never by the corpus. Documents with fewer than 3 tokens (trigram
    * undefined) are dropped; ROUND-6 applies
    * here, on the expression's unrounded IEEE-identical ratios.
    */
  def repetition(docs: DataFrame, lineTokens: Int = 2): DataFrame =
    ScanSpread.spreadForCompute(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextOps.repetitionStatsCol(col("text"), lineTokens).as("_r"))
      .filter(col("_r").isNotNull)
      .select(
        col("doc_id"),
        col("_r.n_tokens").as("n_tokens"),
        col("_r.n_lines").as("n_lines"),
        round(col("_r.dup_line_frac"), 6).as("dup_line_frac"),
        round(col("_r.dup_line_char_frac"), 6).as("dup_line_char_frac"),
        round(col("_r.top_bigram_char_frac"), 6).as("top_bigram_char_frac"),
        round(col("_r.dup_bigram_frac"), 6).as("dup_bigram_frac"),
        round(col("_r.dup_trigram_frac"), 6).as("dup_trigram_frac"))

  /** Gopher-style composite quality GATE — the keep/drop decision a
    * training pipeline actually runs, assembled from the exact metrics
    * this family already computes (punctuation and stopword ratios,
    * [[repetition]]
    * chunk/bigram fractions) as per-document boolean reason flags plus
    * the final `keep` verdict. Filtering with reasons (not just a
    * score) is the curation norm: reason counts per shard are the
    * drift dashboard, and a rule can be loosened by re-deriving `keep`
    * from the flags without re-touching text.
    *
    * Rules (all thresholds are parameters; defaults in the Gopher
    * neighborhood adapted to this corpus's single-line documents):
    * token-count band, mean-token-length band, punctuation-ratio cap,
    * stopword-ratio floor (non-natural text), and the repetition rule
    * (duplicate-chunk char mass / duplicate-bigram positions) — the
    * repetition metrics are undefined below 3 tokens and count as NOT
    * repetitive there (such docs already fail the token band).
    *
    * ONE scan, zero shuffles: every metric is per-row array/regexp
    * arithmetic inlined into a single projection, codegen'd end to end — at 100 TB the gate costs a
    * map pass over text, and it runs BEFORE dedup ever shuffles.
    */
  def qualityGate(docs: DataFrame,
      minTokens: Long = 10L, maxTokens: Long = 100000L,
      minMeanTokChars: Double = 2.0, maxMeanTokChars: Double = 12.0,
      maxPunct: Double = 0.3, minStopword: Double = 0.01,
      maxDupLineChar: Double = 0.3, maxDupBigram: Double = 0.5): DataFrame = {
    require(minTokens >= 1 && maxTokens > minTokens,
      s"token band must satisfy 1 <= min < max, got [$minTokens, $maxTokens]")
    require(minMeanTokChars > 0 && maxMeanTokChars > minMeanTokChars,
      "mean-token-chars band must satisfy 0 < min < max")
    val guarded = ScanSpread.spreadForCompute(docs)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"),
        TextOps.repetitionStatsCol(col("text"), 2).as("_r"))
    val n = size(col("toks")).cast("long")
    val meanTok =
      expr("cast(aggregate(toks, 0L, (a, x) -> a + length(x)) as double)") /
        n.cast("double")
    // null struct (< 3 tokens) nulls both fractions → coalesce(false)
    val dupLineChar = col("_r.dup_line_char_frac")
    val dupBigram = col("_r.dup_bigram_frac")
    val flagged = guarded.select(
      col("doc_id"),
      n.as("n_tokens"),
      (n < minTokens).as("too_short"),
      (n > maxTokens).as("too_long"),
      (meanTok < minMeanTokChars || meanTok > maxMeanTokChars)
        .as("bad_word_len"),
      (punctRatio(col("text")) > maxPunct).as("high_punct"),
      (stopwordRatio(col("text")) < minStopword)
        .as("low_stopword"),
      coalesce(dupLineChar > maxDupLineChar || dupBigram > maxDupBigram,
        lit(false)).as("repetitive"))
    flagged.withColumn("keep",
      !(col("too_short") || col("too_long") || col("bad_word_len") ||
        col("high_punct") || col("low_stopword") || col("repetitive")))
  }
}
