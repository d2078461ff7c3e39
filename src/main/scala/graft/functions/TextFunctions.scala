package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization as Column expressions, mirroring the reference's two
  * tokenizers:
  *
  *  - [[tokenizeSimple]]: reference `src/rust/common/src/nlp.rs:16` —
  *    lowercase, split on non-alphanumeric (underscore kept), drop
  *    single-char tokens and English stopwords.
  *  - [[tokenizeBm25]]: reference
  *    `src/rust/daemon/core/src/embedding/bm25.rs:16` — split on
  *    whitespace + punctuation, trim `-_/`, length > 1, lowercase, junk
  *    filter (hex hashes, version strings, paths, hex literals, digits).
  *
  * Everything is codegen'd (split/filter/transform) — no UDFs, so the
  * tokenizer semantics are also expressible 1:1 in the DuckDB oracle.
  */
object TextFunctions {

  /** Reference nlp.rs ENGLISH_STOPWORDS (38 entries). */
  val EnglishStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "or", "that", "the", "to",
    "was", "were", "will", "with", "this", "but", "they", "have", "had",
    "what", "when", "where", "who", "which", "why", "how")

  private val stopwordsLit = typedLit(EnglishStopwords)

  /** nlp.rs-style tokenizer.
    *
    * Deliberate deviation: nlp.rs:18 splits on Unicode
    * `!is_alphanumeric()`, while this twin splits on ASCII
    * `[^a-z0-9_]+` — so non-ASCII letters are split points here
    * ('café' → 'caf') where the reference keeps them. The restriction
    * is kept so the DuckDB oracle CTE (same ASCII regex) is 1:1 with
    * this Column; the test corpus is pure ASCII, so the two tokenizers
    * agree on every oracle input. A Unicode corpus would switch both
    * sides to `[^\p{L}\p{N}_]+`.
    */
  def tokenizeSimple(text: Column): Column = {
    val raw = split(lower(text), "[^a-z0-9_]+")
    filter(raw, t =>
      length(t) > 1 && !array_contains(stopwordsLit, t))
  }

  /** bm25.rs-style tokenizer with junk filtering. The patterns live in
    * [[org.apache.spark.sql.graft.Bm25TermCounts]], whose scalar
    * tokenizer runs the same steps for query strings and per-term
    * counts. */
  def tokenizeBm25(text: Column): Column = {
    import org.apache.spark.sql.graft.Bm25TermCounts.{JunkRegexes, SplitRegex, TrimRegex}
    val raw = split(text, SplitRegex)
    val trimmed = transform(raw, t => regexp_replace(t, TrimRegex, ""))
    val kept = filter(trimmed, t => length(t) > 1)
    val lowered = transform(kept, t => lower(t))
    filter(lowered, t => JunkRegexes.map(r => !t.rlike(r)).reduce(_ && _))
  }

  /** Term frequency pairs are built by explode + groupBy at the operator
    * level; this helper just standardizes the distinct-terms projection.
    */
  def distinctTerms(tokens: Column): Column = array_distinct(tokens)
}
