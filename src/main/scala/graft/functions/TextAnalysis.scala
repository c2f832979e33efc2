package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, n-gram-heuristic language ID, fingerprinting.
  * Everything is built from codegen'd native functions (no UDFs) so it runs
  * inside whole-stage codegen at corpus scale.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token count: runs of letters, runs of digits, or single
    * non-space symbols — the standard pre-tokenizer shape.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?'\"()-]", ""))

  // Tiny per-language stopword lists for the n-gram/stopword language-ID
  // heuristic. Ordered: ties resolve by this precedence.
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和")
  )

  /** Language-ID heuristic: argmax of per-language distinct-stopword hits,
    * ties broken by list precedence; "und" (undetermined) when nothing hits.
    * Implemented as a single-pass native kernel ([[NativeFns.lang_id]]): the
    * previous declarative fold embedded each partial best-score expression
    * twice per `when` step, duplicating the full tokenize/intersect pipeline
    * ~2^|langs| times — ~200 ms/row interpreted. The kernel is one tokenize +
    * one hash probe per distinct token.
    */
  def langId(text: Column): Column = NativeFns.lang_id(text, langStopwords)

  /** 64-bit SimHash over whitespace tokens: bit b of the fingerprint is the
    * sign of Σ_tokens (±1 by bit b of xxhash64(token)). Near-duplicate texts
    * land within small Hamming distance. Pure higher-order functions — one
    * pass over 64×|tokens| per row, fully codegen'd.
    */
  def simHash64(text: Column): Column = NativeFns.simhash64(tokens(text))
}
