package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.functions._

/** Text-normalization function library (SURVEY §2.8, F1-F20).
  *
  * Every function here is a pure `Column` composition over Spark's
  * codegen'd builtins (plus the one custom Catalyst expression,
  * [[UnicodeNormalize]]), so the whole normalization chain stays
  * inside whole-stage codegen — no UDFs, no serialization fences.
  *
  * Reference semantics (citations into /root/reference/):
  *  - NFC:            pipeline/processing/cleaning.py:4-8
  *  - saltillo:       src/transforms/normalizers.py:136-145
  *  - glottal (myn):  src/transforms/normalizers.py:179-191
  *  - vowel runs:     src/transforms/normalizers.py:147-149
  *  - punctuation:    src/transforms/normalizers.py:151-153
  *  - es typography:  src/transforms/normalizers.py:217-233
  *  - whitespace:     src/transforms/normalizers.py:107-110
  *  - language id:    src/transforms/normalizers.py:298-346
  *  - orthography:    pipeline/processing/normalization.py:20-37
  *  - URL/artefacts:  pipeline/processing/cleaning.py:10-24
  *  - content id:     pipeline/ingestion/manager.py:17-21
  */
object text {

  private[graft] def expr2col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    bridge.toColumn(e)
  private[graft] def col2expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    bridge.toExpression(c)

  /** F1 — Unicode NFC normalization (custom Catalyst expression). */
  def unicode_nfc(c: Column): Column =
    expr2col(UnicodeNormalize(col2expr(c), Normalizer.Form.NFC))

  def unicode_nfkc(c: Column): Column =
    expr2col(UnicodeNormalize(col2expr(c), Normalizer.Form.NFKC))

  /** F2 — Náhuatl saltillo normalization: apostrophe variants
    * (U+0027, U+2019, U+0060, U+0294) → modifier letter apostrophe U+02BC. */
  def normalize_saltillo(c: Column): Column =
    translate(c, "'’`ʔ", "ʼʼʼʼ")

  /** F3 — Maya glottal normalization: saltillo/quote variants → ASCII
    * apostrophe; re-attach detached ejectives (`k '` → `k'`). */
  def normalize_glottal_myn(c: Column): Column =
    regexp_replace(
      translate(c, "ʼ’`ʔ", "''''"),
      "([bchkptz])\\s+'", "$1'")

  /** F4 — clamp vowel runs of 3+ to 2 (backreference regex, case-insensitive). */
  def clamp_vowel_runs(c: Column): Column =
    regexp_replace(c, "(?i)([aeiouāēīōū])\\1{2,}", "$1$1")

  /** F5 — remove space before punctuation. */
  def fix_punct_spacing(c: Column): Column =
    regexp_replace(c, "\\s+([,;:.])", "$1")

  /** F6 — Spanish typography: dashes, curly quotes, ellipsis, NBSP → ASCII. */
  def normalize_es_typography(c: Column): Column = {
    val dashes = regexp_replace(c, "(—|–|--)", "-")
    val quotes = translate(dashes, "«»“”‘’", "\"\"\"\"''")
    val nbsp   = regexp_replace(quotes, "…", "...")
    regexp_replace(nbsp, " ", " ")
  }

  /** F7 — collapse whitespace runs + trim (applied everywhere in the reference). */
  def collapse_ws(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** F8 — case-fold + trim, used for dedup keys. */
  def norm_key(c: Column): Column = lower(trim(c))

  /** F9 — composite dedup key. `concat_ws` skips nulls, which would
    * collide `("a", null, "b")` with `("a", "b", null)` — coalesce each
    * part to "" first so separator positions are preserved
    * (SURVEY §7.4 risk 5). */
  def dedup_key(cols: Column*): Column =
    concat_ws("|", cols.map(c => norm_key(coalesce(c, lit("")))): _*)

  /** F10 — heuristic language id: macrons/digraphs ⇒ nah, ejective
    * patterns ⇒ myn, Spanish punctuation/ñ ⇒ es, else null. */
  def detect_lang(c: Column): Column = {
    val macron    = c.rlike("[āēīōūĀĒĪŌŪ]")
    val digraphs  = regexp_count(lower(c), lit("(tl|tz|kw|ku)"))
    val ejectives = regexp_count(lower(c), lit("(k'|ch'|t'|p'|ts'|ʔ)"))
    val spanish   = c.rlike("[¿¡ñ]")
    when(macron, lit("nah"))
      .when(ejectives >= 1, lit("myn"))
      .when(digraphs >= 2, lit("nah"))
      .when(spanish, lit("es"))
      .otherwise(lit(null).cast("string"))
  }

  /** F11 — Náhuatl orthography variant rewriting, parameterized by dialect. */
  def rewrite_orthography(c: Column, dialect: String): Column = dialect match {
    case "central" =>
      regexp_replace(regexp_replace(c, "['’]", "h"), "\\bw", "hu")
    case "huasteca" =>
      regexp_replace(c, "hu", "w")
    case _ => c
  }

  /** F12 — strip URLs and page artefacts. */
  def strip_artifacts(c: Column): Column =
    collapse_ws(regexp_replace(regexp_replace(c, "http\\S+", ""), "(?i)Página \\d+", ""))

  /** F15 — 16-hex-char content id from a SHA-256 over url+timestamp. */
  def content_id(url: Column, ts: Column): Column =
    substring(sha2(concat_ws("_", url, ts), 256), 1, 16)

  /** Full per-language normalization chain (normalizers.py:260-295):
    * NFC → language-specific char fixes → vowel clamp → punctuation →
    * whitespace collapse. */
  def normalize_text(c: Column, lang: String): Column = {
    val nfc = unicode_nfc(c)
    val langFixed = lang match {
      case "nah" => clamp_vowel_runs(normalize_saltillo(nfc))
      case "myn" => normalize_glottal_myn(nfc)
      case "es"  => normalize_es_typography(nfc)
      case _     => nfc
    }
    collapse_ws(fix_punct_spacing(langFixed))
  }
}
