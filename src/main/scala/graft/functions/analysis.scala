package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline
  * surface: language id, quality scoring, token counting, document
  * fingerprinting. All pure Column compositions (codegen-friendly,
  * no UDFs) so they run inline with the scan at 100 TB.
  */
object analysis {

  // PII patterns, applied in THIS order (each stage sees the previous
  // stage's redacted text, so the looser later patterns can't re-match
  // inside an already-redacted span — dotted IPv4 quads would
  // otherwise also satisfy a digit-run pattern). RE2-compatible (no
  // backreferences/lookaround) so the DuckDB oracle runs the same
  // patterns verbatim.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\+\\d[\\d()\\s-]{6,}\\d" // international +NN … form
  private val IdRe = "\\b\\d{9,}\\b" // long digit runs: account/ssn-ish ids

  /** PII redaction — emails, IPv4s, +international phones, and long
    * digit runs replaced by typed placeholder tokens (the standard
    * pre-training scrub; placeholders keep the text well-formed for
    * downstream tokenization instead of leaving holes). Sequential
    * regexp passes, all codegen'd — runs inline with the scan. */
  def redact_pii(c: Column): Column = {
    val e = regexp_replace(c, lit(EmailRe), lit("<EMAIL>"))
    val i = regexp_replace(e, lit(Ipv4Re), lit("<IP>"))
    val p = regexp_replace(i, lit(PhoneRe), lit("<PHONE>"))
    regexp_replace(p, lit(IdRe), lit("<ID>"))
  }

  /** Per-type PII match counts as a struct `(n_email, n_ip, n_phone,
    * n_id)` — counted stage-wise on the progressively-redacted text,
    * exactly mirroring [[redact_pii]]'s replacement semantics (an
    * IPv4 counts once as an IP, never again as a digit run). */
  def pii_counts(c: Column): Column = {
    val e = regexp_replace(c, lit(EmailRe), lit("<EMAIL>"))
    val i = regexp_replace(e, lit(Ipv4Re), lit("<IP>"))
    val p = regexp_replace(i, lit(PhoneRe), lit("<PHONE>"))
    struct(
      regexp_count(c, lit(EmailRe)).as("n_email"),
      regexp_count(e, lit(Ipv4Re)).as("n_ip"),
      regexp_count(i, lit(PhoneRe)).as("n_phone"),
      regexp_count(p, lit(IdRe)).as("n_id"))
  }

  // Markup patterns, applied in THIS order: block elements whose
  // CONTENT must go (comments, script, style) before the generic tag
  // strip, numeric entities before named ones, and `&amp;` decoded
  // LAST (standard double-escape semantics: "&amp;lt;" ends up as the
  // literal text "&lt;", never as "<"). RE2-compatible — non-greedy
  // and inline (?is) flags only, no lookaround — so the DuckDB oracle
  // runs the same patterns verbatim.
  private val CommentRe = "(?s)<!--.*?-->"
  private val ScriptRe = "(?is)<script[^>]*>.*?</script>"
  private val StyleRe = "(?is)<style[^>]*>.*?</style>"
  private val TagRe = "<[^>]*>"
  private val NumEntityRe = "&#[0-9]{1,7};|&#[xX][0-9A-Fa-f]{1,6};"

  /** Strip HTML/XML markup down to display text: comments, script and
    * style blocks (content included), tags, numeric character
    * references, the common named entities, then whitespace collapsed
    * to single spaces and trimmed — the boilerplate-removal step in
    * front of the C4/Gopher gates for web-scraped corpora. Pure
    * codegen'd regexp/replace chain, inline with the scan; NOT
    * idempotent by design (decoding `&lt;` can surface literal angle
    * brackets — markup stripping runs once, at ingestion).
    * Explicit `[ \t\n\r\f]` whitespace class, not `\s`: Java's \s
    * includes 0x0B, RE2's does not — the explicit class hash-matches
    * across engines. */
  def strip_markup(c: Column): Column = {
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(c,
      lit(CommentRe), lit(" ")), lit(ScriptRe), lit(" ")), lit(StyleRe), lit(" "))
    val noTags = regexp_replace(noBlocks, lit(TagRe), lit(" "))
    val noNum = regexp_replace(noTags, lit(NumEntityRe), lit(" "))
    val named = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&apos;" -> "'").foldLeft(noNum) {
      case (acc, (k, v)) => replace(acc, lit(k), lit(v))
    }
    val decoded = replace(named, lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, lit("[ \\t\\n\\r\\f]+"), lit(" ")))
  }

  /** Fraction of the raw document that was markup: `1 −
    * len(strip_markup(c))/len(c)` (0 for empty input) — the
    * boilerplate-density quality signal; gate high values as
    * chrome-heavy pages. Runs the full strip chain internally — a
    * caller that also keeps the stripped text should project
    * [[strip_markup]] once and use the two-argument overload, or the
    * 12-stage regexp chain executes twice per row. */
  def markup_ratio(c: Column): Column = markup_ratio(c, strip_markup(c))

  /** [[markup_ratio]] from an already-computed stripped column —
    * zero extra regexp work when the stripped text is kept anyway. */
  def markup_ratio(raw: Column, stripped: Column): Column =
    when(length(raw) === 0 || raw.isNull, lit(0.0))
      .otherwise(lit(1.0) - length(stripped).cast("double") /
        length(raw).cast("double"))

  // URL canonicalization patterns — RE2-compatible (no lookaround, so
  // the DuckDB oracle runs the same patterns; replacements avoid
  // capture references, whose syntax differs between engines). "ref"
  // requires a literal '=' after it, so &refresh=/&referrer= survive.
  private val SchemeHostRe = "^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*"
  private val TrackedRe = "(?:utm_[^&#=]*|gclid|fbclid|msclkid|ref)"

  /** Canonicalize a URL for URL-level dedup — the CCNet/web-crawl
    * step that runs BEFORE content dedup (two fetches of one page are
    * trivially duplicates; catching them by URL is free): drop the
    * fragment, lowercase the scheme://host[:port] head (path and
    * query stay byte-identical — paths are case-sensitive), strip the
    * scheme's default port (:80 http, :443 https), remove tracking
    * query params (utm_*, gclid, fbclid, msclkid, ref) keeping the
    * rest in order, and trim trailing slashes. Non-URL strings (no
    * scheme://host head) pass through with only the generic steps —
    * garbage in, same garbage out, never an error. Pure codegen'd
    * regexp/string chain, inline with the scan. */
  def canonicalize_url(c: Column): Column = {
    val noFrag = regexp_replace(c, lit("#.*$"), lit(""))
    val head = regexp_extract(noFrag, SchemeHostRe, 0)
    val lh = lower(head)
    val lh2 = when(lh.startsWith("http://") && lh.endsWith(":80"),
        lh.substr(lit(1), length(lh) - 3))
      .when(lh.startsWith("https://") && lh.endsWith(":443"),
        lh.substr(lit(1), length(lh) - 4))
      .otherwise(lh)
    val rebuilt = concat(lh2,
      noFrag.substr(length(head) + lit(1), length(noFrag)))
    val p1 = regexp_replace(rebuilt, lit(s"&$TrackedRe=[^&]*"), lit(""))
    val p2 = regexp_replace(p1, lit(s"\\?$TrackedRe=[^&]*&"), lit("?"))
    val p3 = regexp_replace(p2, lit(s"\\?$TrackedRe=[^&]*$$"), lit(""))
    regexp_replace(p3, lit("/+$"), lit(""))
  }

  /** Whitespace token count. */
  def token_count(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish subword token estimate: words + digit runs + punctuation
    * marks each count; long words cost extra tokens per 4 chars
    * (approximates byte-pair tokenizers' behavior on long words). */
  def token_count_bpe(c: Column): Column = {
    val words = regexp_count(c, lit("[\\p{L}]+"))
    val digits = regexp_count(c, lit("[0-9]+"))
    val punct = regexp_count(c, lit("[^\\p{L}0-9\\s]"))
    val longWordExtra = regexp_count(c, lit("[\\p{L}]{5,8}")) +
      regexp_count(c, lit("[\\p{L}]{9,}")) * 2
    words + digits + punct + longWordExtra
  }

  /** Stopword ratio against a small built-in english-ish list (the
    * list is a parameter at call sites that need another language). */
  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this")

  def stopword_ratio(c: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val toks = filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)
    val stop = filter(toks, t => t.isin(stopwords.map(s => s: Any): _*))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(stop).cast("double") / size(toks).cast("double"))
  }

  def punct_ratio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(regexp_count(c, lit("[^\\p{L}0-9\\s]")).cast("double") / length(c))

  /** Deflate compression ratio (compressed/raw bytes, 1.0 for empty) —
    * the cheap sub-word redundancy detector: boilerplate and templated
    * junk compress far better than prose. Native expression
    * ([[graft.functions.CompressionRatio]]). */
  def compression_ratio(c: Column): Column =
    text.expr2col(graft.functions.CompressionRatio(text.col2expr(c)))

  def mean_word_length(c: Column): Column = {
    val toks = filter(split(trim(c), "\\s+"), t => length(t) > 0)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Composite document quality score in [0,1]: rewards in-range
    * length and word shape, penalizes punctuation/digit noise and
    * stopword-free (likely non-linguistic) text. Mirrors the
    * reference's length/charset gating
    * (/root/reference/scripts/polish_dataset_phd.py:41-46,
    * great_expectations suite length 5-1000) generalized to a score.
    */
  def quality_score(c: Column): Column = {
    val len = length(c)
    val lenScore = when(len.between(10, 2000), lit(1.0))
      .when(len.between(3, 9), lit(0.5))
      .otherwise(lit(0.0))
    val wordScore = when(mean_word_length(c).between(2.0, 12.0), lit(1.0)).otherwise(lit(0.3))
    val punctScore = lit(1.0) - least(punct_ratio(c) * 4, lit(1.0))
    // letter ratio: text that is mostly non-letters (symbol noise,
    // digit dumps) is almost never useful training text
    val alphaScore = when(len === 0, lit(0.0))
      .otherwise(regexp_count(c, lit("[\\p{L}]")).cast("double") / len)
    round((lenScore * 0.3 + wordScore * 0.2 + punctScore * 0.2 + alphaScore * 0.3), 6)
  }

  /** Rolling-hash document fingerprint: xxhash64 over the normalized
    * token stream — equal fingerprints ⇒ near-certain exact duplicate
    * content regardless of whitespace/case differences. */
  def fingerprint(c: Column): Column =
    xxhash64(concat_ws(" ",
      filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)))

  /** The pysbd-grade protection passes [[sentences_of]] runs BEFORE
    * boundary injection: each replaces a non-terminal period with
    * \u001F (restored after the split). Deliberately RE2-safe — no
    * lookbehind/lookahead — so a SQL engine replays the exact
    * semantics as the same `regexp_replace` chain (q35's oracle
    * does); the price is the two-pass initials rule below. Mirrors
    * the reference's Spanish segmenter
    * (pipeline/alignment/segmentation.py:3-11, pysbd es):
    *   1. `p. ej.` — both periods protected;
    *   2. honorific/title abbreviations (Sr. López) — never a
    *      boundary, even before the capitalized name;
    *   3. general abbreviations (etc., núm., pág.) — a boundary only
    *      before a capital (protected when lowercase continues);
    *   4. ASCII ellipsis `...` continuing in lowercase — no boundary
    *      (before a capital it stays one);
    *   5. initials before a capitalized word (J. R. R. Tolkien) —
    *      run TWICE: the consumed trailing context skips alternate
    *      periods in an initials run, and the second pass protects
    *      the ones pass one stepped over (fixed point for any run
    *      length).
    * Decimals (3.14) need no pass: the boundary rule requires
    * whitespace after the terminal. */
  private[graft] val SentenceProtections: Seq[(String, String)] = {
    val cap = "A-Z\u00c1\u00c9\u00cd\u00d3\u00da\u00d1"
    val initials = (s"\\b([$cap])\\.(\\s+[$cap])", "$1\u001F$2")
    // doubled-plural compounds (EE. UU., FF. AA., RR. HH., Bs. As.)
    // and era markers (a. C. / d. C.): the INNER period is never a
    // boundary; the final one follows the general-abbreviation rule
    // (protected when lowercase/digit continues, a boundary before a
    // capital — except single-letter tails like "C.", which the
    // initials pass then shields before a capitalized word, the same
    // no-break stance pysbd takes for abbreviation runs). The
    // continuing-text row must run FIRST: once it consumes a pair, the
    // inner-only row cannot rematch (the first period is already
    // \u001F).
    val compoundBoth = ("\\b(EE|FF|RR|Bs|[ad])\\.(\\s*(?:UU|AA|CC|HH|As|C))\\." +
      "(\\s+[\\p{Ll}0-9])", "$1\u001F$2\u001F$3")
    val compoundInner = ("\\b(EE|FF|RR|Bs|[ad])\\.(\\s*(?:UU|AA|CC|HH|As|C)\\.)",
      "$1\u001F$2")
    // ordinal indicators: 1.º, 2.ª, N.º 12 — the period binds the
    // indicator, never ends a sentence
    val ordinal = ("([0-9Nn])\\.(\\s*[\u00ba\u00aa\u00b0])", "$1\u001F$2")
    Seq(
      ("\\b([pP])\\.(\\s*)(ej)\\.", "$1\u001F$2$3\u001F"),
      compoundBoth, compoundInner, ordinal,
      // honorifics/titles + street-type prefixes (Blvd. Insurgentes,
      // Avda. Ju\u00e1rez): never a boundary, even before the
      // capitalized name that follows
      ("\\b(Sr|Sra|Srta|Sres|Dr|Dra|Prof|Profa|Lic|Ing|Gral|Mtro|Mtra" +
        "|D\u00f1a|Ud|Uds|Vd|Vds|Excmo|Excma|Ilmo|Ilma|Rvdo|Mons|Hno|Hna" +
        "|Sta|Sto|Blvd|Avda|Av|Calz|Cnel|Tte|Gob)\\.",
        "$1\u001F"),
      // general abbreviations incl. month forms: a boundary only
      // before a capital — lowercase OR digit continuation is the
      // same utterance (p\u00e1g. 12, vol. 3, 5 dic. de 2020)
      ("\\b(etc|n\u00fam|p\u00e1g|art|vs|aprox|cap|ed|fig|ref|op|cit" +
        "|ene|feb|mar|abr|may|jun|jul|ago|sep|sept|oct|nov|dic" +
        "|tel|tfno|dpto|apdo|vol|pp|p\u00e1rr)\\.(\\s+[\\p{Ll}0-9])",
        "$1\u001F$2"),
      ("\\.\\.\\.(\\s+\\p{Ll})", "\u001F\u001F\u001F$1"),
      initials, initials)
  }

  /** F13 — sentence segmentation as an array column (explode at call
    * site makes it the generator/UDTF shape). Separator-injection
    * instead of lookbehind so the exact semantics are portable to
    * RE2-based engines; [[SentenceProtections]] shields abbreviation,
    * initials and ellipsis periods first (the pysbd envelope the
    * reference segments Spanish prose with), then `[.!?]` +
    * whitespace injects boundaries and the protected periods
    * restore. */
  def sentences_of(c: Column): Column = {
    val shielded = SentenceProtections.foldLeft(c) { case (acc, (p, r)) =>
      regexp_replace(acc, p, r)
    }
    filter(
      transform(split(regexp_replace(shielded, "([.!?])\\s+", "$1\u001E"), "\u001E"),
        s => trim(translate(s, "\u001F", "."))),
      s => length(s) > 0)
  }

  /** F14 — sentence-bounded chunking: pack sentences into chunks of at
    * most `maxChars` (a sentence longer than the budget becomes its own
    * chunk). Pure-column: aggregate over the sentence array carrying
    * (finished chunks, current chunk) state — stays in codegen, no UDF.
    */
  def chunk_sentences(c: Column, maxChars: Int): Column = {
    val init = struct(
      array().cast("array<string>").as("done"),
      lit("").as("cur"))
    val stepped = aggregate(
      sentences_of(c),
      init,
      (acc, s) => {
        val cur = acc.getField("cur")
        val done = acc.getField("done")
        val joined = when(cur === "", s).otherwise(concat(cur, lit(" "), s))
        when(length(joined) <= maxChars,
          struct(done.as("done"), joined.as("cur")))
          .otherwise(struct(
            when(cur === "", done).otherwise(array_append(done, cur)).as("done"),
            s.as("cur"))) },
      acc => when(acc.getField("cur") === "", acc.getField("done"))
        .otherwise(array_append(acc.getField("done"), acc.getField("cur"))))
    stepped
  }

  /** Sliding-window chunking with overlap — the embedding/RAG prep
    * sibling of [[chunk_sentences]]: fixed `size`-char windows every
    * `stride` chars (overlap = size − stride), the last window
    * starting at the smallest stride multiple that reaches the end
    * (the tail chunk may be shorter than `size`). Empty text ⇒ no
    * chunks; text ≤ size ⇒ one chunk. Character (codepoint) offsets,
    * matching `substr` on both engines. */
  def chunk_overlap(c: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size")
    val lastIdx = ceil(greatest(length(c) - size, lit(0)) / lit(stride.toDouble)).cast("int")
    when(length(c) > 0,
      transform(sequence(lit(0), lastIdx),
        i => c.substr(i * lit(stride) + lit(1), lit(size)))
    ).otherwise(array().cast("array<string>"))
  }
}
