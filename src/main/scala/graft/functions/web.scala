package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Web-corpus column library: HTML main-content extraction, URL
  * canonicalization and sitemap parsing — the harvest-side operators
  * a crawl-fed training pipeline needs between the fetch loop's raw
  * bronze bytes (S16) and the text pipeline (P/F families).
  *
  * The reference stops at a bare tag strip
  * (pipeline/ingestion/drivers/driver_bible.py:55-56 — `re.sub(r'<[^>]+>',
  * '', verse)`); everything past that is an engine extension in the
  * trafilatura/jusText tradition (block segmentation + link-density
  * scoring), re-expressed Spark-first.
  *
  * Every function is a pure `Column` composition over codegen'd
  * builtins and higher-order functions — per-ROW work with no
  * shuffle, no UDF and no serialization fence, so a 100 TB HTML scan
  * is embarrassingly parallel and the whole clean→segment→score→join
  * chain stays inside one WholeStageCodegen span. Regexes are kept to
  * the RE2-compatible subset (no backreferences, no lookaround) so
  * the DuckDB oracles replay them verbatim.
  */
object web {

  /** The reference's literal tag strip (driver_bible.py:55-56):
    * every `<...>` run → removed, then trimmed. Kept as the cheap
    * compatibility primitive; [[html_main_text]] is the real op. */
  def strip_html_tags(c: Column): Column =
    trim(regexp_replace(c, "<[^>]+>", " "))

  /** Minimal HTML entity decode: the five XML-predefined entities
    * plus the two ubiquitous numeric forms. Amp is decoded LAST so
    * double-encoded text is not double-decoded. Static chain only —
    * general `&#NNN;` decoding needs per-match compute, which neither
    * Spark natives nor the DuckDB oracle can express; documents that
    * need it go through the (spec-gated) byte codecs instead. */
  def decode_entities(c: Column): Column = {
    val steps = Seq(
      "&nbsp;" -> " ", "&#160;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")
    steps.foldLeft(c) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
  }

  /** Inverse of [[decode_entities]] for fixture synthesis: escape the
    * three structural characters (& first, so the escapes themselves
    * survive the decode round-trip). */
  def encode_entities(c: Column): Column =
    replace(replace(replace(c, lit("&"), lit("&amp;")),
      lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  // Hidden/chrome regions removed wholesale BEFORE segmentation:
  // non-content payloads (script/style/noscript/template/head) and
  // structural boilerplate (nav/header/footer/aside) plus comments.
  // RE2 has no backreferences, so each tag pair is spelled out; \b
  // keeps <head> from eating <header>.
  private val hiddenRegionRe: String = {
    val tags = Seq("script", "style", "noscript", "template", "head",
      "nav", "header", "footer", "aside")
    tags.map(t => s"<$t\\b[^>]*>.*?</$t>").mkString("(?is)", "|", "|<!--.*?-->")
  }

  // Block-level boundary tags: splitting on them turns a page into
  // scoreable text blocks (the jusText segmentation) without any DOM.
  private val blockBoundaryRe: String =
    "(?i)</?(?:p|div|section|article|main|h1|h2|h3|h4|h5|h6|li|ul|ol|" +
      "table|thead|tbody|tr|td|th|br|blockquote|figure|figcaption|" +
      "details|summary|form|fieldset|pre|hr|title|body|html)" +
      "(?:\\s[^>]*)?/?>"

  // ASCII whitespace class used on BOTH engines — Java's \s includes
  // \x0B while RE2's does not, so neither spelling is portable.
  private val wsRe = "[ \\t\\n\\r\\f]+"

  /** One block's visible text: inline tags stripped, entities
    * decoded, whitespace collapsed. */
  private def blockText(b: Column): Column =
    trim(regexp_replace(decode_entities(regexp_replace(b, "<[^>]+>", " ")),
      wsRe, " "))

  /** Total visible length of a block's anchor text — the numerator of
    * the jusText link-density score. */
  private def blockLinkLen(b: Column): Column =
    aggregate(
      regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
      lit(0),
      (acc, a) => acc + length(blockText(a)))

  /** Main-content extraction: drop hidden/chrome regions, segment on
    * block-level tags, keep blocks with ≥ `minWords` words and link
    * density ≤ `maxLinkDensity`, and reassemble survivors in document
    * order joined by newlines. The trafilatura/jusText heuristic as
    * one expression — no DOM, no UDF, no shuffle; anchors that survive
    * the density gate keep their text (links inside real paragraphs
    * are content; link farms are not).
    *
    * Shape note (round 13): [[blockText]] — 2 regexes + 8 entity
    * replaces + trim — must run exactly ONCE per block. Column
    * composition has no `let`, so naming it in a `val` still clones
    * the subtree per use, and higher-order lambdas evaluate interpreted
    * (no codegen subexpression elimination): binding `t = blockText(b)`
    * inside the filter re-ran the cascade up to 4× per surviving block
    * (word gate, empty gate, density denominator, output). A transform
    * into `(raw, text)` structs materializes the cleaned text once;
    * the filter reads the struct field, and the raw block stays
    * available so the anchor scan ([[blockLinkLen]]) keeps its
    * short-circuit position behind the cheap word/empty gates. The
    * price is memory: until the final projection the struct array
    * holds every block twice, raw and cleaned, so a page's peak
    * per-row footprint is about two copies of its block text instead
    * of one. */
  def html_main_text(html: Column, minWords: Int = 3,
      maxLinkDensity: Double = 0.33): Column = {
    val blocks = split(regexp_replace(html, hiddenRegionRe, " "),
      blockBoundaryRe)
    val cleaned = transform(blocks,
      b => struct(b.as("raw"), blockText(b).as("txt")))
    val kept = filter(cleaned, s => {
      val t = s.getField("txt")
      (size(split(t, " ")) >= minWords) && (t =!= "") &&
        (blockLinkLen(s.getField("raw")).cast("double") <=
          lit(maxLinkDensity) * length(t).cast("double"))
    })
    array_join(transform(kept, s => s.getField("txt")), "\n")
  }

  /** RFC 3986 §6.2.2.2 percent-encoding normalization (decode
    * unreserved escapes, uppercase the rest, pass malformed escapes
    * through) — the [[PercentNormalize]] native expression. */
  def percent_normalize(c: Column): Column =
    text.expr2col(PercentNormalize(text.col2expr(c)))

  // Tracking query parameters dropped by canonical_url: pure
  // click-attribution noise that fragments crawl frontiers (the same
  // default list trafilatura/courlan ship).
  private val trackerParamRe =
    "^(?:utm_[^=]*|gclid|fbclid|msclkid|mc_eid|igshid|ref_src|yclid)(?:=|$)"

  /** RFC 3986 §6.2 URL canonicalization for crawl-frontier identity:
    * lowercase scheme + authority (§6.2.2.1), strip the fragment,
    * drop default ports (§6.2.3), empty path → "/", drop tracking
    * params, sort the surviving query params (order-insensitive
    * identity), drop an empty query, and normalize percent encoding
    * (§6.2.2.2 via [[percent_normalize]] — decoding only unreserved
    * octets never creates a delimiter, so it is safe before parsing).
    * Non-absolute inputs pass through trimmed — the function never
    * fabricates a scheme. */
  def canonical_url(u: Column): Column = {
    val t = trim(u)
    val noFrag = percent_normalize(regexp_replace(t, "(?s)#.*$", ""))
    val scheme = lower(regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val auth0 = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val auth = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val path = regexp_extract(pathq, "^([^?]*)", 1)
    val path2 = when(path === "", lit("/")).otherwise(path)
    val query = when(pathq.contains("?"),
      regexp_replace(pathq, "(?s)^[^?]*\\?", "")).otherwise(lit(""))
    val params = filter(split(query, "&"),
      p => (p =!= "") && !p.rlike(trackerParamRe))
    val qs = array_join(array_sort(params), "&")
    val canon = concat(scheme, lit("://"), auth, path2,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
    when(t.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), canon).otherwise(t)
  }

  /** Sitemap `<url>` entries (sitemaps.org §XML format) as an array
    * of (loc, lastmod) structs: one regex explode per element, loc
    * entity-decoded (ampersands in URLs arrive escaped), lastmod NULL
    * when absent. No XML parser needed — the schema is flat and the
    * oracle replays the extraction verbatim. */
  def sitemap_entries(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("(?is)<url>(.*?)</url>"), lit(1)),
      e => struct(
        decode_entities(trim(regexp_extract(e,
          "(?is)<loc>(.*?)</loc>", 1))).as("loc"),
        nullif(trim(regexp_extract(e,
          "(?is)<lastmod>(.*?)</lastmod>", 1)), lit("")).as("lastmod")))

  /** `Sitemap:` directives of a robots.txt body, as an array of
    * trimmed URLs. Group-independent per sitemaps.org — the directive
    * may appear anywhere in the file; `#` comments are clipped like
    * every other robots line. */
  def robots_sitemap_locs(txt: Column): Column =
    filter(
      transform(
        regexp_extract_all(txt,
          lit("(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^#\\r\\n]*)"), lit(1)),
        v => trim(v)),
      v => v =!= "")

  /** Child sitemap locations of a `<sitemapindex>` document. */
  def sitemap_index_locs(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("(?is)<sitemap>(.*?)</sitemap>"), lit(1)),
      e => decode_entities(trim(regexp_extract(e,
        "(?is)<loc>(.*?)</loc>", 1))))
}
