package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage ZERO of the web-corpus pipeline: HTML → text extraction with
  * line-level boilerplate removal — the step every CCNet/FineWeb-style
  * recipe runs before any of the text operators ([[TextAnalysis.gopherRules]],
  * [[TextAnalysis.qualityTopFrac]], [[Dedup]]) see a document.
  *
  * The extractor is EXPRESSION-ONLY per-row compute (regexp chains + array
  * higher-order functions — no UDF, no shuffle): at 100 TB this is a pure
  * map stage that runs at scan speed ahead of the first exchange, exactly
  * where a rule gate belongs. The rules are the classic deterministic
  * boilerplate heuristics (jusText/boilerpipe family, reduced to their
  * engine-portable core):
  *
  *   1. drop `<script>`/`<style>` blocks and HTML comments entirely;
  *   2. convert block-element CLOSERS (`</p> </div> </li> </h1..6> </tr>
  *      </td> </th> </table> </ul> </ol> </section> </article> </header>
  *      </footer> </nav> </blockquote> </title>`) and `<br>` to newlines —
  *      the document's visual line structure;
  *   3. per line: strip remaining tags, decode the six common entities
  *      (`&lt; &gt; &quot; &#39; &nbsp;` then `&amp;` LAST — so already-
  *      escaped `&amp;lt;` decodes to the literal `&lt;`, not `<`),
  *      collapse whitespace;
  *   4. keep a line only if it has ≥ `minWords` words AND its LINK DENSITY
  *      (characters contributed by `<a>` anchor text / all characters)
  *      ≤ `maxLinkDensity` — short-line and link-soup heuristics that kill
  *      nav bars, share buttons, and footers while keeping prose.
  *
  * Every rule is bit-portable across engines (integer word counts, one
  * int×double multiply for the density bound), so the whole extraction is
  * DuckDB-mirrorable and oracle-gated. Regexes avoid backreferences (the
  * oracle's RE2 has none) and `\s`-class corners (no vertical-tab bytes in
  * any fixture).
  */
object TextExtract {

  /** Default minimum words per kept line (short-line heuristic). */
  val MinWords = 3

  /** Default link-density ceiling: a line more than one-third anchor text
    * is navigation, not prose. */
  val MaxLinkDensity: Double = 1.0 / 3

  /** The shared dead-markup strip (script/style blocks + comments → one
    * space) every HTML reader here runs first — markup inside them is
    * not content, not a frontier candidate, and not a canonical
    * declaration. ONE definition ([[extractHtml]], [[outlinks]],
    * [[canonicals]] all call it): the chain is load-bearing, and three
    * drifting copies would mean a future hardening lands in one reader
    * and silently misses the others (self-review r13). */
  private def liveHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
  }

  private def stripTags(c: Column): Column =
    regexp_replace(c, "<[^>]*>", " ")

  private def decodeEntities(c: Column): Column = {
    // &amp; decoded LAST: single-pass entity decode must not double-decode
    // "&amp;lt;" (the escaped literal "&lt;") into "<".
    val steps = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    steps.foldLeft(c) { case (col0, (from, to)) =>
      regexp_replace(col0, java.util.regex.Pattern.quote(from), to)
    }
  }

  private def normWs(c: Column): Column =
    trim(regexp_replace(c, "[ \\t\\r\\n]+", " "))

  private def cleanLine(l: Column): Column =
    normWs(decodeEntities(stripTags(l)))

  /** The per-page extraction as a single struct Column over an `html`
    * string: `(text, n_lines_kept, n_lines_dropped)`. Dropped counts only
    * NON-BLANK lines that failed a rule — the blank lines block-tag
    * conversion manufactures are layout, not content. */
  def extractHtml(html: Column, minWords: Int = MinWords,
      maxLinkDensity: Double = MaxLinkDensity): Column = {
    require(minWords >= 1, s"minWords >= 1: $minWords")
    // Source-formatting newlines are NOT line structure: flatten all raw
    // whitespace first, so lines come only from block tags below (a wrapped
    // <p> stays one line, as any block-based extractor treats it).
    val flat = regexp_replace(liveHtml(html), "[ \\t\\r\\n]+", " ")
    val blocky = regexp_replace(flat,
      "(?i)</(p|div|li|h[1-6]|tr|td|th|table|ul|ol|section|article|header|" +
        "footer|nav|blockquote|title)>|<br[^>]*>", "\n")
    val lines = split(blocky, "\n")
    val per = transform(lines, l => {
      val txt = cleanLine(l)
      val anchorTxt = cleanLine(array_join(
        regexp_extract_all(l, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " "))
      struct(
        txt.as("txt"),
        when(txt === "", lit(0)).otherwise(size(split(txt, " ")))
          .as("words"),
        length(txt).as("chars"),
        length(anchorTxt).as("link_chars"))
    })
    val kept = filter(per, p =>
      p.getField("words") >= minWords &&
        p.getField("link_chars").cast("double") <=
          lit(maxLinkDensity) * p.getField("chars").cast("double"))
    val nonBlank = filter(per, p => p.getField("words") > 0)
    struct(
      array_join(transform(kept, _.getField("txt")), "\n").as("text"),
      size(kept).as("n_lines_kept"),
      (size(nonBlank) - size(kept)).as("n_lines_dropped"))
  }

  /** Extraction over a pages table `(doc_id, source, html)` →
    * `(doc_id, source, text, n_lines_kept, n_lines_dropped)`. */
  def extract(pages: DataFrame, minWords: Int = MinWords,
      maxLinkDensity: Double = MaxLinkDensity,
      keep: Seq[String] = Nil): DataFrame =
    pages.select(col("doc_id") +: col("source") +:
        extractHtml(col("html"), minWords, maxLinkDensity).as("ex") +:
        keep.map(col): _*)
      .select(col("doc_id") +: col("source") +: col("ex.text").as("text") +:
        col("ex.n_lines_kept").as("n_lines_kept") +:
        col("ex.n_lines_dropped").as("n_lines_dropped") +:
        keep.map(col): _*)

  /** Deterministic HTML rendering of the shared `documents` fixture — the
    * crawl-table STAND-IN (the driver testdata carries extracted text, not
    * HTML; a real deployment points [[extract]] at its crawl table and
    * skips this). Each document becomes a full page: title + style +
    * script head, a nav bar of links, the text as `<p>` paragraphs of
    * `paraWords` words, a share row, and a link-heavy footer — so the
    * extractor's rules each have a witness (title: short-line; nav/share:
    * pure link soup; footer: mixed link density; paragraphs: kept prose).
    * Pure per-row string construction, mirrored verbatim by the oracle.
    *
    * @param keep extra input columns carried through alongside
    *   `(doc_id, source, html)` — e.g. `url` when the caller pairs the
    *   page render with the URL render ([[Warc.files]]). */
  def htmlPages(docs: DataFrame, paraWords: Int = 12,
      keep: Seq[String] = Nil): DataFrame = {
    require(paraWords >= 1, s"paraWords >= 1: $paraWords")
    val words = split(col("text"), " ")
    val nPar = greatest(lit(1),
      ceil(size(words).cast("double") / paraWords).cast("int"))
    val paras = array_join(
      transform(sequence(lit(0), nPar - lit(1)), i =>
        concat(lit("<p>"),
          array_join(slice(words, i * paraWords + lit(1), lit(paraWords)), " "),
          lit("</p>"))),
      "")
    docs.select(col("doc_id") +: col("source") +: keep.map(col) :+
      concat(
        lit("<html><head><title>Document "), col("doc_id"), lit("</title>"),
        lit("<style>body { margin: 0; font: 14px sans-serif; }</style>"),
        lit("<script type=\"text/javascript\">var src = \""), col("source"),
        lit("\"; track(src);</script></head><body>"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/s/"), col("source"),
        lit("\">"), col("source"), lit("</a> <a href=\"/tags\">Tags</a></nav>"),
        lit("<div class=\"content\">"), paras, lit("</div>"),
        lit("<div class=\"share\"><a href=\"/share\">Share</a> " +
          "<a href=\"/like\">Like</a></div>"),
        lit("<footer><a href=\"/tos\">Terms of Service</a> " +
          "<a href=\"/privacy\">Privacy</a> (c) 2026 "), col("source"),
        lit("</footer></body></html>")).as("html"): _*)
  }

  /** The composed stage-zero query: render the fixture pages, extract. */
  def textExtract(docs: DataFrame): DataFrame = extract(htmlPages(docs))

  /** Outlink extraction over fetched pages `(doc_id, url, html)` — the
    * LINK-DISCOVERY surface of a crawl (the third frontier source next to
    * the known corpus and sitemap listings): every `<a href>` value,
    * resolved to an absolute fetchable URL against the page's own URL
    * ([[UrlOps.resolveUrl]] — RFC 3986 §5; fragments, mailto:/javascript:
    * and unresolvable values drop). Emits `(doc_id, url, link_raw, link)`
    * — the raw value kept for audits, the resolved `link` being what
    * [[graft.ops.Robots.crawlFrontier]] consumes. Pure per-row expression
    * work (regex extraction + expression resolution), fuses into the page
    * scan — zero shuffles; link volume is O(pages × links-per-page), the
    * same order as the extraction pass that already reads every page. */
  def outlinks(pages: DataFrame): DataFrame = {
    // dead markup first ([[liveHtml]]): an anchor inside a comment,
    // <script> (document.write soup) or <style> block is not a navigable
    // link and must not become a frontier candidate
    val live = liveHtml(col("html"))
    // quote-PAIRED extraction (a backreference, not a [\"'] class: an
    // apostrophe inside a double-quoted value must not truncate it) plus
    // the legal HTML5 unquoted form; the two matchers are disjoint — an
    // unquoted value cannot begin with a quote character. The attribute
    // name requires a DELIMITER before it ([\s"'] — whitespace or a
    // closing quote): without it an attribute merely ENDING in "href"
    // (`<a data-href="x" href="/y">`) matches on data-href, emitting the
    // spurious link x AND consuming past the real href so /y is dropped
    // (advisor r12, medium) — spec-pinned with that exact case.
    val quoted = regexp_extract_all(live,
      lit("(?is)<a\\b[^>]*?[\\s\"']href\\s*=\\s*([\"'])([\\s\\S]*?)\\1"),
      lit(2))
    val unquoted = regexp_extract_all(live,
      lit("(?is)<a\\b[^>]*?[\\s\"']href\\s*=\\s*([^\\s\"'>][^\\s>]*)"),
      lit(1))
    pages.select(col("doc_id"), col("url"),
        explode(concat(quoted, unquoted)).as("link_raw"))
      .withColumn("link",
        graft.ops.UrlOps.resolveUrl(col("url"), col("link_raw")))
      .filter(col("link").isNotNull)
  }

  /** The composed fixture query: rendered pages ([[htmlPages]], whose
    * nav/share/footer carry seven root-relative links) against their
    * rendered URLs ([[UrlOps.pageUrls]]) — each page yields its seven
    * links resolved onto its own origin. Closed-form oracle from the two
    * render recipes; the engine earns the rows through the real href
    * extraction + the general resolver. */
  def webOutlinks(docs: DataFrame): DataFrame =
    outlinks(htmlPages(graft.ops.UrlOps.pageUrls(docs), keep = Seq("url")))

  /** `rel="canonical"` extraction over fetched pages `(doc_id, url,
    * html)` — the producer's OWN statement of a page's canonical
    * location (syndicated copies, print views, faceted aliases all point
    * their `<link rel="canonical">` at the original), the dedup signal
    * URL normalization cannot derive: two spellings of one location
    * collapse by [[graft.ops.UrlOps.parseNormalize]], but a copy on a
    * DIFFERENT host only collapses through this tag. Both attribute
    * orders are matched (`rel` before `href` and after), with the same
    * delimiter-before-attribute discipline as [[outlinks]] (a
    * `data-href`/`data-rel` cannot satisfy the pattern) and quote-paired
    * values; the value resolves through the RFC 3986 resolver against
    * the fetch URL (canonical links are frequently root-relative).
    * Output `(doc_id, url, canonical)` — `canonical` null when the page
    * declares none. Pure per-row expressions; fuses into the page scan. */
  def canonicals(pages: DataFrame): DataFrame = {
    val live = liveHtml(col("html"))
    // TWO-STAGE match, tag first (self-review r13): a single regex
    // spanning from href to a later rel=canonical can BACKTRACK its
    // quoted value across tag boundaries — with a stylesheet link
    // preceding the canonical one, the value group swallowed
    // `/app.css" rel="stylesheet"><link href=` and every page with that
    // head keyed on identical garbage (false dedup merges). The tag
    // extraction's `[^>]*` cannot cross a `>`, so the href below can
    // only come from the tag that actually declares rel=canonical.
    // The unquoted rel form requires a terminating delimiter
    // (`canonical(?=[\s/>])`) — a nonstandard `rel=canonical-print`
    // must not read as a canonical declaration; the quoted form's
    // closing quote is its own boundary.
    val tag = regexp_extract(live,
      "(?is)<link\\b[^>]*[\\s\"']rel\\s*=\\s*" +
        "(?:([\"'])canonical\\1|canonical(?=[\\s/>]))[^>]*>", 0)
    val quoted = regexp_extract(tag,
      "(?is)[\\s\"']href\\s*=\\s*([\"'])([\\s\\S]*?)\\1", 2)
    val unquoted = regexp_extract(tag,
      "(?is)[\\s\"']href\\s*=\\s*([^\\s\"'>][^\\s>]*)", 1)
    val raw = coalesce(nullif(quoted, lit("")), nullif(unquoted, lit("")))
    // the canonical materializes through a one-element explode, a Generate
    // boundary Catalyst cannot push filters or collapse projections
    // across: without it the optimized plan of
    // [[graft.ops.UrlOps.webUrlCanonical]] carries 30 copies of the
    // resolution, each with the whole tag-extraction tree (570 regexp
    // calls), and its whole-stage method outgrows janino's 64 KB limit.
    // array(x) is one-element, so a page with no canonical emits its null.
    pages.select(col("doc_id"), col("url"),
        graft.ops.UrlOps.resolveUrl(col("url"), raw).as("__resolved"))
      .select(col("doc_id"), col("url"),
        explode(array(col("__resolved"))).as("canonical"))
  }
}
