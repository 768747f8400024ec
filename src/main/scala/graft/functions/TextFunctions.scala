package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a large-scale training-data pipeline:
  * tokenization, token counting, language identification (stopword
  * heuristic), quality scoring, and document fingerprinting.
  *
  * Everything is built from `org.apache.spark.sql.functions` (including
  * higher-order array functions) — codegen'd column expressions, no UDFs —
  * so the whole module rides inside WholeStageCodegen over the scan: one
  * pass over 100 TB of text, no shuffles, trivially parallel. Each
  * function has a DuckDB-equivalent formulation used by the oracle
  * (graft.queries.Extensions).
  */
object TextFunctions {

  /** Lowercased word tokens: split on non-alphanumeric runs, empties
    * dropped. The whitespace-token analogue (`\s+`) is kept for counting
    * parity with simple pipelines.
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9']+"), t => length(t) > 0)

  /** HTML → plain text for crawl-corpus extraction, as one codegen'd
    * regexp_replace chain: script/style blocks and comments drop whole,
    * every remaining tag becomes a space (tags are word boundaries:
    * `a</p><p>b` must not fuse into `ab`), the six entities that
    * dominate real text decode (`&nbsp; &lt; &gt; &quot; &#39;` first,
    * `&amp;` LAST so `&amp;lt;` decodes once, to `&lt;`), and
    * whitespace runs collapse to single spaces with ends trimmed.
    *
    * Every pattern is deliberately inside the Java∩RE2 regex subset —
    * lazy quantifiers and inline `(?is)` flags, NO backreferences (RE2
    * has none, which is why script and style get separate patterns) —
    * so the DuckDB oracle runs the character-identical chain (q113).
    * This is extraction-grade cleanup (the trafilatura/jusText
    * *fallback* path), not a DOM parser: CDATA and malformed nesting
    * degrade to their literal text rather than erroring.
    */
  def stripHtml(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val ent = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (col, (e, v)) =>
        // entity names contain no regex metacharacters — the pattern
        // stays character-identical to the oracle's (\Q..\E would not
        // parse under RE2)
        regexp_replace(col, e, v)
      }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Line-preserving HTML → text: [[stripHtml]] per input LINE, empty
    * results dropped, survivors rejoined with `\n`. [[stripHtml]]
    * collapses ALL whitespace (newlines included) — correct for
    * flat-text quality signals, but the curation chain (C4 line rules,
    * Gopher line stats) is LINE-oriented, so a raw-WARC page must keep
    * its line structure through the HTML strip. Per-line semantics:
    * multi-line constructs (a comment or script block spanning lines)
    * are NOT stripped — this targets line-structured HTML like the
    * fixture writer's (one block element per text line); full-page
    * minified HTML belongs to [[stripHtml]].
    */
  def stripHtmlLines(c: Column): Column =
    array_join(
      filter(transform(split(c, "\n"), l => stripHtml(l)), l => l =!= ""),
      "\n")

  /** Block-level MAIN-CONTENT extraction — the trafilatura/jusText
    * family reduced to integer-exact rules, as one codegen'd expression
    * chain (no DOM, no UDF): [[stripHtml]] alone keeps nav bars,
    * footers and sidebars, and line-frequency boilerplate removal only
    * catches text repeated across the corpus sample — this operator
    * judges each PAGE's blocks on their own structure.
    *
    *  1. page-level removals first (script/style/comments can span
    *     block boundaries and must not leak into blocks);
    *  2. block segmentation: every opening OR closing block-level tag
    *     (div, p, h1-6, li/ul/ol/dl, table parts, section, article,
    *     header, footer, nav, aside, main, blockquote, pre, form,
    *     figure, hr, br, html/head/body/title) becomes a U+0001 separator;
    *  3. per block: the [[stripHtml]]-normalized text and the SAME
    *     normalization of the block's anchor text — the `<a>…</a>`
    *     inner texts PLUS, when the block ends inside an anchor (an
    *     `<a …>` open whose close falls past a block boundary — `<a>`
    *     wrapping block-level children is common card/nav markup),
    *     everything after that last unclosed open (so both sides of
    *     the density ratio measure identical units);
    *  4. keep a block iff its text carries at least `minChars` chars
    *     AND `link_chars · 100 ≤ maxLinkPct · text_chars` — the link-
    *     density rule (nav/footer blocks are mostly anchor text; body
    *     prose is not). Integer comparisons only, so the DuckDB oracle
    *     replays the chain verbatim (q160).
    *
    * KNOWN LIMIT: a block sitting WHOLLY inside an anchor without any
    * `<a` marker of its own (`<a><div>card text</div></a>` — open and
    * close both land in NEIGHBORING blocks) scores lc = 0 and passes
    * as prose; judging it needs cross-block anchor-depth state, which
    * belongs to a DOM pass, not this scalar chain. The unclosed-open
    * rule above catches the `intro <a href>link text <br>` half of
    * that family, where the anchor text shares its block with the
    * open tag.
    *
    * Survivor blocks re-join with `\n` (one line per block — feeds the
    * line-oriented curation chain directly). Scale: a scalar
    * projection inside WholeStageCodegen over the scan — one pass, no
    * shuffle, no decode state.
    */
  def extractMainContent(
      html: Column, minChars: Int = 25, maxLinkPct: Int = 33): Column = {
    require(minChars >= 1, "minChars must be positive")
    require(maxLinkPct >= 0 && maxLinkPct <= 100, "maxLinkPct in [0,100]")
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val marked = regexp_replace(noComment,
      "(?is)</?(?:div|p|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
        "section|article|header|footer|nav|aside|main|blockquote|pre|form|" +
        "fieldset|figure|figcaption|hr|br|html|head|body|title)\\b[^>]*>", "\u0001")
    val blocks = split(marked, "\u0001")
    val scored = transform(blocks, b => {
      // closed anchors: each <a>...</a> inner text
      val closedJoin = array_join(
        regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a\\s*>"), lit(1)), " ")
      // unclosed trailing anchor: greedy ^.* pins the LAST <a ...> open;
      // its tail counts as anchor text ONLY if no </a> follows (an
      // RE2-portable formulation - no lookahead - so the DuckDB oracle
      // replays it verbatim)
      val rawTrail = regexp_extract(b, "(?is)^.*<a\\b[^>]*>(.*)$", 1)
      val trail = when(rawTrail.rlike("(?is)</a"), lit("")).otherwise(rawTrail)
      struct(
        stripHtml(b).as("t"),
        length(stripHtml(concat_ws(" ", closedJoin, trail))).as("lc"))
    })
    val kept = filter(scored, s =>
      length(s.getField("t")) >= minChars &&
        s.getField("lc") * 100 <= lit(maxLinkPct) * length(s.getField("t")))
    array_join(transform(kept, s => s.getField("t")), "\n")
  }

  /** Token-windowed document chunks — the training-pipeline splitter:
    * chunk i covers tokens [i·stride, i·stride + chunkTokens) where
    * stride = chunkTokens − overlap, the last chunk is length-capped,
    * and a doc with n tokens yields ⌈n/stride⌉ chunks (empty docs yield
    * none — filter `size(tokens) > 0` before exploding). Returns an
    * array of chunk strings; pair with posexplode for one row per
    * chunk. All built-ins (split/slice/transform) → codegen'd, no UDF,
    * and exactly mirrorable in SQL (list_slice + generate_series), so
    * the chunking gate is oracle-checkable.
    */
  def chunks(c: Column, chunkTokens: Int, overlap: Int): Column =
    chunksOfTokens(tokens(c), chunkTokens, overlap)

  /** Same, over an already-tokenized array column — callers that also
    * need the token array (counts, filters) tokenize once and pass it
    * here instead of paying a second split.
    */
  def chunksOfTokens(toks: Column, chunkTokens: Int, overlap: Int): Column = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val nChunks = (size(toks) + (stride - 1)).divide(stride).cast("int")
    transform(
      sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * stride + 1, lit(chunkTokens)), " "))
  }

  /** PII redaction — the pre-training scrub stage: emails, SSN-shaped
    * ids, IPv4 addresses, and long phone-like digit runs replaced by
    * typed placeholders, in a FIXED order (email first so its digits
    * can't be half-eaten by the phone rule; ids before phones for the
    * same reason). Patterns deliberately use only syntax with identical
    * semantics in Java regex and RE2 (char classes, bounded repeats,
    * `\b`, non-backreferencing groups), so the DuckDB oracle replays the
    * exact chain (q75).
    */
  val redactionPatterns: Seq[(String, String)] = Seq(
    ("""[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>"),
    ("""\b\d{3}-\d{2}-\d{4}\b""", "<ID>"),
    ("""\b(\d{1,3}\.){3}\d{1,3}\b""", "<IP>"),
    ("""\+?\d[\d -]{7,}\d""", "<PHONE>"))

  def redact(c: Column): Column =
    redactionPatterns.foldLeft(c) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }

  /** Whitespace token count (the classic pre-BPE proxy). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** Stopword sets per language for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny and public-knowledge (the most frequent
    * function words of each language).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"))

  /** All quality-scoring counts in one fused pass (struct column):
    * n_tok, n_word, n_dist, hits_en, n_alpha, n_chars. See
    * graft.plans.TextStatsExpr; identical values to the composed
    * builtins (oracle-verified).
    */
  def textStats(c: Column): Column =
    graft.plans.TextStatsExpr(c, stopwords("en"))

  /** Stopword ratio against the English set (quality signal). */
  def stopwordRatio(c: Column): Column = {
    val st = textStats(c)
    val n = st.getField("n_tok")
    when(n === 0, lit(0.0))
      .otherwise(st.getField("hits_en").cast("double") / n)
  }

  /** Language-ID heuristic: argmax over per-language stopword hits,
    * 'und' (undetermined) when no stopword of any language appears.
    * Deterministic tie-break: language order below (first max wins).
    * All five languages' hits come from ONE token-array pass with
    * hash-set membership (StopwordHits expression) — the naive
    * filter+array_contains formulation rescans the array per language
    * with linear probes (measured ~10× slower).
    */
  def langId(c: Column): Column = {
    val langs = Seq("en", "es", "fr", "de", "zh")
    val hits = graft.plans.HashExpressions.stopwordHits(
      tokens(c), langs.map(stopwords))
    val scores = langs.indices.map(i => element_at(hits, i + 1))
    val best = greatest(scores.toIndexedSeq: _*)
    langs.zip(scores).foldLeft(when(best === 0, lit("und"))) {
      case (acc, (l, sc)) => acc.when(sc === best, lit(l))
    }.otherwise(lit("und"))
  }

  /** Quality score in [0,1]: blend of length band, alpha ratio, stopword
    * presence, and type-token ratio — the standard cheap heuristics for
    * pretraining-data filtering, expressed as one codegen'd expression.
    */
  def qualityScore(c: Column): Column = {
    val st = textStats(c)
    val nTok = st.getField("n_tok").cast("double")
    val lenScore =
      when(nTok < 5, nTok / 5.0)
        .when(nTok > 1000, lit(1000.0) / nTok)
        .otherwise(lit(1.0))
    val alphaRatio =
      when(st.getField("n_chars") === 0, lit(0.0))
        .otherwise(st.getField("n_alpha").cast("double") / st.getField("n_chars"))
    val stopScore = least(stopwordRatio(c) * lit(2.5), lit(1.0))
    val distinctRatio =
      when(st.getField("n_tok") === 0, lit(0.0))
        .otherwise(st.getField("n_dist").cast("double") /
          greatest(st.getField("n_word").cast("double"), lit(1.0)))
    lenScore * 0.25 + alphaRatio * 0.25 + stopScore * 0.25 + distinctRatio * 0.25
  }

  /** URL decomposition into (scheme, host, path, query) — the
    * crawl-metadata primitive (domain quotas, path filters, tracker
    * stripping) as four `regexp_extract`s over one codegen'd projection.
    * Patterns stay inside the Java-regex ∩ RE2 common subset (character
    * classes and `*` only — no backrefs, no lookaround), and a
    * non-matching extract yields '' in Spark and DuckDB alike, so the
    * operator is oracle-hashable (same argument as [[redact]]).
    * Non-URL input decomposes to four empty strings, never an error.
    */
  /** URL canonicalization for web-corpus dedup — RFC 3986 §6
    * syntax-based normalization plus tracking-parameter stripping (the
    * cheap first-line dedup every published web pipeline runs before
    * content hashing; C4 and RefinedWeb both dedup by URL):
    *  - scheme and host lowercase (ONLY those — path/query stay
    *    case-sensitive, RFC 3986 §6.2.2.1);
    *  - default ports dropped (`:80` for http, `:443` for https);
    *  - fragment dropped (never sent to the server);
    *  - trailing slashes stripped from the path;
    *  - query params whose NAME is a known click-tracker dropped
    *    (`utm_*`, `fbclid`, `gclid`, `msclkid`, `mc_eid`, `ref`,
    *    `ref_src` — lowercase-convention names, matched
    *    case-sensitively), empty `&&` segments dropped, `?` dropped
    *    when nothing survives.
    * A value without an absolute-URL scheme passes through UNCHANGED —
    * canonicalization is defined on parseable URLs only, and a
    * passthrough keeps the operator total (the dedup treats such rows
    * as their own keys). Every pattern is in the Java∩RE2 subset
    * (inline `(?i)`, no backreferences) so the DuckDB oracle runs the
    * character-identical chain (q129).
    */
  def canonicalizeUrl(c: Column): Column = {
    val scheme = "^(?i)([a-z][a-z0-9+.-]*)://"
    val s = lower(regexp_extract(c, scheme, 1))
    val h = lower(regexp_extract(c, scheme + "([^/?#]*)", 2))
    val p = regexp_extract(c, scheme + "[^/?#]*([^?#]*)", 2)
    val q = regexp_extract(c, scheme + "[^?#]*\\?([^#]*)", 2)
    val host = when(s === "http", regexp_replace(h, ":80$", ""))
      .when(s === "https", regexp_replace(h, ":443$", ""))
      .otherwise(h)
    val path = regexp_replace(p, "/+$", "")
    val keptQ = array_join(filter(split(q, "&"), seg =>
      seg =!= "" &&
        !seg.rlike("^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref|ref_src)(=|$)")),
      "&")
    when(s === "", c).otherwise(concat(
      s, lit("://"), host, path,
      when(keptQ === "", lit("")).otherwise(concat(lit("?"), keptQ))))
  }

  def urlParts(c: Column): Column = {
    val scheme = "^([a-z][a-z0-9+.-]*)://"
    struct(
      regexp_extract(c, scheme, 1).as("scheme"),
      regexp_extract(c, scheme + "([^/?#]*)", 2).as("host"),
      regexp_extract(c, scheme + "[^/?#]*([^?#]*)", 2).as("path"),
      // anchored through the URL structure: a bare "\?([^#]*)" would
      // extract bogus "queries" from non-URL text and from '?' inside
      // fragments (RFC 3986 keeps "#frag?x" in the fragment)
      regexp_extract(c, scheme + "[^?#]*\\?([^#]*)", 2).as("query"))
  }

  /** Content fingerprint: md5 of the canonicalized token stream. Two
    * documents differing only in whitespace/punctuation/case collide —
    * the "document fingerprinting" normalization used before exact dedup.
    */
  def fingerprint(c: Column): Column =
    md5(array_join(tokens(c), " "))

  /** Character n-gram shingles of the canonicalized text (for MinHash /
    * Jaccard dedup). sequence+transform+substring — codegen'd, no UDF.
    * Guarded: text shorter than n yields an empty array (sequence() would
    * otherwise produce a DESCENDING range).
    */
  def shingles(c: Column, n: Int = 5): Column = {
    val canon = array_join(tokens(c), " ")
    val count = length(canon) - (n - 1)
    when(count < 1, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(sequence(lit(1), count), i =>
          call_function("substring", canon, i, lit(n)))))
  }

  /** Word n-grams over an already-tokenized array column. Pass a bound
    * attribute (a pre-projected `tokens(...)` alias), NOT the tokens
    * expression itself: the transform lambda references `toks` once per
    * n-gram, and Catalyst re-evaluates a non-attribute subtree at every
    * reference — wordNgrams-over-expression measured 17× slower than
    * this two-step form on the gram-index scan (10.3 s → 0.6 s for 260k
    * grams at sf0.1) because each of the ~n slices re-ran the regex
    * tokenization. A separate `.select` is enough: CollapseProject never
    * inlines a non-cheap alias referenced more than once.
    */
  def wordNgramsOfTokens(toks: Column, n: Int): Column = {
    val count = size(toks) - (n - 1)
    when(count < 1, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(sequence(lit(1), count), i =>
          array_join(slice(toks, i, lit(n)), " "))))
  }

  /** Word n-grams (for n-gram Jaccard dedup). Same empty-guard.
    * Convenience form for one-off use; hot paths should pre-project
    * `tokens(c)` and call [[wordNgramsOfTokens]] — see its scaladoc for
    * the per-reference re-evaluation trap.
    */
  def wordNgrams(c: Column, n: Int = 3): Column =
    wordNgramsOfTokens(tokens(c), n)

  /** In-engine text→dense-embedding: deterministic signed-feature-hash
    * projection of the canonical char-`n`-gram count profile into a
    * unit `array<float>` of `dim` (codegen'd —
    * [[graft.plans.TextEmbed]]). Canonicalization is the MinHash
    * convention (lowercase word tokens joined by single spaces), so
    * texts that shingle identically embed identically. The dense
    * output composes directly with the semantic family
    * ([[graft.operators.Similarity.semDeDup]],
    * `semanticDecontaminate*`, ANN) with no external model; empty
    * canonical text embeds as the zero vector (cosine-neutral by the
    * engine's zero-norm convention). Hash-based, so not
    * SQL-expressible: value-level behavior is pinned by the planted
    * spec (identical ⇒ identical, cosine monotone in shared-gram
    * fraction) and the q139 gate's closed-form composition truth.
    */
  def embedText(text: Column, dim: Int = 256, n: Int = 3): Column =
    graft.plans.HashExpressions.hashedNgramEmbedding(
      array_join(tokens(text), " "), dim, n)
}
