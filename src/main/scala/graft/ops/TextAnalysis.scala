package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: token
  * counting, quality scoring, n-gram language ID and document
  * fingerprinting.
  *
  * All operators are pure `functions._` column expressions — fully
  * codegen'd, no UDFs — so they stream through whole-stage codegen on
  * a 100 TB corpus with zero driver involvement.
  */
object TextAnalysis {

  /** Whitespace/punctuation tokenization, lowercase. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Default PII masking set: (pattern, replacement), applied in
    * order. Patterns stay inside the Java∩RE2 regex subset so the
    * same strings run in Spark and in DuckDB-dialect oracles.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "https?://[^\\s]+"                                -> "[URL]",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "[IP]",
    "\\+?\\d[\\d\\-() ]{7,}\\d"                       -> "[PHONE]")

  /** Redact every (global) match of each pattern in order — a chained
    * `regexp_replace`, fully codegen'd, so scrubbing a 100 TB corpus
    * is one map-side scan with no shuffle. Later patterns see earlier
    * replacements (so e.g. an [EMAIL] mask is not re-matched as a
    * phone number — order the set accordingly).
    */
  def redact(text: Column, patterns: Seq[(String, String)] = PiiPatterns): Column =
    patterns.foldLeft(text) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }

  /** Count of (non-overlapping, global) matches of `pattern`. */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: words + extra units for long
    * words (a word of length L costs ceil(L/4) units — the common
    * ~4-chars-per-token heuristic).
    */
  def subwordCountEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / lit(4.0)).cast("long"))

  /** Small built-in stopword lexicons for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "dans", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "en"))

  def stopwordHits(text: Column, lang: String): Column = {
    val set = stopwords(lang)
    size(filter(tokens(text), t => t.isInCollection(set)))
  }

  /** Language-ID heuristic: argmax of stopword hit counts, ties broken
    * lexicographically, "und" (undetermined) when nothing matches.
    * Runs as the native `LangIdExpr` kernel (one tokenization pass +
    * lexicon lookups) — the declarative `greatest(struct(hits, lang))`
    * form evaluates an interpreted filter/size HOF chain per language
    * per row; TextPropertySpec pins the two bit-identical.
    */
  def langId(text: Column): Column =
    graft.functions.TextExpressions.lang_id(text, stopwords.toSeq)

  /** The declarative formulation langId replaced — kept as the parity
    * reference for the property suite.
    */
  private[graft] def langIdDeclarative(text: Column): Column = {
    val scored = stopwords.keys.toSeq.sorted.map { l =>
      struct(stopwordHits(text, l).as("hits"), lit(l).as("lang"))
    }
    val best = greatest(scored: _*) // struct compare: hits first, then lang
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality metrics bundle (length / punctuation / stopword /
    * repetition ratios — the standard pre-training filters).
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    Seq(
      "q_chars" -> length(text).cast("long"),
      "q_tokens" -> size(toks).cast("long"),
      "q_avg_token_len" -> (length(text).cast("double") / greatest(n, lit(1.0))),
      "q_stopword_ratio" -> (size(filter(toks, t => t.isInCollection(stopwords("en")))).cast("double")
        / greatest(n, lit(1.0))),
      "q_distinct_ratio" -> (size(array_distinct(toks)).cast("double") / greatest(n, lit(1.0))),
      "q_punct_ratio" -> (length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double")
        / greatest(length(text).cast("double"), lit(1.0))))
  }

  /** Gopher-style repetition statistics as one struct column —
    * struct(n_tokens, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
    * top_word_frac) — the standard duplicate-content quality filters
    * (a high duplicate-n-gram fraction marks boilerplate / SEO spam /
    * crawler loops). Computed by the fused native
    * `RepetitionStatsExpr` kernel: one O(tokens) pass with hashmap
    * counts, map-side only, no shuffle — the declarative form below
    * is O(tokens²) per document on the top-word multiplicity scan.
    */
  def repetitionStats(text: Column): Column =
    graft.functions.TextExpressions.repetition_stats(text)

  /** The declarative formulation repetitionStats replaced — kept as
    * the parity reference for the property suite. O(n²) per row on
    * the multiplicity scan; never use on real data.
    */
  private[graft] def repetitionStatsDeclarative(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    def grams(k: Int): Column =
      when(n >= k,
        transform(sequence(lit(0), n - lit(k)),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
        .otherwise(array().cast("array<string>"))
    def dupFrac(g: Column): Column = {
      val tot = size(g)
      when(tot > 0, (tot - size(array_distinct(g))).cast("double") / tot.cast("double"))
        .otherwise(lit(0.0))
    }
    val top = when(n > 0,
      array_max(transform(array_distinct(toks),
        t => size(filter(toks, x => x === t)))).cast("double") / n.cast("double"))
      .otherwise(lit(0.0))
    struct(
      n.cast("long").as("n_tokens"),
      ((n - size(array_distinct(toks))).cast("double")
        / greatest(n, lit(1)).cast("double")).as("dup_word_frac"),
      dupFrac(grams(2)).as("dup_2gram_frac"),
      dupFrac(grams(3)).as("dup_3gram_frac"),
      top.as("top_word_frac"))
  }

  /** Canonical-form fingerprint: md5 over lowercased text with
    * non-alphanumerics collapsed to single spaces — catches
    * whitespace/punctuation-variant duplicates.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** MOSS-style winnowing fingerprints (rolling-hash document
    * fingerprinting): character `k`-grams over the canonical form,
    * each hashed to a fixed-width md5 hex prefix, minimum per sliding
    * window of `w` hashes, distinct + sorted. Robust to local edits —
    * two documents sharing any k-gram run of length ≥ k+w−1 share a
    * fingerprint — which is what plagiarism/near-dup detection at
    * corpus scale selects on.
    *
    * Runs as the native `WinnowHashes` kernel (one pass, thread-local
    * md5, monotonic-deque window minima) — the declarative
    * transform/substring formulation is O(L²) per document because
    * `substring` positions by re-scanning. Hashes stay 15-hex-char
    * STRINGS — lexicographic min equals numeric min at fixed width,
    * and both engines derive identical md5 hex, so results are
    * oracle-portable (same trick as the MinHash family).
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.TextExpressions.winnow_hashes(text, k, w)

  /** Full token/quality stats as one struct column, computed by the
    * fused native `TokenStatsExpr` kernel (one pass; the declarative
    * `qualityColumns` bundle re-walks the token HOF chain per metric).
    * Fields: n_tokens, n_subwords_est, q_chars, q_avg_token_len,
    * q_stopword_ratio, q_distinct_ratio, q_punct_ratio.
    */
  def tokenStats(text: Column): Column =
    graft.functions.TextExpressions.token_stats(text, stopwords("en"))

  // ── HTML / markup boilerplate extraction ───────────────────────────

  /** REAL HTML → text extraction (the CCNet/RefinedWeb-style front
    * door every web-scale pipeline runs before anything else here):
    * struct(text, link_nonws, total_nonws) from ONE pass of the
    * native kernel — script/style/comment removal, block-element line
    * breaks, entity decode, whitespace normalization, and the
    * anchor-text counters the link-density screen needs. Semantics
    * contract in [[graft.functions.TextExpressions.extractHtmlText]];
    * pinned against [[extractHtmlDeclarative]] by property fuzz and
    * against DuckDB by the `text_extract_html` oracle row.
    */
  def htmlExtract(html: Column): Column =
    graft.functions.TextExpressions.html_extract(html)

  /** Just the extracted text. */
  def extractHtml(html: Column): Column =
    htmlExtract(html).getField("text")

  /** The markup-quality screen over a raw-HTML corpus: per document,
    * the extracted text plus the Gopher-style boilerplate signals —
    * `html_n_lines`, `html_text_share` (extracted chars / markup
    * chars: near-zero = script/nav shells) and `html_link_density`
    * (anchor-text share of the visible text: high = link farms and
    * navigation pages). One kernel pass per row, map-only, no
    * shuffle; filter on the signal columns and feed `html_text`
    * onward as the corpus text. `carry` names extra input columns to
    * pass through unchanged (the composed ingest pipeline carries its
    * source key and url this way instead of re-joining the shard to
    * itself).
    */
  def extractHtmlTable(df: DataFrame, idCol: String, htmlCol: String,
                       carry: Seq[String] = Nil): DataFrame = {
    // two-step select: CollapseProject keeps the non-cheap kernel
    // struct single-evaluation (the tokenStats convention). NULL html
    // coalesces to '' BEFORE the kernel (the lineRows convention) —
    // the kernel expression is null-intolerant, and a NULL html_text /
    // html_n_lines next to 0.0 share/density columns would be an
    // internally inconsistent row; the degenerate row is ('',0,0,0).
    val html = coalesce(col(htmlCol), lit(""))
    val carried = carry.map(col)
    df.select(Seq(col(idCol).as("doc_id"), htmlExtract(html).as("_h"),
        length(html).cast("double").as("_raw")) ++ carried: _*)
      .select(Seq(col("doc_id"),
        col("_h.text").as("html_text"),
        when(col("_h.text") === "", lit(0L))
          .otherwise(size(split(col("_h.text"), "\n", -1)).cast("long"))
          .as("html_n_lines"),
        when(col("_raw") > 0.0, length(col("_h.text")).cast("double") / col("_raw"))
          .otherwise(lit(0.0)).as("html_text_share"),
        when(col("_h.total_nonws") > 0,
          col("_h.link_nonws").cast("double") / col("_h.total_nonws").cast("double"))
          .otherwise(lit(0.0)).as("html_link_density")) ++ carried: _*)
  }

  /** Declarative parity reference for the HTML kernel — the same
    * contract as a regexp-replace chain (script/style/comment → ' ',
    * block tags → a \\u0001 sentinel, other tags → ' ', entity decode
    * with &amp; LAST, per-block whitespace collapse/trim/drop/join).
    * Property-fuzzed equal to the kernel's text output
    * (HtmlExtractSpec); numeric-entity decode here covers the ASCII
    * range (`char()` semantics) — the kernel handles the full BMP. A
    * replace CHAIN double-decodes pathological sequences the single
    * pass treats as text (e.g. `&am&#112;;`), so the fuzz domain
    * generates '&' only inside well-formed entities — the kernel is
    * the contract, this form is its executable spec and the shape of
    * the DuckDB oracle replay.
    */
  private[graft] def extractHtmlDeclarative(html: Column): Column = {
    val ws = "[ \\t\\n\\r\\f]"
    val s1 = regexp_replace(html, s"(?is)<script\\b[^>]*>.*?</script$ws*>", " ")
    val s2 = regexp_replace(s1, s"(?is)<style\\b[^>]*>.*?</style$ws*>", " ")
    val s3 = regexp_replace(s2, "(?s)<!--.*?-->", " ")
    val alt = graft.functions.TextExpressions.BlockTags.toSeq.sorted.mkString("|")
    val s4 = regexp_replace(s3, s"(?i)</?(?:$alt)\\b[^>]*>", "\u0001")
    val s5 = regexp_replace(s4, "<[^>]*>", " ")
    val e1 = regexp_replace(s5, "&lt;", "<")
    val e2 = regexp_replace(e1, "&gt;", ">")
    val e3 = regexp_replace(e2, "&quot;", "\"")
    val e4 = regexp_replace(e3, "&apos;", "'")
    val e5 = regexp_replace(e4, "&nbsp;", " ")
    val dec = transform(split(e5, "(?=&#)", -1), p => {
      val d = regexp_extract(p, "^&#([0-9]{1,3});", 1)
      val x = regexp_extract(p, "^&#[xX]([0-9a-fA-F]{1,2});", 1)
      when(d =!= "", concat(call_function("char", d.cast("int")),
          regexp_replace(p, "^&#[0-9]{1,3};", "")))
        .when(x =!= "", concat(call_function("char", conv(x, 16, 10).cast("int")),
          regexp_replace(p, "^&#[xX][0-9a-fA-F]{1,2};", "")))
        .otherwise(p)
    })
    val e6 = regexp_replace(array_join(dec, ""), "&amp;", "&")
    val cleaned = transform(split(e6, "\u0001", -1), b =>
      trim(regexp_replace(b, s"$ws+", " ")))
    array_join(filter(cleaned, b => b =!= ""), "\n")
  }

  // ── URL parsing / normalization / domain screen ─────────────────────

  /** Second-level registry labels for the registrable-domain
    * heuristic (`foo.co.uk` → `co.uk` is the registry, the domain is
    * the last THREE labels). A production deployment feeds the full
    * public-suffix list as a data file; this built-in set covers the
    * dominant two-level registries and the contract is identical —
    * only the lookup table grows.
    */
  private[graft] val SecondLevelRegistries: Set[String] =
    Set("co", "com", "org", "net", "ac", "gov", "edu")

  /** Tracking query parameters stripped by [[urlTable]]'s
    * normalization (the CCNet/RefinedWeb-style URL canonicalization
    * ahead of URL-level dedup): `utm_*` plus the common click ids.
    * Deliberately NOT `ref` — on many hosts it selects content (e.g.
    * a branch or referrer-routed page), so stripping it would merge
    * legitimately distinct URLs into one `norm_url` and URL-level
    * exact dedup would drop distinct pages. `\z` (not `$`): Java
    * regex `$` also matches before a trailing newline where RE2's
    * does not, so a param value ending in '\n' would strip in Spark
    * but survive in the DuckDB replay; `\z` means end-of-text in
    * BOTH engines.
    */
  private[graft] val TrackingParamPattern: String =
    "^(utm_[a-zA-Z0-9_]*|gclid|fbclid|msclkid)(=.*)?\\z"

  /** URL parse + normalize + domain screen — the other half of the
    * web-pipeline front door next to [[extractHtmlTable]]: URL-level
    * exact dedup needs a canonical form (tracking params and
    * fragments differ per crawl), domain-level caps and blocklists
    * need a registrable domain, and link-farm screens need path/query
    * shape. One row per input row, map-only, every derivation a
    * codegen'd regexp/array expression (no kernel needed — unlike the
    * HTML walk, URL grammar is regular), each replayed verbatim by
    * the DuckDB oracle (`text_url_parse`).
    *
    * Contract (documented, deliberately simple):
    *   - a row PARSES iff it starts `scheme://` (RFC-3986 scheme
    *     grammar); non-parsing rows keep the url and get '' strings /
    *     0 counts — never NULL next to 0 (the [[extractHtmlTable]]
    *     consistency rule).
    *   - `host` lowercases; userinfo (`user:pw@`) and port split off.
    *     Bracketed IPv6 hosts are out of contract (parsed as-is up to
    *     the first ':').
    *   - `domain` is the registrable-domain heuristic: last two
    *     labels, or last three when the second-to-last is a
    *     [[SecondLevelRegistries]] label; all-numeric (IPv4) hosts
    *     are their own domain; single-label hosts pass through.
    *     `publicSuffixes` replaces the heuristic with a DATA-DRIVEN
    *     public-suffix list (the production path — feed the real PSL):
    *     the registrable domain is the longest listed suffix plus one
    *     more label, exact suffixes only (PSL wildcard/exception rules
    *     are out of contract), a host that IS a listed suffix (or
    *     shorter) passes through, and the IPv4 rule still wins first.
    *     The set is inlined into the same codegen'd expression path
    *     (an `InSet` hash probe per candidate depth — a 10k-entry PSL
    *     is a broadcast-sized literal, not a join).
    *   - `path_depth` counts non-empty path segments; `n_params`
    *     counts query params surviving the tracking strip.
    *   - `norm_url` = scheme://host[:port if non-default]/path with
    *     kept params, fragment dropped, empty path → '/'. http:80 and
    *     https:443 are default ports.
    */
  def urlTable(df: DataFrame, idCol: String, urlCol: String,
               publicSuffixes: Option[Set[String]] = None): DataFrame = {
    val url = coalesce(col(urlCol), lit(""))
    val p = urlParts(url, publicSuffixes)
    df.select(col(idCol).as("doc_id"), url.as("url"),
      p.scheme.as("scheme"),
      when(p.parsed, p.host).otherwise(lit("")).as("host"),
      when(p.parsed, p.domain).otherwise(lit("")).as("domain"),
      when(p.parsed, p.port).otherwise(lit("")).as("port"),
      when(p.parsed, p.pathDepth).otherwise(lit(0L)).as("path_depth"),
      when(p.parsed, p.nParams).otherwise(lit(0L)).as("n_params"),
      when(p.parsed, p.normUrl).otherwise(lit("")).as("norm_url"))
  }

  /** The [[urlTable]] derivations as raw columns over a url
    * expression — the composed ingest pipeline attaches `norm_url` /
    * `domain` map-side with these instead of re-joining a full
    * urlTable projection back to the shard. `parsed` gates the
    * others exactly as the table form does.
    */
  private[graft] final case class UrlParts(
      scheme: Column, host: Column, domain: Column, port: Column,
      pathDepth: Column, nParams: Column, normUrl: Column, parsed: Column)

  private[graft] def urlParts(url: Column,
                              publicSuffixes: Option[Set[String]] = None): UrlParts = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    // \z anchors throughout (see TrackingParamPattern): identical
    // end-of-TEXT semantics in Java regex and DuckDB's RE2
    val hostport = regexp_extract(auth, "([^@]*)\\z", 1)
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)\\z", 1)
    val path = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(url, "^[^?#]*\\?([^#]*)", 1)
    val labels = split(host, "\\.")
    val n = size(labels)
    // last k labels of the host, joined — the candidate suffix/domain
    // strings the registrable-domain rules probe
    def lastK(k: Int): Column =
      concat_ws(".", (k to 1 by -1).map(i => element_at(labels, -i)): _*)
    val domain = publicSuffixes match {
      case None =>
        when(host.rlike("^[0-9.]+\\z") || n <= 2, host)
          .when(element_at(labels, -2).isin(SecondLevelRegistries.toSeq: _*),
            concat_ws(".", element_at(labels, -3), element_at(labels, -2),
              element_at(labels, -1)))
          .otherwise(concat_ws(".", element_at(labels, -2), element_at(labels, -1)))
      case Some(sfx) =>
        // longest-match first: for each suffix depth present in the
        // list (deepest first), if the host's last d labels are a
        // listed suffix AND at least one more label exists, the
        // registrable domain is the last d+1 labels. One InSet hash
        // probe per depth; depths beyond the host's label count are
        // guarded out (their lastK would be a shorter join).
        val byDepth = sfx.groupBy(_.count(_ == '.') + 1).toSeq.sortBy(-_._1)
        val ipv4First = when(host.rlike("^[0-9.]+\\z"), host)
        // PSL default rule: an unlisted TLD is itself a suffix, so an
        // unmatched multi-label host registers at its last two labels
        byDepth.foldLeft(ipv4First) { case (acc, (d, set)) =>
          acc.when(n > d && lastK(d).isin(set.toSeq: _*), lastK(d + 1))
        }.when(n >= 2, lastK(2)).otherwise(host)
    }
    val kept = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamPattern))
    val defaultPort = (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443")
    val normUrl = concat(
      scheme, lit("://"), host,
      when(port === "" || defaultPort, lit("")).otherwise(concat(lit(":"), port)),
      when(path === "", lit("/")).otherwise(path),
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
    val parsed = scheme =!= ""
    UrlParts(scheme, host, domain, port,
      size(filter(split(path, "/"), s => s =!= "")).cast("long"),
      size(kept).cast("long"), normUrl, parsed)
  }

  // ── WARC container ingestion ────────────────────────────────────────

  /** Split WARC containers into the `documents` shape — the step
    * BEFORE [[extractHtmlTable]] on a CommonCrawl-style corpus, where
    * a "row" arriving from storage is a multi-record container file,
    * not a document. One kernel pass per container
    * ([[graft.functions.WarcExpressions]]: header parse +
    * Content-Length payload slice + resync on malformed lengths),
    * then a `posexplode` fan-out; map-only, no shuffle. Output one
    * row per record: (doc_id = container id, rec_idx, warc_type,
    * target_uri, record_id, content_length, text = payload,
    * truncated) — `target_uri` feeds [[urlTable]]'s front door and
    * `text` feeds extraction/quality exactly like a pre-split corpus.
    * Containers with no records yield no rows.
    */
  def warcRecordsTable(df: DataFrame, idCol: String, warcCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.WarcExpressions.warc_records(
          coalesce(col(warcCol), lit("")))).as(Seq("rec_idx", "_r")))
      .select(col("doc_id"), col("rec_idx").cast("long").as("rec_idx"),
        col("_r.warc_type").as("warc_type"),
        col("_r.target_uri").as("target_uri"),
        col("_r.record_id").as("record_id"),
        col("_r.content_length").as("content_length"),
        col("_r.payload").as("text"),
        col("_r.truncated").as("truncated"))

  /** Load a public-suffix list from a data table (one suffix per row
    * — e.g. the real PSL parsed into parquet) into the set
    * [[urlTable]]'s data-driven domain rule consumes. Normalizes to
    * lowercase, drops comment (`//`), wildcard (`*.`) and exception
    * (`!`) lines — [[urlTable]]'s contract is exact suffixes only.
    *
    * Driver collect BOUNDED by the public-suffix list's size (~10k
    * entries — a registry, not a corpus); it becomes literal InSet
    * probes in the parse expression, never a join.
    */
  def publicSuffixSet(df: DataFrame, suffixCol: String = "suffix"): Set[String] =
    df.select(lower(trim(col(suffixCol))).as("s"))
      .where(col("s") =!= "" && !col("s").startsWith("//") &&
        !col("s").startsWith("!") && !col("s").contains("*"))
      .distinct()
      .collect().map(_.getString(0)).toSet

  /** TF-IDF top-k characteristic terms per document — the standard
    * corpus-keyword extraction a curation pipeline uses for topic
    * labeling, cluster naming and near-duplicate triage.
    *
    * Scale shape: term frequencies aggregate on (doc, term) with
    * map-side combine; document frequencies aggregate the tf table on
    * term (far smaller — one row per distinct (doc, term)); the idf
    * join is a plain equi-join on term (AQE broadcasts the df side
    * when the vocabulary is small); the corpus size attaches as a
    * broadcast single-row crossJoin; the final top-k is one
    * row_number window per doc. Nothing touches the driver.
    *
    * Float parity: idf = ln((1+N)/(1+df)) + 1 (smoothed), score =
    * tf·idf ROUNDed to 6 digits, and the window orders by the ROUNDED
    * score (term as tiebreak) so a last-ulp `ln` divergence between
    * engines cannot flip a rank.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, minTermLen: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread the doc rows before the token explode (single-file
    // inputs would otherwise serialize it; see dsirLogWeights);
    // guarded: an already-wide scan passes through untouched
    val toks = Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .where(length(col("term")) >= minTermLen)
    // the eager localCheckpoint is the MATERIALIZATION POINT: the tf
    // aggregate needs no exchange of its own (its input is already
    // clustered by doc_id), so there is no shuffle boundary for
    // ReuseExchange and the df branch + the probe side would each
    // re-run the tokenize+explode subtree from the parquet scan — at
    // sf0.1 that recompute, not data volume, dominated the query. The
    // checkpoint stores exactly what a shuffle would have
    // materialized (the per-doc class table, spilling to disk), and
    // LogicalRDD keeps the doc_id partitioning so the rank window
    // runs exchange-free on the reused output.
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + lit(1.0)), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rank").cast("long").as("rank"))
  }

  /** CCNet-style unigram language-model quality score: train an
    * add-one-smoothed unigram LM on the corpus itself and score each
    * document by its average negative log-likelihood (nats/token) and
    * perplexity. Low-ppl documents look like the corpus; high-ppl
    * outliers are the gibberish/boilerplate a curation pipeline
    * filters out (in CCNet the LM is trained on a trusted corpus —
    * here the corpus is its own model, the self-scoring variant).
    *
    * Scale shape: one explode → (doc, term) groupBy with map-side
    * combine; the vocabulary aggregates that table on term (small);
    * the count join is a term equi-join (AQE broadcasts the vocab);
    * corpus totals attach as a 1-row broadcast; the final per-doc
    * reduce is one hash aggregate. No driver involvement, no window.
    *
    * Float parity: p(t) = (cnt+1)/(T+V) is the same rational on both
    * engines; each doc×term contribution tf·ln(p) is ROUNDed to 12 dp
    * and summed as DECIMAL(38,15) — exact, order-independent — so
    * Spark's partial-aggregation order cannot change the sum; the
    * single final cast to double rounds avg_nll and ppl to 6 dp.
    */
  def lmPerplexity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spread the doc rows before the token explode (single-file
    // inputs would otherwise serialize it; see dsirLogWeights);
    // guarded: an already-wide scan passes through untouched
    val toks = Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
    // materialization point (see tfIdfTopTerms): vocab and the probe
    // side reuse one stored class table instead of each re-running
    // the explode; the preserved doc_id partitioning makes the
    // terminal per-doc aggregate exchange-free
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val vocab = tf.groupBy("term").agg(sum("tf").as("cnt"))
    val totals = vocab.agg(sum("cnt").as("t_total"), count(lit(1)).as("v_size"))
    val contrib = tf.join(vocab, "term")
      .crossJoin(broadcast(totals))
      .withColumn("lp",
        round(col("tf") * log((col("cnt") + lit(1.0)) / (col("t_total") + col("v_size"))), 12)
          .cast("decimal(38,15)"))
    val nll = -col("slp").cast("double") / col("n_tokens")
    contrib.groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_tokens"),
        round(nll, 6).as("avg_nll"),
        round(exp(nll), 6).as("ppl"))
  }

  /** Bigram interpolated LM perplexity — the stronger form of
    * [[lmPerplexity]]: each token after the first scores
    * p = λ·c(prev,w)/c(prev·) + (1−λ)·(c(w)+1)/(T+V) (bigram MLE
    * interpolated with the add-one unigram; first tokens score the
    * unigram alone). Context counts come from the bigram table
    * (exact MLE denominators), so probabilities per context sum to 1.
    *
    * Scale shape: one explode of (term, prev) pairs — `prev` comes
    * straight from the token ARRAY (`t[i-1]`, null at i=0), so no
    * per-doc sort/window ever runs; token classes group to
    * (doc, prev, term) multiplicities BEFORE the model joins, so the
    * unigram/bigram joins shuffle class rows, not token rows. The
    * class table materializes through one doc_id-keyed exchange that
    * every model branch reuses (see tfIdfTopTerms), and the context
    * denominator rides on the bigram table as a window over `prev`
    * (partitions bounded by the per-context vocabulary) instead of a
    * third aggregate+join. The bigram table can be huge at corpus
    * scale — its join is a plain (prev, term) shuffle equi-join, AQE
    * broadcasts when small. Same decimal-exact summation contract as
    * [[lmPerplexity]].
    *
    * Measured and rejected (round 11): folding uni+bi into ONE
    * (prev, term) class pass (null prev kept, ln p precomputed, one
    * null-safe probe join) is slower at sf0.1 AND sf1 — the uni/bi
    * aggregates here are independent stages over one checkpoint, so
    * the scheduler runs them CONCURRENTLY and the "extra" pass is
    * free on idle cores, while the fold serializes through a second
    * eager checkpoint barrier. See BASELINE.md round-11 adjudications.
    */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                       lambda: Double = 0.75): DataFrame =
    bigramPerplexityFrom(bigramClassTable(df, idCol, textCol), lambda)

  /** The pinned (doc_id, prev, term, m) bigram CLASS table both
    * bigram scorers consume — token classes grouped to per-doc
    * multiplicities so every model join shuffles class rows, not
    * token rows. `prev` comes straight from the token ARRAY
    * (`t[i-1]`, null at i=0), so no per-doc sort/window ever runs;
    * the eager localCheckpoint is the materialization point (see
    * tfIdfTopTerms) every model branch and the probe side reuse, and
    * the preserved doc_id partitioning makes the scorers' terminal
    * per-doc aggregate exchange-free. A composed corpus-quality pass
    * that runs [[bigramPerplexityFrom]] AND [[knBigramPerplexityFrom]]
    * builds this ONCE and pays the corpus class pass once (spec-proven
    * equal to the standalone scorers in OpsSpec).
    */
  def bigramClassTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val seq = Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), explode(transform(col("_toks"),
        (x, i) => struct(x.as("term"),
          get(col("_toks"), i - lit(1)).as("prev")))).as("_p"))
      .select(col("doc_id"), col("_p.term").as("term"), col("_p.prev").as("prev"))
    // every model table derives from the ONE (doc, prev, term)
    // aggregate — deriving them from `seq` directly would re-execute
    // the explode chain once per branch (the DSIR lesson)
    seq.groupBy("doc_id", "prev", "term").agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
  }

  /** [[bigramPerplexity]] over a pre-built [[bigramClassTable]]. */
  def bigramPerplexityFrom(classTable: DataFrame,
                           lambda: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = classTable
    val uni = grp.groupBy("term").agg(sum("m").as("cw"))
    val bi = grp.where(col("prev").isNotNull)
      .groupBy("prev", "term").agg(sum("m").as("cb"))
      .withColumn("cctx", sum("cb").over(Window.partitionBy("prev")))
    val totals = uni.agg(sum("cw").as("t_total"), count(lit(1)).as("v_size"))
    val puni = (col("cw") + lit(1.0)) / (col("t_total") + col("v_size"))
    val p = when(col("prev").isNull, puni)
      .otherwise(lit(lambda) * (col("cb").cast("double") / col("cctx").cast("double"))
               + lit(1.0 - lambda) * puni)
    val contrib = grp
      .join(uni, "term")
      .join(bi, Seq("prev", "term"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lp", round(col("m") * log(p), 12).cast("decimal(38,15)"))
    val nll = -col("slp").cast("double") / col("n_tokens")
    contrib.groupBy("doc_id")
      .agg(sum(col("m")).as("n_tokens"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_tokens"),
        round(nll, 6).as("avg_nll"),
        round(exp(nll), 6).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995;
    * the interpolated form of Chen & Goodman 1998) — the benchmark
    * n-gram smoothing, scoring each token after the first with
    *
    *   p(w|v) = max(c(v,w)−D, 0)/c(v·) + D·N1+(v·)/c(v·) · p_cont(w)
    *   p_cont(w) = N1+(·w) / N1+(··)
    *
    * where N1+(v·) is the number of distinct continuations of v,
    * N1+(·w) the number of distinct left contexts of w, and N1+(··)
    * the number of distinct bigram types. Continuation probability —
    * "how many contexts has this word followed?" — is what makes KN
    * the standard over raw interpolation ("Francisco" is frequent but
    * follows only "San"). First tokens score the add-one-smoothed
    * continuation distribution (N1+(·w)+1)/(N1+(··)+V) so a word seen
    * only document-initially (no bigram, N1+(·w)=0) keeps finite mass.
    *
    * Scale shape: one (doc, prev, term) class checkpoint (shared
    * with [[bigramPerplexity]] via [[bigramClassTable]]), then ONE
    * corpus-class-scale aggregate to the bigram-type table — which
    * is itself PINNED, because unlike the interpolated scorer every
    * downstream model table here (c(v·)/N1+(v·) by prev, N1+(·w) by
    * term, N1+(··), and the probe join) consumes the bigram-type
    * table: four consumers re-instantiating a corpus-class-scale
    * aggregate cost ~1 s at sf0.1 (round-12 StageProfile: stages
    * 49/50/51/72, 437–529 ms each), while the pin makes them
    * aggregates of a vocab²-bounded table. The vocabulary size for
    * the first-token distribution likewise avoids a corpus-class
    * `countDistinct`: every term either follows something (it is in
    * the bigram table's term column) or occurs only doc-initially
    * (a prev-null class row, ≤ #docs of those), so V = distinct over
    * those two bounded slices. The probe is class-row joins AQE
    * broadcasts when small. Scoring the training corpus itself means
    * every scored bigram exists, so the max(·,0) clamp never binds
    * (kept for the general contract). Same decimal-exact summation
    * as [[lmPerplexity]]; D = 0.75 is binary-exact.
    */
  def knBigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                         discount: Double = 0.75): DataFrame =
    knBigramPerplexityFrom(bigramClassTable(df, idCol, textCol), discount)

  /** [[knBigramPerplexity]] over a pre-built [[bigramClassTable]]. */
  def knBigramPerplexityFrom(classTable: DataFrame,
                             discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1): $discount")
    val grp = classTable
    // the one corpus-class-scale pass: distinct (prev, term) bigram
    // types with total counts — pinned, because all model branches
    // AND the probe join consume it (see scaladoc). c(v·) and
    // N1+(v·) ride as window sums over this bounded table (partitions
    // = per-context vocabulary), exactly bigramPerplexity's committed
    // cctx shape — one fewer aggregate+join in the probe
    val biTypes = grp.where(col("prev").isNotNull)
      .groupBy("prev", "term").agg(sum("m").as("cb"))
      .localCheckpoint(true)
    val wPrev = org.apache.spark.sql.expressions.Window.partitionBy("prev")
    val bi = biTypes
      .withColumn("cv", sum("cb").over(wPrev))
      .withColumn("n1v", count(lit(1)).over(wPrev))
    val cw = biTypes.groupBy("term").agg(count(lit(1)).as("n1w"))
    // V over two bounded slices: terms with a left context (cw) plus
    // terms seen only doc-initially (prev-null class rows, ≤ #docs)
    val vsz = cw.select(col("term"))
      .union(grp.where(col("prev").isNull).select(col("term")))
      .agg(countDistinct(col("term")).as("vsz"))
    // two 1-row aggregates collapse through the pmiCollocations
    // template so the broadcast attach stays gate-provably one row
    val totals = broadcast(
      biTypes.agg(count(lit(1)).as("nbt"))
        .crossJoin(vsz)
        .agg(first(col("nbt")).as("nbt"), first(col("vsz")).as("vsz")))
    val d = lit(discount)
    val pcont = col("n1w").cast("double") / col("nbt").cast("double")
    val p = when(col("prev").isNull,
        (coalesce(col("n1w"), lit(0L)).cast("double") + lit(1.0)) /
          (col("nbt") + col("vsz")).cast("double"))
      .otherwise(
        greatest(col("cb").cast("double") - d, lit(0.0)) / col("cv").cast("double")
          + d * col("n1v").cast("double") / col("cv").cast("double") * pcont)
    val contrib = grp
      .join(bi, Seq("prev", "term"), "left")
      .join(cw, Seq("term"), "left")
      .crossJoin(totals)
      .withColumn("lp", round(col("m") * log(p), 12).cast("decimal(38,15)"))
    val nll = -col("slp").cast("double") / col("n_tokens")
    contrib.groupBy("doc_id")
      .agg(sum(col("m")).as("n_tokens"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_tokens"),
        round(nll, 6).as("avg_nll"),
        round(exp(nll), 6).as("ppl"))
  }

  /** DSIR-style importance weights for data selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): hash each document's unigrams+bigrams into B
    * buckets, fit add-one-smoothed bucket distributions on a target
    * corpus and on the raw corpus, and score every raw document by
    * its log importance weight Σ_b n_doc[b]·(ln p_target[b] − ln
    * p_raw[b]). Sampling raw docs ∝ exp(log_weight) reshapes the raw
    * corpus toward the target domain.
    *
    * Scale shape: each corpus is scanned exactly once — gram explode
    * → (doc, bucket) counts with map-side combine; the raw bucket
    * table derives from those counts (its exchange is reused, no
    * second pass), full-outer-merges with the target's (both ≤B
    * rows), and the corpus totals ride along as window sums over that
    * merged ≤B-row table (the single-partition window is bounded by
    * B, not by the corpus). One broadcast of the merged stats feeds
    * the per-doc join; the per-doc reduce is one hash aggregate;
    * nothing touches the driver.
    *
    * Float parity: buckets are md5-derived (engine-portable); each
    * doc×bucket contribution is ROUNDed to 12 dp and summed as
    * DECIMAL(38,15) — exact and order-independent — with a single
    * final 6-dp round.
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
                     textCol: String, buckets: Int = 1024): DataFrame = {
    // unigram+bigram 60-bit md5-prefix hashes via the one-pass
    // ShingleHashes kernel (== conv(substring(md5(gram),1,15),16,10),
    // the engine-portable bucket hash — flatten, NOT functions.concat,
    // which resolves by name through the session registry where the
    // DuckDB shim's string concat replaces it). The declarative
    // zip_with/slice + md5/substring/conv formulation re-walked the
    // token HOF chain per reference and tripled this query's CPU.
    // The rlike guards mask the kernel's join-all fallback below n
    // tokens (a 1-token doc has one unigram and NO bigram); they test
    // lower(text) so they see exactly the kernel's token alphabet.
    def gramHashes(t: Column): Column = {
      val lo = lower(t)
      val uni = when(lo.rlike("[a-z0-9]"),
          graft.functions.TextExpressions.shingle_hashes(t, 1))
        .otherwise(array().cast("array<long>"))
      val bi = when(lo.rlike("[a-z0-9][^a-z0-9]+[a-z0-9]"),
          graft.functions.TextExpressions.shingle_hashes(t, 2))
        .otherwise(array().cast("array<long>"))
      flatten(array(uni, bi))
    }
    // spread the (cheap) doc rows before the (heavy) hash explode: a
    // small corpus arrives as one file = one partition, which would
    // serialize the md5 chain; an already-wide scan passes through
    // untouched (Spread.ifNarrow). Explicit partition count: AQE
    // would coalesce a column-only repartition of a few thousand tiny
    // doc rows back to one partition.
    // the eager localCheckpoint is the materialization point (see
    // tfIdfTopTerms): rawB and the contrib probe reuse one stored
    // class table instead of each re-running the md5 gram explode;
    // the preserved doc_id partitioning makes the terminal per-doc
    // aggregate exchange-free
    val docB = Spread.ifNarrow(raw, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(gramHashes(col(textCol))).as("h"))
      .select(col("doc_id"), (col("h") % buckets).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val rawB = docB.groupBy("b").agg(sum("c").as("cr"))
    val tgtB = Spread.ifNarrow(target, col(idCol))
      .select(explode(gramHashes(col(textCol))).as("h"))
      .select((col("h") % buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("ct"))
    // one merged ≤B-row stats table: bucket counts for both corpora
    // plus the corpus totals as whole-table window sums. The window's
    // single partition holds at most `buckets` rows — bounded by B,
    // not the corpus — and folding the totals in here avoids both a
    // second scan of each corpus and two extra broadcast stages (the
    // query is stage-floor-bound, not data-bound, at small SF).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val stats = rawB.join(tgtB, Seq("b"), "full_outer")
      .na.fill(0L, Seq("cr", "ct"))
      .withColumn("tr", sum("cr").over(w))
      .withColumn("tt", sum("ct").over(w))
    val contrib = docB
      .join(broadcast(stats), "b")
      .withColumn("lw",
        round(col("c") * (log((col("ct") + lit(1.0)) / (col("tt") + lit(buckets)))
                        - log((col("cr") + lit(1.0)) / (col("tr") + lit(buckets)))), 12)
          .cast("decimal(38,15)"))
    contrib.groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"), sum(col("lw")).as("slw"))
      .select(col("doc_id"), col("n_grams"),
        round(col("slw").cast("double"), 6).as("log_weight"))
  }

  /** The apply half of DSIR: sample k documents from the raw corpus
    * with probability ∝ exp(log_weight) via the Gumbel top-k trick —
    * adding independent Gumbel(0,1) noise to each log-weight and
    * keeping the k largest keys draws exactly from the softmax
    * distribution. The noise is a deterministic md5-seeded uniform
    * (u = (h60 + 0.5) / 2⁶⁰, g = −ln(−ln u)), so the "random" sample
    * is reproducible and engine-portable.
    *
    * Scale shape: everything in [[dsirLogWeights]] plus one map-side
    * key computation and a distributed top-k
    * (TakeOrderedAndProject — per-partition partial top-k, no global
    * sort shuffle). k is bounded, so the driver holds ≤k rows.
    */
  def dsirResample(raw: DataFrame, target: DataFrame, idCol: String,
                   textCol: String, k: Int, buckets: Int = 1024,
                   seed: String = "dsir"): DataFrame = {
    val h = conv(substring(md5(
        concat_ws("|", lit(seed), col("doc_id"))), 1, 15), 16, 10)
      .cast("long").cast("double")
    val u = (h + lit(0.5)) / lit(math.pow(2, 60))
    val key = round(col("log_weight") + (-log(-log(u))), 6)
    dsirLogWeights(raw, target, idCol, textCol, buckets)
      .withColumn("samp_key", key)
      .orderBy(desc("samp_key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("log_weight"), col("samp_key"))
  }

  /** Corpus n-gram frequency report: the top-k word n-grams with
    * occurrence and document counts — the table blocklists,
    * boilerplate detectors and decontamination lists are built from.
    *
    * Scale shape: one shingle explode (native WordShingles kernel) →
    * (doc, gram) counts with map-side combine → gram totals → one
    * bounded top-k (TakeOrderedAndProject; count desc, gram asc for a
    * total order).
    */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
                n: Int = 3, k: Int = 20): DataFrame = {
    val docGram = Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextExpressions.word_shingles(
          col(textCol), n, dedup = false)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    docGram.groupBy("gram")
      .agg(sum("c").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(desc("n_occurrences"), col("gram"))
      .limit(k)
  }

  /** Top-k adjacent-pair collocations by pointwise mutual information
    * (Church & Hanks 1990) — the classic phrase/collocation miner for
    * tokenizer and vocabulary curation:
    *   pmi(a,b) = ln p(a,b) − ln p(a) − ln p(b)
    * with p(a,b) = c_ab / #bigrams and p(w) = c_w / #tokens, i.e.
    *   pmi = ln c_ab + 2 ln N − ln M − ln c_a − ln c_b.
    *
    * Kept in that log-of-integer-count form (the [[divergenceReport]]
    * parity pattern): every ln argument is an exact integer-valued
    * double and both engines evaluate the same left-associated
    * sum, so the rounded value cannot disagree. Ordering for the
    * LIMIT is on the ROUNDED pmi (then the words), so near-ties are
    * engine-stable.
    *
    * Scale: two token-keyed aggregations (vocab- and bigram-vocab-
    * sized), two equi-joins of bigrams to unigram counts, and a
    * top-k (TakeOrderedAndProject) — no all-pairs work, no global
    * sort, nothing corpus-sized crosses the wire except the one
    * gram-count shuffle any count must pay.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Int = 5, k: Int = 20): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(k >= 1, s"k must be >= 1: $k")
    val d = Spread.ifNarrow(df)
    // both count tables are pinned eagerly: uni feeds THREE consumers
    // (the total and both join sides) and bi two — unpinned, each
    // consumer re-pays the corpus-wide tokenize/explode/shuffle, and
    // a lazy pin lets the AQE broadcast thread race into the table
    // and recompute anyway (the measured r9 pin experiment). The pins
    // store vocab-/bigram-vocab-sized aggregates, never corpus rows.
    val uni = d.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .localCheckpoint(true)
    // word_shingles(n=2, dedup=false) emits len-1 true bigrams for
    // docs with >= 2 tokens and a degenerate space-free singleton
    // below that — the contains-space filter keeps exactly the
    // bigrams (tokens never contain spaces)
    val bi = d.select(explode(graft.functions.TextExpressions.word_shingles(
        col(textCol), 2, dedup = false)).as("gram"))
      .where(col("gram").contains(" "))
      .groupBy("gram").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    // collapse the two 1-row totals through one final global
    // aggregate so the downstream broadcast-nested-loop attach has a
    // provably-one-row build side (the PlanGate contract)
    val totals = broadcast(
      uni.agg(sum("cw").as("_n")).crossJoin(bi.agg(sum("c_ab").as("_m")))
        .agg(first(col("_n")).as("_n"), first(col("_m")).as("_m")))
    val u1 = uni.withColumnRenamed("w", "_w1").withColumnRenamed("cw", "_c1")
    val u2 = uni.withColumnRenamed("w", "_w2").withColumnRenamed("cw", "_c2")
    bi.where(col("c_ab") >= minCount)
      .withColumn("w1", split(col("gram"), " ").getItem(0))
      .withColumn("w2", split(col("gram"), " ").getItem(1))
      .join(u1, col("w1") === col("_w1"))
      .join(u2, col("w2") === col("_w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("c_ab").cast("double"))
          + lit(2.0) * log(col("_n").cast("double"))
          - log(col("_m").cast("double"))
          - log(col("_c1").cast("double"))
          - log(col("_c2").cast("double")), 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(k)
  }

  /** Sliding-window passage chunking — the RAG/embedding-pipeline
    * primitive: split each document into token windows of `chunkSize`
    * tokens starting every `stride` tokens (overlap =
    * chunkSize − stride). Output: (doc_id, chunk_id, n_tokens,
    * chunk_text), chunk_id dense from 0 per doc. When stride <
    * chunkSize the final windows shorten toward the text's tail
    * (standard sliding-window behavior); callers filter on n_tokens
    * if overlap-only tails are unwanted. Zero-token docs emit no
    * chunks.
    *
    * Scale shape: pure map side — tokenize, explode a per-row
    * `sequence` of window starts, slice. No shuffle, no window, no
    * driver involvement; 100 TB chunks exactly as fast as it scans.
    */
  def chunkPassages(df: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    require(stride >= 1, "stride must be >= 1")
    val nToks = org.apache.spark.sql.functions.size(col("_t"))
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .where(nToks > 0)
      .select(col("doc_id"), col("_t"),
        explode(sequence(lit(0), nToks - 1, lit(stride))).as("_start"))
      .select(col("doc_id"),
        (col("_start") / stride).cast("long").as("chunk_id"),
        slice(col("_t"), col("_start") + 1, lit(chunkSize)).as("_c"))
      .select(col("doc_id"), col("chunk_id"),
        org.apache.spark.sql.functions.size(col("_c")).cast("long").as("n_tokens"),
        concat_ws(" ", col("_c")).as("chunk_text"))
  }

  /** Gopher-style quality-rule filter (Rae et al. 2021 §A1.1, the
    * standard web-corpus document filter), composed from the metrics
    * the kernels above already produce — one map-side scan, zero
    * shuffle, so filtering a 100 TB corpus costs exactly one pass.
    *
    * Emits the measured metrics, one boolean per rule, and the
    * conjunction `keep`, so a pipeline can either filter on `keep` or
    * audit per-rule rejection rates:
    *   - r_length:   minTokens ≤ n_tokens ≤ maxTokens
    *   - r_word_len: mean word length in [3, 10]
    *   - r_alpha:    ≥ 80% of words contain an alphabetic character
    *   - r_stop:     ≥ 2 distinct common English stopwords
    *   - r_rep:      duplicate-2-gram fraction ≤ 0.2 AND top-word
    *                 fraction ≤ 0.3 (boilerplate/SEO-spam screen)
    *
    * Float parity: every fraction is an integer-count ratio (or the
    * kernels' already-oracle-parity repetition fractions), so both
    * engines derive bit-identical doubles and the threshold compares
    * cannot disagree. Zero-token documents fail r_length and report
    * zeroed metrics.
    *
    * ANNOTATES, never projects: every input column passes through
    * (the scoreWithModel convention), so the filter drops into a
    * pipeline as `gopherFilter(df, "text").where(col("keep"))` with
    * ids/sources/bodies intact.
    */
  def gopherFilter(df: DataFrame, textCol: String,
                   minTokens: Int = 50, maxTokens: Int = 100000): DataFrame = {
    val t = col(textCol)
    val n = size(col("_toks"))
    val nD = n.cast("double")
    val stopset = stopwords("en")
    df.withColumn("_toks", tokens(t))
      .withColumn("_rep", repetitionStats(t))
      .withColumn("n_tokens", n.cast("long"))
      .withColumn("mean_word_len",
        when(n > 0, aggregate(col("_toks"), lit(0L), (a, x) => a + length(x))
          .cast("double") / nD).otherwise(lit(0.0)))
      .withColumn("alpha_frac",
        when(n > 0, size(filter(col("_toks"), x => x.rlike("[a-z]")))
          .cast("double") / nD).otherwise(lit(0.0)))
      .withColumn("n_stopwords",
        size(array_intersect(array_distinct(col("_toks")),
          array(stopset.map(lit): _*))).cast("long"))
      .withColumn("dup_2gram_frac", col("_rep.dup_2gram_frac"))
      .withColumn("top_word_frac", col("_rep.top_word_frac"))
      .withColumn("r_length",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .withColumn("r_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .withColumn("r_stop", col("n_stopwords") >= 2L)
      .withColumn("r_rep",
        col("dup_2gram_frac") <= 0.2 && col("top_word_frac") <= 0.3)
      .withColumn("keep",
        col("r_length") && col("r_word_len") && col("r_alpha") &&
          col("r_stop") && col("r_rep"))
      .drop("_toks", "_rep")
  }

  /** First-occurrence novelty score: for each document, the fraction
    * of its distinct word `n`-grams whose global first occurrence
    * (minimum doc id over the corpus) is this document — the
    * self-information signal curation pipelines use to rank documents
    * by how much new n-gram mass they contribute (low novelty ≈
    * boilerplate or near-duplicate of earlier data; the streaming
    * analogue of a Bloom-filter novelty gate).
    *
    * Scale shape: one shingle explode (native WordShingles kernel,
    * per-doc distinct) → a (gram → min doc) aggregate → one equi-join
    * back on gram → per-doc counts. Both aggregates combine map-side;
    * the join is a plain shuffle equi-join on the gram key — no
    * broadcast of corpus-sized state, no driver involvement. Documents
    * with fewer than `n` tokens have a single shorter gram (the
    * whole-text shingle), never zero, so every row scores.
    */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    val docGram = Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextExpressions.word_shingles(
          col(textCol), n, dedup = true)).as("gram"))
    val firstSeen = docGram.groupBy("gram").agg(min("doc_id").as("first_doc"))
    docGram.join(firstSeen, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_frac",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Per-group document-length profile: doc/token totals plus exact
    * interpolated token-count percentiles — the size histogram every
    * curation report opens with (and the input to choosing packing
    * seqLen, budget caps and length-filter thresholds).
    *
    * Scale shape: one map-side tokenize pass → one groupBy(key). The
    * exact `percentile` aggregate buffers one counts-map per group —
    * bounded by DISTINCT token counts per group (≪ rows; counts
    * concentrate), the standard exact form at #groups ≈ #domains
    * scale. Both engines define the percentile as linear interpolation
    * at rank p·(n−1) over integer counts, so the doubles are
    * bit-identical.
    */
  def lengthStats(df: DataFrame, keyCol: String, textCol: String,
                  percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val pctCols = percentiles.zipWithIndex.map { case (p, i) =>
      element_at(col("_pct"), i + 1).as(s"p${(p * 100).round}_tokens")
    }
    df.select(col(keyCol), tokenCount(col(textCol)).as("_n"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n")).cast("long").as("n_tokens"),
        min(col("_n")).cast("long").as("min_tokens"),
        max(col("_n")).cast("long").as("max_tokens"),
        percentile(col("_n"),
          array(percentiles.map(lit): _*)).as("_pct"))
      .select(col(keyCol) +: col("n_docs") +: col("n_tokens") +:
        col("min_tokens") +: col("max_tokens") +: pctCols: _*)
  }

  /** Per-slice distribution-shift report: KL(P_key ‖ Q_corpus) of the
    * unigram term distributions, in nats — the standard domain-shift
    * screen over a mixed corpus (a slice whose vocabulary usage
    * diverges from the pool is a candidate for its own mixture key or
    * for exclusion). Returns one row per key: (key, n_tokens,
    * vocab_size, kl_nats). KL is finite by construction: every term
    * of P_key exists in Q_corpus.
    *
    * Scale shape: ONE (key, term) aggregate off the token explode;
    * the global term table derives from it (no second corpus scan),
    * per-key totals attach by broadcast, the corpus total as a 1-row
    * broadcast. Float parity: the log factors to
    * ln c − ln n_k − ln c_t + ln n (no c·n product to overflow at
    * 10¹⁴ tokens); per-term contributions round to 12 dp and sum as
    * DECIMAL(38,15) — exact, order-independent — with one final
    * 6-dp double cast (the [[lmPerplexity]] contract).
    */
  def divergenceReport(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val kt = Spread.ifNarrow(df)
      .select(col(keyCol), explode(tokens(col(textCol))).as("_t"))
      .groupBy(col(keyCol), col("_t")).agg(count(lit(1)).as("_c"))
      .localCheckpoint(true)
    val keyTot = kt.groupBy(col(keyCol))
      .agg(sum(col("_c")).as("_nk"), count(lit(1)).as("vocab_size"))
    val termTot = kt.groupBy(col("_t")).agg(sum(col("_c")).as("_ct"))
    val corpusTot = broadcast(termTot.agg(sum(col("_ct")).as("_n")))
    val contrib = kt
      .join(termTot, "_t")
      .join(broadcast(keyTot), Seq(keyCol))
      .crossJoin(corpusTot)
      .withColumn("_kl",
        round((col("_c").cast("double") / col("_nk")) *
          (log(col("_c").cast("double")) - log(col("_nk").cast("double")) -
            log(col("_ct").cast("double")) + log(col("_n").cast("double"))), 12)
          .cast("decimal(38,15)"))
    contrib.groupBy(col(keyCol))
      .agg(max(col("_nk")).as("n_tokens"), max(col("vocab_size")).as("vocab_size"),
        sum(col("_kl")).as("_skl"))
      .select(col(keyCol), col("n_tokens").cast("long").as("n_tokens"),
        col("vocab_size").cast("long").as("vocab_size"),
        round(col("_skl").cast("double"), 6).as("kl_nats"))
  }

  /** Zipf-law fit of the corpus unigram distribution: least-squares
    * slope/intercept of ln(freq) against ln(rank) over the full
    * vocabulary — the corpus-health screen (natural text sits near
    * slope −1; synthetic, boilerplate-heavy, or template-generated
    * corpora bend away from it; Zipf 1949, Piantadosi 2014).
    *
    * Scale shape: one corpus token aggregate compacts to the
    * #vocab-sized (term, cnt) table; the rank assignment is the one
    * ordered pass over THAT table (bounded by vocab, not corpus —
    * same envelope as the AUC rank table); the regression reduces to
    * four sums. Float parity: each per-term ln-contribution rounds to
    * 12 dp and sums as DECIMAL(38,15) — exact and order-independent —
    * so partial-agg order cannot move the fit; the closed-form
    * slope/intercept then run in identical IEEE double on any engine.
    */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Spread.ifNarrow(df)
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val ranked = vocab.withColumn("_r",
      row_number().over(Window.orderBy(desc("cnt"), col("term"))))
    val x = log(col("_r").cast("double"))
    val y = log(col("cnt").cast("double"))
    val dec = "decimal(38,15)"
    val sums = ranked.select(
        round(x, 12).cast(dec).as("_x"), round(y, 12).cast(dec).as("_y"),
        round(x * y, 12).cast(dec).as("_xy"), round(x * x, 12).cast(dec).as("_xx"),
        col("cnt"))
      .agg(count(lit(1)).as("vocab_size"), sum(col("cnt")).as("n_tokens"),
        sum(col("_x")).cast("double").as("_sx"), sum(col("_y")).cast("double").as("_sy"),
        sum(col("_xy")).cast("double").as("_sxy"), sum(col("_xx")).cast("double").as("_sxx"))
    val n = col("vocab_size").cast("double")
    val slope = (n * col("_sxy") - col("_sx") * col("_sy")) /
      (n * col("_sxx") - col("_sx") * col("_sx"))
    sums.select(col("vocab_size").cast("long").as("vocab_size"),
      col("n_tokens").cast("long").as("n_tokens"),
      round(slope, 6).as("zipf_slope"),
      round((col("_sy") - slope * col("_sx")) / n, 6).as("zipf_intercept"))
  }

  /** Corpus vocabulary report (one row): vocabulary size, hapax count
    * (terms seen once — the Zipf tail a tokenizer-vocab decision cares
    * about), total token mass and the share held by the top `k` terms
    * (head concentration ≈ boilerplate risk).
    *
    * Scale shape: one explode → term counts (map-side combine) → two
    * 1-row aggregates, one over the full vocab, one over a bounded
    * top-k (TakeOrderedAndProject) — attached by a 1-row crossJoin.
    * Share = integer-sum ratio → bit-identical across engines.
    */
  def vocabReport(df: DataFrame, textCol: String, k: Int = 10): DataFrame = {
    val counts = Spread.ifNarrow(df)
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val totals = counts.agg(
      count(lit(1)).as("vocab_size"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long").as("n_hapax"),
      sum(col("c")).cast("long").as("total_tokens"))
    val topk = counts.orderBy(desc("c"), col("term")).limit(k)
      .agg(sum(col("c")).cast("long").as(s"top${k}_tokens"))
    totals.crossJoin(topk)
      .withColumn(s"top${k}_share",
        col(s"top${k}_tokens").cast("double") / col("total_tokens").cast("double"))
  }

  /** Per-key out-of-vocabulary rate against the corpus top-V unigram
    * vocabulary — the domain-coverage screen a fixed tokenizer/vocab
    * implies (a source whose tokens fall outside the reference vocab
    * fragments badly at training time).
    *
    * One corpus tokenize pass: the (key, word) count table is built
    * once and pinned ((#keys × vocab)-sized, never corpus rows), the
    * reference vocabulary is derived FROM it (sum over keys, top-V
    * by count then word), and the OOV split is a broadcast left join
    * of that bounded table against the V-row vocab.
    */
  def oovBySource(df: DataFrame, keyCol: String, textCol: String,
                  vocabSize: Int = 10): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val kw = Spread.ifNarrow(df)
      .select(col(keyCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(keyCol), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = broadcast(kw.groupBy("w").agg(sum("c").as("cw"))
      .orderBy(desc("cw"), col("w")).limit(vocabSize)
      .select(col("w").as("_vw")))
    kw.join(vocab, col("w") === col("_vw"), "left")
      .groupBy(col(keyCol))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        sum(when(col("_vw").isNull, col("c")).otherwise(lit(0L)))
          .cast("long").as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** One-row curation funnel report: documents and tokens surviving
    * each stage of the standard curation pipeline — input → Gopher
    * quality → exact dedup → benchmark decontamination (the stage
    * order of `pipeline_curate_mix`) — computed as FLAGS on a single
    * corpus pass, so the report costs one scan plus one
    * fingerprint-keyed shuffle instead of one pipeline run per stage.
    * The exact-dup canonical keeper is the minimum id among QUALITY
    * SURVIVORS of its md5(text) group (dropping low-quality docs
    * first must not delete a group's only good copy). Contamination
    * flags come from [[Decontaminate.overlap]]'s inverted-index JOIN —
    * not the one-row gram-array form, whose per-row array_intersect
    * degrades quadratically once the eval gram set stops being tiny.
    */
  def curationFunnel(docs: DataFrame, bench: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     n: Int = 3, minHits: Int = 4): DataFrame =
    funnelFlags(docs, bench, idCol, textCol, n, minHits, Nil)
      .agg(funnelAggs.head, funnelAggs.tail: _*)

  /** Per-group [[curationFunnel]]: one funnel row per `keyCol` value
    * (per-source / per-domain survival — the table a curation
    * dashboard shows). Exact-dup groups and decontamination still
    * evaluate over the WHOLE corpus, so a cross-source duplicate
    * counts as a duplicate in the loser's source row.
    */
  def curationFunnelBy(docs: DataFrame, bench: DataFrame, keyCol: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       n: Int = 3, minHits: Int = 4): DataFrame =
    funnelFlags(docs, bench, idCol, textCol, n, minHits, Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(funnelAggs.head, funnelAggs.tail: _*)

  private def funnelFlags(docs: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String,
                          n: Int, minHits: Int,
                          extraCols: Seq[String]): DataFrame = {
    val flagged = Decontaminate.overlap(
      gopherFilter(docs, textCol), bench, idCol, textCol, n, minHits)
    // project to the digest + the handful of flag columns BEFORE the
    // window: partitioning on an inline md5(text) would drag the raw
    // text (and every gopher annotation) through the exchange, where
    // the aggregate only needs these few narrow columns
    // extraCols already in the narrow projection (a group key of
    // idCol / n_tokens / keep / contaminated) must not be selected
    // twice — the duplicate would fail downstream resolution with an
    // ambiguous-column error
    val base = Seq(idCol, "n_tokens", "keep", "contaminated")
    val narrow = flagged.select(
      (Seq(col(idCol), md5(col(textCol)).as("_fp"), col("n_tokens"),
        col("keep"), col("contaminated")) ++
        extraCols.filterNot(base.contains).map(col)): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
    val canon = col("keep") &&
      col(idCol) === min(when(col("keep"), col(idCol))).over(w)
    narrow.withColumn("_canon", canon)
      .withColumn("_clean", canon && !col("contaminated"))
  }

  private def funnelAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_input"),
    sum(col("n_tokens")).cast("long").as("tokens_input"),
    sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_quality"),
    sum(when(col("keep"), col("n_tokens")).otherwise(0L)).cast("long")
      .as("tokens_quality"),
    sum(when(col("_canon"), 1L).otherwise(0L)).cast("long").as("n_dedup"),
    sum(when(col("_canon"), col("n_tokens")).otherwise(0L)).cast("long")
      .as("tokens_dedup"),
    sum(when(col("_clean"), 1L).otherwise(0L)).cast("long").as("n_clean"),
    sum(when(col("_clean"), col("n_tokens")).otherwise(0L)).cast("long")
      .as("tokens_clean"))

  /** Convenience: annotate a corpus with the full analysis bundle
    * (fused kernel for the stats, LangIdExpr for the language).
    */
  def annotate(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("_ts", tokenStats(t))
      .withColumns(Map(
        "n_tokens" -> col("_ts.n_tokens"),
        "n_subwords_est" -> col("_ts.n_subwords_est"),
        "lang_pred" -> langId(t),
        "fingerprint" -> fingerprint(t),
        "q_chars" -> col("_ts.q_chars"),
        "q_tokens" -> col("_ts.n_tokens"),
        "q_avg_token_len" -> col("_ts.q_avg_token_len"),
        "q_stopword_ratio" -> col("_ts.q_stopword_ratio"),
        "q_distinct_ratio" -> col("_ts.q_distinct_ratio"),
        "q_punct_ratio" -> col("_ts.q_punct_ratio")))
      .drop("_ts")
  }
}
