package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language-ID heuristic, quality scoring, document
  * fingerprinting. All pure Column expressions (codegen'd, no UDFs) so
  * they survive 100-TB scans; the DuckDB oracle can replicate each via
  * plain SQL.
  */
object TextOps {

  /** Oracle-safe 6-dp truncation: floor(x*1e6)/1e6 is bit-identical in
    * Spark and DuckDB (plain IEEE ops), unlike round(x, 6) whose
    * half-way handling differs between engines.
    */
  def r6 = floor6 _
  def floor6(c: Column): Column = floor(c * lit(1000000.0)) / lit(1000000.0)

  /** Whitespace token count. Empty/blank strings count 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count estimate: word-chunks plus digit/punct runs.
    * Cheap deterministic proxy for a tokenizer's token count.
    */
  def subwordCountEstimate(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword tables for the n-gram/stopword language heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "en", "que", "por", "con"),
    "pt" -> Seq("o", "a", "os", "e", "um", "uma", "para", "com", "nao", "mais"),
    "ru" -> Seq("i", "v", "ne", "na", "chto", "eto", "kak", "po", "iz", "za"))

  /** Language-ID: argmax over per-language stopword hits; "und"
    * (undetermined) when nothing matches. Ties break by language code
    * order for determinism.
    */
  def langId(text: Column): Column = {
    val toks = split(lower(text), "[^a-z]+")
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(array_intersect(toks, array(words.map(lit): _*)))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(best.getField("hits") <= 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Quality score in [0,1]: blends length, alpha ratio, punct ratio,
    * mean word length sanity. Deterministic, oracle-replicable.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val toks = tokenCount(text).cast("double")
    val lenScore = least(len / lit(500.0), lit(1.0))
    val alphaRatio = when(len > 0, alpha / len).otherwise(lit(0.0))
    val punctPenalty = when(len > 0, least(punct / len * 10.0, lit(1.0))).otherwise(lit(0.0))
    val wordLenOk = when(toks > 0, when((len / toks).between(3.0, 12.0), 1.0).otherwise(0.5))
      .otherwise(lit(0.0))
    floor6(lenScore * 0.25 + alphaRatio * 0.35 + (lit(1.0) - punctPenalty) * 0.15 +
      wordLenOk * 0.25)
  }

  /** Polynomial rolling-hash fingerprint over whitespace tokens:
    * fp = fold(fp * 31 + tokHash) mod 2^31, where tokHash = integer
    * value of the first 5 hex chars of md5(token) (20 bits). md5 is
    * the one hash both Spark and DuckDB compute identically, so the
    * oracle replays the exact recurrence in SQL (list_reduce over
    * per-token hex folds — see SparkEntry.oracleSql q38).
    */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.TextFingerprint(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** n-char shingle set (lowercased, whitespace-normalized). */
  def charShingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    val len = length(norm)
    when(len < n, array(norm))
      .otherwise(array_distinct(transform(
        sequence(lit(1), len - n + 1),
        i => norm.substr(i, lit(n)))))
  }

  /** Word n-gram shingles — one kernel pass per row
    * ([[graft.functions.WordShingles]]); value-identical to the
    * interpreted HOF chain it replaced (the lambda re-evaluated the
    * tokenize subtree per window: O(len^2) regex work per doc), which
    * WordShinglesSpec keeps as the reference spelling.
    */
  def wordShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.GraftBridge.expression(text), n))

  // ------------------------------------------------- html extraction

  /** HTML-escape the three structural characters. `&` first so the
    * escapes themselves never re-escape; [[unescapeHtml]] inverts in
    * the reverse order, making render→extract byte-identical for any
    * input text.
    */
  def escapeHtml(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  private def unescapeHtml(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      text, "&lt;", "<"), "&gt;", ">"), "&amp;", "&")

  /** Deterministic Common-Crawl-style page render: the main text
    * (entity-escaped) inside `<p>` body content, surrounded by head /
    * script / style / nav / footer boilerplate that a correct
    * extractor must drop. Returns the page as a UTF-8 `binary` column
    * (the `html` column shape from the input contract).
    */
  def renderHtml(text: Column, url: Column): Column =
    to_binary(concat(
      lit("<html><head><title>p</title><style>body{margin:0}</style>" +
        "<script>var q=1&&2<3;</script></head><body><nav><a href=\""), url,
      lit("\">home</a> | <a href=\"/\">top</a></nav><p>"), escapeHtml(text),
      lit("</p><footer>&amp;copy; graft crawl</footer></body></html>")),
      lit("utf-8"))

  /** Main-text extraction from an HTML `binary` column: drop
    * head/script/style/nav/footer boilerplate blocks, strip remaining
    * tags, unescape entities. Pure codegen'd Column expressions (RE2-
    * compatible regexes, so the DuckDB oracle replays them verbatim);
    * `extractHtmlText(renderHtml(text, url)) === text` byte-for-byte —
    * the per-url invariant the pipeline is gated on.
    */
  def extractHtmlText(html: Column): Column = {
    val s0 = html.cast("string") // binary -> UTF-8 string
    val noHead = regexp_replace(s0, "(?s)<head>.*?</head>", "")
    val noScript = regexp_replace(noHead, "(?s)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", "")
    val noNav = regexp_replace(noStyle, "(?s)<nav[^>]*>.*?</nav>", "")
    val noFoot = regexp_replace(noNav, "(?s)<footer[^>]*>.*?</footer>", "")
    unescapeHtml(regexp_replace(noFoot, "<[^>]*>", ""))
  }

  /** All anchor-tag href targets of an HTML `binary` column, in
    * document order (duplicates kept — each anchor is one out-link).
    * RE2-compatible pattern, so the DuckDB oracle replays it verbatim.
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html.cast("string"),
      lit("<a[^>]*href=\"([^\"]*)\""), lit(1))

  /** True iff the href is absolute (has a URI scheme) — the subset
    * whose host can key a link-graph edge; relative links would need
    * base-url resolution first.
    */
  def isAbsoluteUrl(href: Column): Column =
    href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://")

  /** All path prefixes of a URL up to `maxDepth` segments, each with
    * a trailing slash ("/a/b/c" -> ["/a/", "/a/b/", "/a/b/c/"]) — the
    * site-structure rollup key family (crawl budgeting and sitemap
    * inference aggregate on these). Pure array expression per row.
    */
  def pathPrefixes(url: Column, maxDepth: Int): Column = {
    val segs = filter(split(urlPath(url), "/"), s => s =!= "")
    when(size(segs) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), least(size(segs), lit(maxDepth))),
        d => concat(lit("/"), concat_ws("/", slice(segs, lit(1), d)), lit("/"))))
  }

  // ------------------------------------------------- url analysis

  /** Lowercased host (authority without port) of an absolute URL. */
  def urlHost(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)),
      ":[0-9]+$", "")

  /** Registrable-ish domain: the last two dot-labels of the host.
    * NOTE: wrong for multi-label public suffixes (`bbc.co.uk` →
    * `co.uk`); kept only as the cheap approximation — the per-domain
    * crawl key should use [[urlRegistrableDomain]].
    */
  def urlDomain(url: Column): Column =
    regexp_extract(urlHost(url), "([^.]+\\.[^.]+)$", 1)

  /** Registrable domain per the bundled public-suffix-list snapshot
    * (exact + wildcard + exception rules — see [[PublicSuffix]]):
    * `news.bbc.co.uk` → `bbc.co.uk`, `user.github.io` stays
    * `user.github.io`. The correct per-domain dedup / rate-limit key.
    */
  def urlRegistrableDomain(url: Column): Column =
    PublicSuffix.registrableDomain(urlHost(url))

  /** Path component (no query/fragment); empty path normalizes to "/". */
  def urlPath(url: Column): Column = {
    val p = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    when(p === "", lit("/")).otherwise(p)
  }

  /** Number of non-empty path segments. */
  def urlPathDepth(url: Column): Column =
    size(filter(split(urlPath(url), "/"), s => s =!= ""))

  /** Canonical URL for exact URL-level dedup: lowercase scheme+host,
    * default :80/:443 ports stripped (non-default ports kept), fragment
    * dropped, trailing path slash trimmed (root stays "/"), query
    * preserved.
    */
  def urlNormalize(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val port = regexp_extract(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1),
      ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") && !(scheme === "https" && port === "443")
    val path = regexp_replace(urlPath(url), "(.)/$", "$1")
    // the query is the first '?' BEFORE any '#': an unanchored
    // "(\\?[^#]*)" would match a '?' inside the fragment and leak
    // fragment content into the canonical dedup key
    val query = regexp_extract(url, "^[^#?]*(\\?[^#]*)", 1)
    concat(scheme, lit("://"), urlHost(url),
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")), path, query)
  }

  /** Deterministic train/val/test assignment keyed on a stable id
    * column: u = first 6 hex chars of md5(key) / 16^6 ∈ [0,1), split by
    * cumulative fractions. Hash-based (not row_number) so the split is
    * reproducible under any partitioning, join order, or re-run at
    * 10^12 rows, and documents keep their split when the corpus grows —
    * both properties a random()/monotonically_increasing_id split lacks.
    * md5 is the hash Spark and DuckDB share bit-for-bit (q38 precedent).
    */
  def splitAssign(key: Column, valFrac: Double = 0.1, testFrac: Double = 0.1): Column = {
    val u = conv(substring(md5(key.cast("string")), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    when(u < lit(1.0 - valFrac - testFrac), "train")
      .when(u < lit(1.0 - testFrac), "val")
      .otherwise("test")
  }

  /** Word-repetition quality signals (Gopher-style repetition filters,
    * word-level): fraction of duplicate tokens and the share of the
    * most frequent token. Pure per-row Column expressions — O(tokens ×
    * distinct) per row, no shuffle; the distinct-token count of a text
    * grows sub-linearly with its length (Heaps' law), so the quadratic
    * term stays far below tokens² on natural text. Returns
    * struct(dup_frac, top_share), 6-dp
    * truncated for oracle parity.
    */
  def wordRepetition(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val n = size(toks).cast("double")
    val dist = array_distinct(toks)
    val counts = transform(dist, w => size(filter(toks, t => t === w)))
    val top = array_max(counts).cast("double")
    val dupFrac = when(n > 0, floor6(lit(1.0) - size(dist).cast("double") / n))
      .otherwise(lit(0.0))
    val topShare = when(n > 0, floor6(top / n)).otherwise(lit(0.0))
    struct(dupFrac.as("dup_frac"), topShare.as("top_share"))
  }

  // PII patterns chosen to parse identically under Java regex (Spark)
  // and RE2 (DuckDB): character classes, bounded repeats and \b only —
  // no backrefs or lookaround.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{4,10}"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction pass (training-data hygiene): replace emails,
    * international-format phone numbers and IPv4 addresses with typed
    * placeholder tokens, and count what was removed. Pure codegen'd
    * regexp Columns — per-row, no shuffle, scan-speed at 100 TB.
    * Returns struct(clean, n_email, n_phone, n_ip).
    */
  def piiScrub(text: Column): Column = {
    def countOf(c: Column, re: String): Column =
      when(length(c) === 0, 0)
        .otherwise(size(split(c, re, -1)) - 1)
    val nEmail = countOf(text, EmailRe)
    val t1 = regexp_replace(text, EmailRe, "<EMAIL>")
    val nPhone = countOf(t1, PhoneRe)
    val t2 = regexp_replace(t1, PhoneRe, "<PHONE>")
    val nIp = countOf(t2, Ipv4Re)
    val t3 = regexp_replace(t2, Ipv4Re, "<IP>")
    struct(t3.as("clean"), nEmail.as("n_email"),
      nPhone.as("n_phone"), nIp.as("n_ip"))
  }

  // ------------------------------------------------- robots.txt

  /** Disallow path prefixes from a robots.txt body, RFC 9309 minimal
    * profile: lines `Disallow: <prefix>` (case-insensitive key,
    * surrounding whitespace tolerated); empty Disallow values (which
    * mean "allow all" in the RFC) are dropped. Grouping by User-agent
    * is NOT interpreted — callers pass the `*` group's body (crawl
    * pipelines pre-split groups; the synthetic corpus emits only `*`).
    */
  def robotsDisallows(robots: Column): Column =
    filter(
      regexp_extract_all(robots, lit("(?i)disallow:[ \\t]*([^\\s]*)"), lit(1)),
      p => length(p) > 0)

  /** RFC 9309 prefix match: a URL path is blocked iff it starts with
    * any Disallow prefix. Pure array predicate — scan-speed per row.
    */
  def robotsBlocked(disallows: Column, path: Column): Column =
    exists(disallows, p => path.startsWith(p))
}
