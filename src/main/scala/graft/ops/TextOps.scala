package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything here is a narrow per-row projection built from codegen'd
  * builtin expressions (no UDFs): at 100 TB these run as a single
  * column-pruned scan with zero shuffles, so throughput is bounded by IO.
  */
object TextOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Tokens: lowercase whitespace/punct split. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Whitespace tokens, case preserved (unlike [[tokens]] — chunking and
    * counting must not rewrite the text).
    */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword proxy count: runs of letters, runs of digits, and
    * single non-space symbols each count as one token — a cheap,
    * deterministic stand-in for a real BPE vocabulary.
    */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishCount(text: Column): Column = regexp_count(text, lit(bpeishPattern))

  /** Per-language stopword sets for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: the heuristic must be expressible in both
    * Spark and ANSI SQL (oracle parity).
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "fr" -> Seq("le", "la", "les", "et", "de", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "en", "un", "una"),
    "de" -> Seq("der", "die", "das", "und", "von", "ein", "ist"),
  )

  private def stopwordRegex(words: Seq[String]): String =
    words.mkString("\\b(", "|", ")\\b")

  def stopwordScore(text: Column, words: Seq[String]): Column =
    regexp_count(lower(text), lit(stopwordRegex(words)))

  /** Language ID: argmax of per-language stopword hit counts; "und"
    * (undetermined) when nothing matches. Ties break by language code
    * descending (struct max compares score first, then code).
    */
  def languageId(text: Column): Column = {
    val scored = stopwords.map { case (lang, words) =>
      struct(stopwordScore(text, words).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Language-ID confidence margin: the gap between the best and
    * second-best per-language stopword scores — 0 means the argmax was a
    * coin flip (route to a heavier language detector or drop), large
    * means the call is safe. The standard abstention signal for cascaded
    * classification; pairs with [[languageId]] as a gate
    * (`margin >= k`). A scan projection over the same regexp counts.
    */
  def languageMargin(text: Column): Column = {
    val scores = array(stopwords.map { case (_, ws) => stopwordScore(text, ws) }: _*)
    val sorted = sort_array(scores, asc = false)
    sorted.getItem(0) - sorted.getItem(1)
  }

  /** Quality metrics + composite score. All ratios are SQL-expressible so
    * the DuckDB oracle can mirror them term by term.
    */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val words = tokenCount(text)
    val punct = regexp_count(text, lit("[.,!?;:]"))
    val stop = stopwordScore(text, stopwords.toMap.apply("en"))
    Seq(
      "n_chars" -> nChars,
      "n_words" -> words,
      "punct_ratio" -> round(punct.cast("double") / greatest(nChars, lit(1)), 6),
      "stopword_ratio" -> round(stop.cast("double") / greatest(words, lit(1)), 6),
      "mean_word_len" -> round(nChars.cast("double") / greatest(words, lit(1)), 6),
    )
  }

  /** Composite quality score in [0,1]: favors mid-length documents with
    * some stopwords and moderate punctuation (word-salad and boilerplate
    * both score low). Deterministic and SQL-mirrorable.
    */
  def qualityScore(text: Column): Column = {
    val m = qualityMetrics(text).toMap
    val lengthScore = least(m("n_words").cast("double") / lit(50.0), lit(1.0))
    val stopScore = least(m("stopword_ratio") * lit(5.0), lit(1.0))
    val punctPenalty = least(m("punct_ratio") * lit(10.0), lit(1.0))
    round(lengthScore * lit(0.5) + stopScore * lit(0.4) + (lit(1.0) - punctPenalty) * lit(0.1), 6)
  }

  /** The eight words whose presence the Gopher quality filter requires
    * at least two of (Rae et al. 2021, §A1.1 "stop word filter").
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher rule-based document quality signals (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", §A1.1) — the standard hand-rule filter battery applied to
    * MassiveWeb before training: word-count bounds, mean word length,
    * symbol-to-word ratio (`#` and ellipsis), fraction of lines starting
    * with a bullet or ending with an ellipsis, fraction of words carrying
    * at least one alphabetic character, and required-stopword hits.
    *
    * `sep` delimits "lines" (web text: `"\n"`). Every signal is a plain
    * projection over split/regexp builtins — codegen'd, zero shuffles,
    * and SQL-expressible term by term so the DuckDB oracle recomputes the
    * whole battery exactly.
    */
  def gopherMetrics(text: Column, sep: String = "\n"): Seq[(String, Column)] = {
    val ws = wsTokens(text)
    val nWords = size(ws)
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]")))
    val segs = filter(
      transform(split(text, java.util.regex.Pattern.quote(sep)), l => trim(l)),
      l => length(l) > 0)
    val nSegs = size(segs)
    val bulletSegs = size(filter(segs, l => substring(l, 1, 1).isin("-", "*", "•")))
    val ellipsisSegs = size(filter(segs,
      l => l.endsWith("...") || l.endsWith("…")))
    val symbols = regexp_count(text, lit("#")) +
      regexp_count(text, lit("\\.\\.\\.")) + regexp_count(text, lit("…"))
    val stopHits = gopherStopwords
      .map(w => when(lower(text).rlike("\\b" + w + "\\b"), 1).otherwise(0))
      .reduce(_ + _)
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> round(
        aggregate(ws, lit(0), (a, w) => a + length(w)).cast("double") /
          greatest(nWords, lit(1)), 6),
      "symbol_word_ratio" -> round(symbols.cast("double") / greatest(nWords, lit(1)), 6),
      "bullet_line_frac" -> round(bulletSegs.cast("double") / greatest(nSegs, lit(1)), 6),
      "ellipsis_line_frac" -> round(ellipsisSegs.cast("double") / greatest(nSegs, lit(1)), 6),
      "alpha_word_frac" -> round(alphaWords.cast("double") / greatest(nWords, lit(1)), 6),
      "stop_hits" -> stopHits,
    )
  }

  /** The Gopher keep/drop gate: AND of the §A1.1 thresholds over
    * [[gopherMetrics]] (defaults are the paper's published values; word
    * bounds are parameters because sensible values depend on the corpus
    * unit — pages vs. paragraphs). A boolean scan projection, so the gate
    * composes with [[Curate]] and drops rows before anything wide.
    */
  def gopherPass(
      text: Column,
      sep: String = "\n",
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2,
  ): Column = {
    val m = gopherMetrics(text, sep).toMap
    m("n_words") >= minWords && m("n_words") <= maxWords &&
      m("mean_word_len") >= minMeanWordLen && m("mean_word_len") <= maxMeanWordLen &&
      m("symbol_word_ratio") <= maxSymbolRatio &&
      m("bullet_line_frac") <= maxBulletFrac &&
      m("ellipsis_line_frac") <= maxEllipsisFrac &&
      m("alpha_word_frac") >= minAlphaFrac &&
      m("stop_hits") >= minStopHits
  }

  /** Fraction of word n-grams that are repeats of an earlier n-gram:
    * `1 - distinct/total`, 0 for documents shorter than `n` words. The
    * standard boilerplate/loop-generation signal in training-data quality
    * filters (Rae et al. 2021 "Gopher" §A1.1 repetition filters; C4's
    * duplicate-line heuristics) — high values mean templated or
    * degenerate text. SQL-expressible for oracle parity.
    */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupFracOfShingles(graft.functions.GraftFunctions.wordShingles(text, n))

  /** Duplicate fraction of a precomputed shingle array — callers on a hot
    * path pass `GraftFunctions.wordShingles` (the native single-pass
    * expression) instead of the interpreted HOF chain.
    */
  def dupFracOfShingles(sh: Column): Column = {
    val total = size(sh)
    round(when(total === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(sh)).cast("double") / total), 6)
  }

  /** Repetition metrics bundle: duplicate fractions at word, bigram, and
    * trigram granularity. Shingling runs in the native single-pass
    * `word_shingles` expression (the interpreted HOF chain costs ~6× more
    * on exactly this signal — see Curate) — callers must
    * `GraftFunctions.register` the session first.
    */
  def repetitionMetrics(text: Column): Seq[(String, Column)] = Seq(
    "dup_word_frac" -> dupNgramFraction(text, 1),
    "dup_2gram_frac" -> dupNgramFraction(text, 2),
    "dup_3gram_frac" -> dupNgramFraction(text, 3),
  )

  /** Global token frequency top-k (vocabulary head): explode tokens,
    * partial-agg count per token (map-side combine collapses each
    * partition's counts before the single shuffle on the token), then a
    * global top-k — Spark plans the ORDER BY + LIMIT as
    * TakeOrderedAndProject, so only k rows per partition reach the
    * driver-side merge regardless of vocabulary size. Ties break by token
    * ascending for determinism.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Split each document into token windows of `chunkSize` whitespace
    * tokens with `overlap` tokens of shared context between consecutive
    * chunks — the context-length packing step before tokenization. The
    * final window is shorter rather than padded, and a window fully
    * contained in its predecessor is never emitted (chunk count =
    * `1 + ceil(max(0, n - chunkSize) / stride)`). Pure explode-projection:
    * zero shuffles, output rows ≈ input tokens / stride. Documents with
    * no tokens produce no chunks.
    *
    * Returns (idCol, chunk_idx, chunk_text, n_tokens); chunk_text is the
    * window re-joined with single spaces (original inter-token whitespace
    * is not preserved — downstream tokenizers split on whitespace anyway).
    */
  def chunkTokens(
      df: DataFrame,
      textCol: String,
      idCol: String,
      chunkSize: Int,
      overlap: Int = 0,
  ): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(overlap >= 0 && overlap < chunkSize, "overlap must be in [0, chunkSize)")
    val stride = chunkSize - overlap
    val toks = wsTokens(col(textCol))
    val n = size(toks)
    val nChunks =
      (lit(1) + floor((greatest(lit(0), n - chunkSize) + lit(stride - 1)).cast("double") / stride))
        .cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1), i =>
      struct(
        i.cast("int").as("chunk_idx"),
        concat_ws(" ", slice(toks, i * stride + 1, lit(chunkSize))).as("chunk_text"),
        least(lit(chunkSize), n - i * stride).cast("int").as("n_tokens")))
    df.filter(n > 0)
      .select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.chunk_text"), col("c.n_tokens"))
  }

  /** Sequence packing: assign token chunks (from [[chunkTokens]]) to
    * fixed-budget training sequences — the step that turns a curated
    * corpus into dense model inputs.
    *
    * Deterministic AND parallel, which naive greedy packing is not: a
    * single global concatenation order serializes the whole corpus
    * through one window partition (a scale-killer), while per-Spark-
    * partition packing changes output with the cluster layout. Instead
    * documents hash (salted md5, as in [[Sample.saltedHash]]) into
    * `groups` independent packing streams; within a stream, chunks pack
    * in (id, chunk_idx) order by cumulative token count — `groups`
    * parallel window partitions, identical output on any layout. Size
    * `groups` ≥ the cluster's parallelism; each stream's packing is
    * sequential by construction (that IS packing), so more groups =
    * more parallelism with no semantic change to any other stream.
    *
    * A chunk lands in sequence `floor(tokens_before_it / budget)`:
    * sequences fill to at least `budget` and may overrun by up to one
    * chunk (train-time truncation's usual contract). Exact no-overrun
    * packing would require look-ahead; pick `budget` a multiple of the
    * chunk size to make overrun impossible.
    *
    * Returns the chunk rows + (pack_group, seq_idx).
    */
  def packChunks(
      chunks: DataFrame,
      idCol: String,
      budget: Int,
      groups: Int = 64,
      salt: String = "",
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(groups >= 1, "groups must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pack_group"))
      .orderBy(col(idCol), col("chunk_idx"))
    chunks
      .withColumn("pack_group",
        pmod(Sample.saltedHash(col(idCol), salt), lit(groups.toLong)).cast("int"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_idx",
        floor((col("__cum") - col("n_tokens")).cast("double") / budget).cast("int"))
      .drop("__cum")
  }

  /** Streaming twin of [[decontaminate]] at `minOverlap = 1`: drop any
    * streamed document sharing ≥ 1 word n-gram with the static benchmark
    * set. The batch inverted-index + count shape needs a streaming
    * aggregation; the stream-native form is a stream-static LEFT ANTI
    * join on `array_contains(doc_shingle_hashes, bench_hash)` — stateless
    * (no watermark, no state store), with the deduplicated benchmark hash
    * set broadcast. Cost is O(|bench hashes|) per document, the right
    * trade for eval-set-sized benchmarks (≤ a few hundred k n-grams);
    * decontaminating against something corpus-sized belongs in the batch
    * operator.
    */
  def decontaminateStream(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String,
      benchTextCol: String,
      n: Int = 8,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    def shingleHashes(text: Column): Column =
      array_distinct(transform(
        graft.functions.GraftFunctions.wordShingles(text, n), s => xxhash64(s)))
    val benchHashes = bench
      .select(explode(shingleHashes(col(benchTextCol))).as("__bh"))
      .dropDuplicates("__bh")
    docs.withColumn("__sh", shingleHashes(col(textCol)))
      .join(broadcast(benchHashes), expr("array_contains(__sh, __bh)"), "left_anti")
      .drop("__sh")
  }

  /** HTML → text extraction — the step between the WARC response record
    * and every text-quality operator (crawled pages are HTML; Gopher/C4
    * metrics over raw markup measure the markup). A fixed, order-fixed
    * regexp cascade (each construct valid and identical under Java
    * regex and RE2, so the whole pass is oracle-checkable):
    *
    *  1. `<script>`/`<style>` elements removed WITH their content;
    *  2. comments removed;
    *  3. block-level closers (`<br>`, `</p>`, `</div>`, `</h1-6>`,
    *     `</li>`, `</tr>`, `</title>`) become newlines (layout → line
    *     structure, which the line-oriented cleaners key on);
    *  4. every remaining tag stripped;
    *  5. the six ubiquitous entities decoded (`&lt; &gt; &quot; &#39;
    *     &nbsp; &amp;` — amp LAST, so `&amp;lt;` correctly yields the
    *     literal text `&lt;`); rarer entities pass through verbatim;
    *  6. whitespace normalized (runs of spaces/tabs/CRs → one space,
    *     space around newlines dropped, ≥3 newlines → blank line,
    *     ends trimmed).
    *
    * Deliberately a lexical extractor, not a DOM parser: no recovery
    * for `<` used as a bare less-than (left verbatim when unclosed) and
    * no per-element visibility rules — the 99% crawl shape at a
    * per-row codegen'd cost, with failure modes that are local and
    * visible. A pure scan projection; compose as
    * `readWarc → htmlToText → quality battery`.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>|(?is)<style[^>]*>.*?</style>", "")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", "")
    val blocks = regexp_replace(noComment,
      "(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)[^>]*>", "\n")
    // only plausible tags: "<" must open "</tag", "<tag", or "<!…" —
    // a bare less-than ("price < 100") never anchors a strip, even with
    // a real tag later on the line
    val noTags = regexp_replace(blocks, "<(/?[A-Za-z][^>]*|![^>]*)>", "")
    val entities = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&nbsp;", " "), "&amp;", "&")
    trim(regexp_replace(regexp_replace(regexp_replace(entities,
      "[ \\t\\r]+", " "), " *\\n *", "\n"), "\\n{3,}", "\n\n"))
  }

  /** Boilerplate-LINE removal over extracted text: drop every line
    * matching `pattern` (anchor it — `^…$` — for whole-line rules) and
    * re-join the rest with `\n`. The line-level cleaning stage of crawl
    * ingest (the deterministic core of jusText/trafilatura-style
    * boilerplate stripping: nav bars, repeated titles, footers arrive as
    * their own lines from [[htmlToText]]'s block-tag breaks). A pure
    * codegen'd HOF projection — zero shuffles at any scale — with an
    * exact SQL mirror (`list_filter` over `string_split`; Java's
    * `rlike` and DuckDB's `regexp_matches` are both substring-match, so
    * anchored patterns behave identically).
    */
  def stripLines(text: Column, pattern: String): Column =
    array_join(filter(split(text, "\n"), l => !l.rlike(pattern)), "\n")

  /** URL canonicalization for crawl-level dedup — the first dedup key of
    * any web pipeline (the same page is crawled as `HTTP://Site.com/a`,
    * `http://site.com:80/a?utm_source=x`, `http://site.com/a#top`…).
    * Rules, all order-fixed and engine-portable (simple regex + list
    * sort, identical under Java regex and RE2):
    *
    *  1. fragment dropped;
    *  2. scheme and host lowercased (path/query case is significant and
    *     kept);
    *  3. default port stripped (`:80` for http, `:443` for https);
    *  4. empty path → `/`;
    *  5. tracking params dropped (`utm_*`, `gclid`, `fbclid`,
    *     `msclkid`), remaining query params SORTED (param order is
    *     almost never semantic; sorting merges permutations);
    *  6. non-URL input (no `scheme://`) → NULL.
    *
    * A pure codegen'd projection — canonicalize, then exact-dedup on
    * the result like any other digest. Deliberately NOT dropping
    * `www.` or trailing slashes: those can change the page; use
    * [[urlDomain]] for the host-level rollup.
    */
  def canonicalUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*$", "") // 1. fragment
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val path0 = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val params = filter(split(regexp_extract(u, "\\?([^#]*)", 1), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=&]*|gclid|fbclid|msclkid)(=|$)"))
    val qs = array_join(sort_array(params), "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** The registrable-host rollup key: lowercased host, leading `www.`
    * stripped, port dropped; NULL for non-URLs. (A public-suffix-exact
    * registrable domain needs the PSL — this is the standard
    * dependency-free approximation; hosts with country-code
    * second-level domains group at the full host.)
    */
  def urlDomain(url: Column): Column =
    nullif(regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1)),
      "^www\\.", ""), lit(""))

  /** Per-domain corpus profile: the crawl-curation rollup (how much
    * text does each site contribute, is one domain flooding the mix) —
    * one hash aggregation on the [[urlDomain]] key.
    */
  def domainStats(df: DataFrame, url: Column, text: Column): DataFrame =
    df.groupBy(urlDomain(url).as("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(text).cast("long")).as("n_tokens"),
        sum(octet_length(text).cast("long")).as("n_bytes"))

  /** PII scrubbing patterns — deliberately simple constructs (character
    * classes, bounded quantifiers) that Java regex (Spark) and RE2
    * (DuckDB) interpret identically, so the whole cascade is
    * oracle-checkable. Order matters and is fixed: URLs first (an email
    * or digit run inside a URL must become part of `<URL>`, not its own
    * tag), then emails, then phone-like digit runs over what remains.
    */
  val urlPattern = """https?://[^\s]+"""
  val emailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val phonePattern = """\+?[0-9][0-9()\-\s]{6,}[0-9]"""

  /** Scrub URLs / emails / phone-like digit runs to `<URL>` / `<EMAIL>` /
    * `<PHONE>` tags — the standard PII/noise pass before training. A pure
    * codegen'd projection (three chained regexp_replace), zero shuffles;
    * idempotent (tags contain no pattern characters).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlPattern, "<URL>"),
        emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** Redaction counts, measured at the cascade stage where each pattern
    * actually applies (emails counted after URL removal, phones after
    * both) so they always equal the number of tags redactPii emits.
    */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val afterUrl = regexp_replace(text, urlPattern, "<URL>")
    val afterEmail = regexp_replace(afterUrl, emailPattern, "<EMAIL>")
    Seq(
      "n_urls" -> regexp_count(text, lit(urlPattern)),
      "n_emails" -> regexp_count(afterUrl, lit(emailPattern)),
      "n_phones" -> regexp_count(afterEmail, lit(phonePattern)),
    )
  }

  /** Encoding-hygiene patterns, shared with the oracle SQL: bare control
    * characters (tab/newline/CR are legitimate text structure and
    * excluded), the U+FFFD replacement character (the smoking gun of a
    * mis-decoded byte stream — "mojibake"), and non-ASCII generally.
    * Simple character classes only, so Java regex and RE2 agree.
    */
  val controlPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
  val replacementChar = "�"

  /** Encoding-quality metrics: control-char count, replacement-char count,
    * and non-ASCII ratio — the decode-sanity gate a crawl pipeline runs
    * before any language or quality scoring (a document full of U+FFFD
    * scores "fluent" on length metrics while being garbage). Pure
    * codegen'd projections, zero shuffles; non-ASCII ratio is a signal to
    * pair with [[languageId]], not a filter by itself (CJK text is
    * legitimately ~100% non-ASCII).
    */
  def encodingMetrics(text: Column): Seq[(String, Column)] = Seq(
    "n_control" -> regexp_count(text, lit(controlPattern)),
    "n_replacement" -> regexp_count(text, lit(replacementChar)),
    "nonascii_ratio" -> round(
      regexp_count(text, lit("[^\\x00-\\x7F]")).cast("double") / greatest(length(text), lit(1)), 6),
  )

  /** Phrase-blocklist predicate: true iff the lowercased text contains
    * ANY of the phrases — C4's "bad words" page-removal rule
    * generalized to arbitrary curation lists. One
    * [[graft.functions.ContainsAny]] Aho–Corasick probe per row,
    * O(text) regardless of list size; the `contains OR contains` chain
    * this replaces is O(list × text) with codegen that grows per
    * phrase — unusable at real blocklist sizes (C4's list is ~400
    * phrases; URL blocklists run to 100k+). The automaton ships with
    * the plan as one reference object. Requires
    * `GraftFunctions.register`.
    */
  def blocklisted(text: Column, phrases: Seq[String]): Column =
    graft.functions.GraftFunctions.containsAny(
      lower(text), phrases.map(_.toLowerCase(java.util.Locale.ROOT)).distinct)

  /** Compression-ratio quality signal: raw-DEFLATE compressed length of
    * the UTF-8 bytes over the byte length ([[graft.functions.DeflateLen]]
    * native expression — thread-local Deflater, codegen'd, shuffle-free).
    * Low ratio = redundant text (templates, boilerplate, generated spam)
    * — structure the n-gram repetition meters miss when the repeats are
    * long-range or lightly mutated; near-1 ratio on long text = high
    * entropy (random strings, encoded blobs). The standard cheap
    * redundancy meter beside [[repetitionMetrics]]. Requires
    * `GraftFunctions.register` (driver callers do it).
    *
    * Deterministic per JDK zlib; not contracted across JVM vendors, so
    * the driver row is rows-only with bounds/determinism contracts
    * (DriverSuiteSpec) instead of a DuckDB oracle.
    */
  def compressionMetrics(text: Column): Seq[(String, Column)] = {
    val n = octet_length(text).cast("long")
    val dl = graft.functions.GraftFunctions.deflateLen(text)
    Seq(
      "n_bytes" -> n,
      "deflate_len" -> dl,
      "compress_ratio" ->
        round(dl.cast("double") / greatest(n, lit(1L)).cast("double"), 6))
  }

  /** Canonical text: lowercase, whitespace collapsed, trimmed. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Content fingerprint: md5 of the normalized text. Identical in DuckDB
    * (`md5(...)`) for oracle parity.
    */
  def fingerprintMd5(text: Column): Column = md5(normalized(text).cast("binary"))

  /** Rolling-hash fingerprint: the minimum 60-bit hash over the document's
    * word shingles (a 1-hash MinHash) — robust to local edits, cheap to
    * compare. Null for documents with fewer than `shingleSize` words.
    * Shingling runs in the native `word_shingles` expression (callers must
    * `GraftFunctions.register` first); the per-shingle hash is the leading
    * 15 hex chars of md5 parsed as an integer, which DuckDB reproduces
    * bit-for-bit (`CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`) — a
    * true SQL oracle, unlike xxhash64.
    */
  def fingerprintRolling(text: Column, shingleSize: Int = 5): Column =
    array_min(transform(
      graft.functions.GraftFunctions.wordShingles(text, shingleSize),
      s => graft.functions.GraftFunctions.md5Long60(s.cast("binary"))))

  /** Winnowing fingerprint (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): slide a window of `w` consecutive k-shingle hashes
    * and keep each window's minimum; the DISTINCT selected values, sorted,
    * are the fingerprint. The winnowing guarantee: any two documents
    * sharing a token run of at least `w + k - 1` words share at least one
    * fingerprint hash — positional robustness [[fingerprintRolling]]'s
    * single global minimum cannot give — while keeping the fingerprint a
    * bounded ~`2/(w+1)` fraction of the shingle count.
    *
    * Documents with fewer than `w` shingles keep their global minimum
    * (never an empty fingerprint while any shingle exists); documents
    * shorter than `k` tokens fingerprint to the empty array. Entirely a
    * per-row projection over the native shingler + md5-derived hashes
    * (bit-identical in DuckDB — true SQL oracle): zero shuffles, scan
    * speed. The window-min selection runs in the native O(n)
    * [[graft.functions.WinnowSelect]] deque — the HOF formulation
    * re-evaluated the whole hash chain per window, O(n²) md5s per
    * document. Callers must `GraftFunctions.register` first.
    */
  def fingerprintWinnow(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.functions.GraftFunctions.winnowSelect(
      transform(
        graft.functions.GraftFunctions.wordShingles(text, k),
        s => graft.functions.GraftFunctions.md5Long60(s.cast("binary"))),
      w)

  /** Candidate-volume model constants for [[winnowConfigFor]], calibrated
    * on ProbeWinnow's measured counts (SCALING_r12 §4) at the default
    * window w₀ = 4: candidates / n² was 1.4527e-5 at sf30 (1.5M docs,
    * 32,686,123 candidates) and 1.4509e-5 at sf100 (5M docs, 362,736,650)
    * — constant across a 3.33× decade, the empirical proof the operator
    * is candidate-quadratic BY SHAPE on near-template corpora. Widening
    * the winnow window thins every document's fingerprint set by
    * ~(w₀+1)/(w+1) (the winnowing density law, SIGMOD 2003 §4); naively
    * that would attenuate Σ C(size, 2) — the join's emission — by its
    * SQUARE, but window-min selection is BIASED toward small hash values,
    * so at wide windows the surviving fingerprints concentrate in fewer
    * distinct values and buckets thin sub-proportionally. The measured
    * attenuation exponent (ProbeWinnow, round 13, two independent
    * points): 2.33× emission drop for a 2× density ratio at sf100
    * (α = 1.22) and 9.05× for 5.8× at sf300 (α = 1.25) — the model uses
    * α = 1.25 and the [[winnowOverlapAuto]] guard ceiling carries 10×
    * slack for residual calibration error.
    */
  private val WinnowCalibDensity = 1.46e-5
  private val WinnowCalibW = 4
  private val WinnowCalibAlpha = 1.25

  /** Solve the winnow window `w` for a corpus of `n` documents against a
    * candidate-pair budget — the [[graft.ops.Dedup.simHashKeyBlocksFor]]
    * treatment for [[winnowOverlap]], so the one counts-proven
    * output-quadratic operator no longer ships the n² as its 100 TB
    * default. The model:
    *
    *   predicted(w, n) = 1.46e-5 · n² · ((w₀+1)/(w+1))^1.25
    *
    * (constants above). The solver widens `w` from the caller's floor
    * until the predicted candidate volume fits the budget or `maxW` is
    * reached. `minShared` passes through UNCHANGED: it thresholds which
    * overlaps are REPORTED (semantics) while contributing nothing to the
    * join's candidate volume (cost), so auto-raising it would silently
    * change answers without bounding the n² — the opposite of what a
    * scale dial may do. The returned `w` is config, not semantics, in
    * the dial sense: the winnowing guarantee degrades gracefully
    * (guaranteed-collision run length grows to w+k-1) and at corpora
    * small enough to fit the budget the solver returns the floor
    * unchanged, which pins oracle parity at the correctness SFs.
    */
  def winnowConfigFor(
      n: Long,
      candidateBudget: Double = 1e8,
      minShared: Int = 2,
      wFloor: Int = 4,
      maxW: Int = 63,
  ): (Int, Int) = {
    require(n >= 0 && candidateBudget > 0 && wFloor >= 1 && maxW >= wFloor)
    def predicted(w: Int): Double =
      WinnowCalibDensity * n.toDouble * n *
        math.pow((WinnowCalibW + 1).toDouble / (w + 1), WinnowCalibAlpha)
    var w = wFloor
    while (w < maxW && predicted(w) > candidateBudget) w += 1
    (w, minShared)
  }

  /** Predicted candidate volume at (n docs, window w) under the
    * [[winnowConfigFor]] model — exposed so callers (and the scale notes)
    * can stamp model-vs-measured next to the guard's actual count.
    */
  def winnowPredictedCandidates(n: Long, w: Int): Double =
    WinnowCalibDensity * n.toDouble * n *
      math.pow((WinnowCalibW + 1).toDouble / (w + 1), WinnowCalibAlpha)

  /** Winnow-fingerprint overlap: pairs of documents sharing at least
    * `minShared` winnowed hashes — near-dup / plagiarism CANDIDATES from
    * fingerprints alone, at ~2/(w+1) the inverted-index rows a
    * full-shingle overlap would cost. The winnowing guarantee bounds what
    * the thinning can miss: any shared run of `w + k - 1` or more tokens
    * still collides; only shorter overlaps can escape.
    *
    * Scale shape: the inverted index carries (id, hash) longs only
    * (fingerprints are already distinct per doc); the self-join keys on
    * the hash, with the shared [[Dedup.dropOverfullBuckets]] safety valve
    * capping a pathological hash before the join turns quadratic; the
    * pair aggregate is map-side combinable.
    *
    * Fault tolerance and retention: with the guard on, the inverted index
    * is scratch ([[Scratch.checkpoint]]): a reliable checkpoint when the
    * session has a checkpoint directory, which survives executor loss,
    * and a `localCheckpoint` otherwise, whose loss with an executor fails
    * the job. It stays for as long as the returned frame is reachable, so
    * every action on it reads it; Spark's ContextCleaner frees it only
    * after a driver GC has collected that frame
    * (`spark.cleaner.periodicGC.interval`, 30 min by default), not after
    * the first action.
    */
  def winnowOverlap(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      w: Int = 4,
      minShared: Int = 2,
      maxBucketSize: Int = 10000,
      maxCandidatePairs: Long = 2000000000L,
  ): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxBucketSize > 0, "maxBucketSize must be positive")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val idx = docs.select(col(idCol), explode(fingerprintWinnow(col(textCol), k, w)).as("__h"))
    // fail-loud candidate-volume guard (the dropOverfullBuckets pattern
    // lifted to PAIR level): one aggregation over the byte-small inverted
    // index measures the self-join's exact emission Σ C(bucket, 2) BEFORE
    // the quadratic join runs, so a 100 TB run cannot silently pay n² —
    // it either fits the declared ceiling or stops with the dials named.
    // Cost: one fingerprint scan + a map-combinable agg — O(n), measured
    // from this call's own input. maxCandidatePairs <= 0 disables
    // (audit-scale escape hatch, deliberate and in writing).
    val (inv, anyOverfull) = if (maxCandidatePairs <= 0) (idx, true) else {
      // the guard scans the index twice (emission agg + the join) —
      // checkpoint the byte-small (id, hash) rows so the md5 fingerprint
      // pass over the corpus is paid ONCE (spills to disk if the index
      // outgrows memory; ~16 B/fingerprint). A scratch checkpoint is never
      // registered in the CacheManager: it lives exactly as long as the
      // frame that reads it — the returned join, or nothing on a refusal —
      // and Spark's ContextCleaner frees it once that frame is gone
      val inv = Scratch.checkpoint(idx, eager = false)
      // buckets over maxBucketSize never reach the join (dropOverfullBuckets
      // below), so they emit nothing; n·(n−1) summed as LONG (SQL `/` would
      // promote to double), halved exactly in Scala — n·(n−1) is always
      // even. The same pass counts the over-full buckets: with none (the
      // healthy corpus) the drop never enters the plan
      val m = inv.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
        .agg(
          coalesce(sum(when(col("__n") <= maxBucketSize, col("__n") * (col("__n") - 1))), lit(0L)),
          count(when(col("__n") > maxBucketSize, lit(1))))
        .collect().head
      val vol = m.getLong(0) / 2
      log.info(s"winnowOverlap: candidate_pairs=$vol (guard ceiling $maxCandidatePairs)")
      if (vol > maxCandidatePairs)
        throw new IllegalArgumentException(
          s"winnowOverlap: the fingerprint self-join would emit $vol candidate pairs " +
            s"(> $maxCandidatePairs allowed) — the measured n² frontier (SCALING_r12 §4). " +
            s"Widen the winnow window (winnowConfigFor(n=${docs.count()}) solves it from " +
            "the candidate-volume model), raise maxBucketSize-capped hygiene upstream, " +
            "route near-template corpora through the banded near-dup operators " +
            "(Dedup.minHashNearDups / simHashNearDupsWide), or raise/disable " +
            "maxCandidatePairs deliberately for an audit-scale run.")
      (inv, m.getLong(1) > 0)
    }
    // pinned-exchange self-join (the embeddingNearDups treatment): the
    // inverted index is byte-small while the hash-bucket self-join's
    // emission is quadratic in bucket size, so AQE's input-byte coalesce
    // decisions on it are the run-to-run variance lever; a numbered user
    // repartition is coalesce-exempt, and the merge hints forbid a
    // broadcast plan that would stream the emission through the scan's
    // task count. On near-template corpora this operator is candidate-
    // quadratic BY SHAPE (shared fingerprints grow with the corpus —
    // measured frontier, SCALING_r12 §2); the pin makes its cost
    // deterministic, not linear. The over-full-bucket window, when needed,
    // runs on the same hash partitioning, so the index shuffles once, after
    // the checkpoint (a checkpoint does not carry its partitioning forward).
    // The window then runs once per join side; running it once instead
    // (behind a second checkpoint, or as a broadcast anti-join on the
    // over-full keys) adds a job and a shuffle and measured slower.
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    val byHash = inv.repartition(np, col("__h"))
    val pinned = (if (!anyOverfull) byHash
      else Dedup.dropOverfullBuckets(byHash, Seq("__h"), maxBucketSize,
        "winnowOverlap", logMetric = false)).hint("merge")
    pinned.as("a").join(pinned.as("b"),
        col("a.__h") === col("b.__h") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[winnowOverlap]] with the window SOLVED from the corpus size — the
    * bounded default a 100 TB run should reach for. Counts the corpus
    * (one cheap action over the id column), asks [[winnowConfigFor]] for
    * the widest-needed window under `candidateBudget`, logs the chosen
    * config with the model's predicted candidate volume (stamp it next to
    * the guard's measured count in the scale notes), and delegates. At
    * corpora small enough that the floor window already fits the budget
    * (every correctness SF) the result is bit-identical to
    * `winnowOverlap(..., w = wFloor)` — the dial is config, not
    * semantics, and the q_text_winnow_auto ≡ q_text_winnow_overlap
    * oracle pins that.
    */
  def winnowOverlapAuto(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      minShared: Int = 2,
      maxBucketSize: Int = 10000,
      candidateBudget: Double = 1e8,
      wFloor: Int = 4,
  ): DataFrame = {
    val n = docs.select(col(idCol)).count()
    val (w, ms) = winnowConfigFor(n, candidateBudget, minShared, wFloor)
    val predicted = winnowPredictedCandidates(n, w)
    log.info(f"winnowOverlapAuto: n=$n solved w=$w minShared=$ms " +
      f"predicted_candidates=$predicted%.3e budget=$candidateBudget%.1e")
    // guard ceiling: 10× the budget — the model is calibrated on
    // near-template synth corpora and may undershoot elsewhere; a run
    // within one decade of the model proceeds, beyond that fails loudly
    winnowOverlap(docs, textCol, idCol, k, w, ms, maxBucketSize,
      maxCandidatePairs = math.max((candidateBudget * 10).toLong, 1L))
  }

  /** Benchmark decontamination, step 1: per corpus document, the number of
    * DISTINCT word `n`-grams it shares with the benchmark set (the union
    * of all benchmark documents' n-grams). The canonical training-data
    * hygiene op: a document overlapping an evaluation set must not be
    * trained on.
    *
    * Scale shape: both sides shingle in the native `word_shingles`
    * expression (one scan each); the join key is the 64-bit shingle hash,
    * so the shuffle carries (hash, id) longs — never text. The benchmark
    * side is a deduplicated hash set, typically a few million rows for a
    * full eval-suite union, which AQE broadcasts; corpus-side cost is one
    * scan + one narrow aggregation. Counts are over xxhash64 of the
    * shingles (collision odds ~ (distinct shingles)²/2⁶⁴ — immaterial,
    * and the oracle at test SFs confirms exact equality with string-keyed
    * counts). Documents with zero overlap are absent from the result.
    *
    * Returns (idCol, n_overlap).
    */
  def contaminationCounts(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def shingleHashes(text: Column): Column =
      array_distinct(transform(
        graft.functions.GraftFunctions.wordShingles(text, n), s => xxhash64(s)))
    val cs = corpus
      .select(col(idCol), explode(shingleHashes(col(textCol))).as("__h"))
    val bs = bench
      .select(explode(shingleHashes(col(textCol))).as("__h"))
      .dropDuplicates("__h")
    cs.join(bs, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Corpus profile: per-language document counts and token-count
    * statistics (mean + exact interpolated percentiles) — the "know your
    * data" summary a pipeline runs before choosing mixture weights and
    * length cutoffs.
    *
    * Scale shape: one scan computes (language, token count) per document,
    * then a single shuffle groups by language. `percentile` is Spark's
    * EXACT aggregate (same linear interpolation as DuckDB's
    * `quantile_cont`, hence oracle-equal) — it buffers each group's
    * values, which is right for the handful of language groups here; at
    * extreme cardinalities swap in `approx_percentile` and drop the
    * oracle expectation to tolerance.
    */
  def corpusProfile(docs: DataFrame, textCol: String): DataFrame =
    profiled(docs, textCol)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("nw")), 6).as("avg_tokens"),
        round(percentile(col("nw"), lit(0.5)), 6).as("p50_tokens"),
        round(percentile(col("nw"), lit(0.9)), 6).as("p90_tokens"),
        max(col("nw")).as("max_tokens"),
      )

  /** The per-document (lang, token count) projection both profile shapes
    * aggregate over.
    */
  private def profiled(docs: DataFrame, textCol: String): DataFrame =
    docs.select(languageId(col(textCol)).as("lang"),
      tokenCount(col(textCol)).as("nw"))

  /** Streaming twin of [[corpusProfile]]: the same per-language counts,
    * mean, and max over an unbounded stream (complete output mode — the
    * state is one row per language, which is what makes this streamable).
    * The exact percentiles are batch-only: they buffer every group value,
    * unbounded state on a stream; monitor percentile drift with periodic
    * batch profiles over closed windows instead.
    */
  def corpusProfileStream(docs: DataFrame, textCol: String): DataFrame =
    profiled(docs, textCol)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("nw")), 6).as("avg_tokens"),
        max(col("nw")).as("max_tokens"),
      )

  /** Corpus-level duplication meter: per document, how many of its
    * DISTINCT word `k`-shingles occur in at least `minDocs` documents —
    * the span-level signal behind substring-dedup decisions (Lee et al.
    * 2021 "Deduplicating Training Data Makes Language Models Better"
    * measure duplication by spans repeated across the corpus, not within
    * a document — the within-doc twin is [[repetitionMetrics]]). High
    * `dup_frac` means the document is largely assembled from text that
    * exists elsewhere: quote farms, mirrors, template spam.
    *
    * Scale shape: shingles hash to the 60-bit md5-derived key
    * ([[graft.functions.GraftFunctions.md5Long60]], SQL-recomputable), so
    * every wide operation moves (id, hash) longs, never text: one
    * aggregation counts doc-frequency per hash, a semi-join keeps each
    * document's corpus-duplicated hashes, and a per-doc count + join back
    * produces the meter. The duplicated-hash set is corpus-sized, so it
    * is NOT broadcast — unlike [[removeBoilerplate]]'s line head, this
    * flows through partitioned joins at any scale.
    *
    * Returns every input row's (idCol, n_shingles, n_dup, dup_frac) —
    * documents shorter than `k` words report (0, 0, 0.0). Callers must
    * `GraftFunctions.register` the session (native `word_shingles`).
    */
  def corpusDupStats(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      minDocs: Int = 2,
  ): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would count every shingle as duplicated")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val hashes = array_distinct(transform(
      graft.functions.GraftFunctions.wordShingles(col(textCol), k),
      s => graft.functions.GraftFunctions.md5Long60(s.cast("binary"))))
    val perDoc = docs.select(col(idCol), hashes.as("__hs"))
    val inv = perDoc.select(col(idCol), explode(col("__hs")).as("__h"))
    val dupHashes = inv.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"))
    val dupCounts = inv.join(dupHashes, Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nd"))
    perDoc.select(col(idCol), size(col("__hs")).cast("long").as("n_shingles"))
      .join(dupCounts, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_shingles"),
        coalesce(col("__nd"), lit(0L)).as("n_dup"),
        round(when(col("n_shingles") === 0, lit(0.0))
          .otherwise(coalesce(col("__nd"), lit(0L)).cast("double") / col("n_shingles")), 6)
          .as("dup_frac"))
  }

  /** Substring-span dedup (the span-level rewrite behind
    * [[corpusDupStats]]'s meter — Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): remove from every document the
    * token spans covered by a word `k`-shingle that occurs in at least
    * `minDocs` DISTINCT documents, and reconstruct the survivors. Unlike
    * document-level dedup, BOTH copies lose the duplicated span — the
    * goal is that no duplicated passage is trained on twice, not that one
    * canonical copy survives.
    *
    * Output per input row: (idCol, text_dedup, n_tokens, n_removed),
    * where `text_dedup` is the kept tokens of the shared lowercase-alnum
    * tokenization joined by single spaces (span dedup operates on the
    * normalized token stream, the same normalization every dedup operator
    * here uses). Documents shorter than `k` tokens pass through whole;
    * within-document repetition alone never triggers removal (that's
    * [[repetitionMetrics]]'s job).
    *
    * Scale shape: shingle hashes ([[graft.functions.GraftFunctions.md5Long60]] —
    * 60-bit, collision-safe to ~2^30 distinct shingles; widen to full md5
    * beyond) explode to an (id, pos, hash) inverted index; the
    * document-frequency aggregate and the start-position semi-join
    * shuffle only longs — and at the default minDocs = 2 the df gate is
    * ONE map-side-combinable aggregation (min(id) != max(id) per hash)
    * whose surviving hash set, measured small, broadcasts back so the
    * index itself never shuffles. The starts side is DF-GATED — it holds only
    * documents that actually share a `k`-run with `minDocs` others, which
    * ProbeSpan measures at ~0.33% of shingle positions across three
    * decades (sf1/sf30/sf100: 0.321%/0.333%/0.353% — linear payload,
    * SCALING_r13) — so the reassembly join MEASURES it (one aggregate
    * over the locally checkpointed byte-small side, whose blocks live as
    * long as the returned frame) and broadcasts when the total
    * duplicated-position payload fits `broadcastMaxPositions`: document
    * text then shuffles and sorts ZERO times (the sf100 sort of the
    * multi-GB text side was the row's dominant cost). Above the bound —
    * near-template corpora where duplication is corpus-fraction-sized —
    * it falls back to the spill-safe merge join pinned on both sides
    * (never estimator-chosen: the estimator measurably flipped to
    * broadcasting TEXT at the sf100 rung, SCALING_r12 §2; and never
    * shuffle_hash, whose unspillable build OOM'd the r12 sweep). The
    * covered-position test is a per-row higher-order filter over the
    * compact sorted starts array. Callers must `GraftFunctions.register`
    * the session (native `word_shingles`).
    *
    * Fault tolerance and retention: with a bound above 0 the starts side
    * is scratch ([[Scratch.checkpoint]]): a reliable checkpoint when the
    * session has a checkpoint directory, which survives executor loss,
    * and a `localCheckpoint` otherwise, whose loss with an executor fails
    * the job. It stays for as long as the returned frame is reachable;
    * Spark's ContextCleaner frees it only after a driver GC has collected
    * that frame (`spark.cleaner.periodicGC.interval`, 30 min by default),
    * not after the first action. `broadcastMaxPositions <= 0` checkpoints
    * nothing.
    */
  def dedupSpans(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      minDocs: Int = 2,
      broadcastMaxPositions: Long = 32000000L,
  ): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would remove every document's every span")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val shingleHashes = transform(
      graft.functions.GraftFunctions.wordShingles(col(textCol), k),
      s => graft.functions.GraftFunctions.md5Long60(s.cast("binary")))
    // null ids never count toward a hash's document frequency: the
    // minDocs==2 fast path's min/max ignore null ids while the general
    // distinct-count path would count (null, hash) rows — filtering them
    // here keeps the two paths' df semantics identical (a null-id row is
    // a data defect, not a document; its own text is never span-edited
    // either way because the final id-equijoin can't match a null key)
    val inv = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol), posexplode(shingleHashes).as(Seq("__pos", "__h")))
    // document-frequency gate. minDocs = 2 (the default): a hash occurs
    // in >= 2 DISTINCT documents iff min(id) != max(id) over its rows —
    // ONE map-side-combinable aggregation replaces the general path's
    // distinct + re-aggregate + semi-join chain, whose three ~full-index
    // shuffles coexist as lingering scratch within the job and exhausted
    // the sf300 box's ~40 GB free disk (SCALING_r13). The general
    // minDocs > 2 path keeps the exact distinct-count pipeline.
    // NEAR-UNIQUE GROUPS make the default aggregation plan spill twice
    // (ProbeSpanCost, r14: the df-gate stage alone went 25.3 -> 124.1 s
    // per 3x docs while every scan stage stayed linear). Shingle hashes
    // barely repeat — ~one group per input row — so the map-side partial
    // aggregate reduces nothing yet builds (and spills) a full hash table
    // per task, and the reduce side at the session's 32 partitions holds
    // tens of millions of groups per task and spills again. Fix: a
    // numbered repartition on the hash BEFORE the aggregation. The
    // exchange then carries raw (id,pos,h) rows — the same bytes the
    // partial output would have carried, since there was no reduction to
    // lose — and the partial+final pair runs inside the post-exchange
    // stage over a bounded key range. The partition count derives from
    // the scan's own task count (each scan task holds a rung-independent
    // slice of positions, so keys-per-task stays ~constant as the corpus
    // grows — the property a fixed count loses at the next decade);
    // numbered, so AQE cannot coalesce it back into fat partitions.
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    val aggParts = math.min(2048,
      math.max(np, inv.rdd.getNumPartitions * 8))
    val invByHash = inv.repartition(aggParts, col("__h"))
    val dupHashes =
      if (minDocs == 2)
        invByHash.groupBy(col("__h"))
          .agg(min(col(idCol)).as("__i0"), max(col(idCol)).as("__i1"))
          .filter(col("__i0") =!= col("__i1"))
          .select(col("__h"))
      else
        // the general path's distinct needs an (id, h) distribution of its
        // own — pre-partitioning by hash would only add a second exchange
        inv.select(col(idCol), col("__h")).distinct()
          .groupBy(col("__h"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") >= minDocs)
          .select(col("__h"))
    def startsOf(dup: DataFrame): DataFrame =
      inv.join(dup, Seq("__h"), "left_semi")
        .groupBy(col(idCol))
        .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    // broadcastMaxPositions <= 0 keeps the fully-lazy plan (no action at
    // construction, merge reassembly) for streaming/lazy callers
    val (starts, useBroadcast) =
      if (broadcastMaxPositions <= 0) (startsOf(dupHashes), false)
      else {
        // measure-then-choose on the dup-hash SET: duplicated hashes are
        // payload-sized (ProbeSpan: ~0.33% of positions across three
        // decades), so broadcasting them lets the full inverted index flow
        // scan-side through a broadcast semi-join — the index then never
        // shuffles at all. Near-template corpora where the set outgrows the
        // bound fall back to the shuffled semi-join. The cutoff derives
        // from the caller's ONE scale dial: a dup-hash entry is a single
        // 8-byte long vs a position entry's comparable footprint, so half
        // the position bound keeps the default at ~16M longs (~128 MB
        // relation) on the calibrated box while letting smaller
        // deployments shrink it by shrinking broadcastMaxPositions — a
        // buried constant a caller can't tune is an OOM with a delay
        val dupHashBroadcastMax = math.max(broadcastMaxPositions / 2, 1L)
        val dh = dupHashes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = dh.count()
        log.info(s"dedupSpans: dup_hashes=$n (broadcast cutoff $dupHashBroadcastMax)")
        // measure-then-choose on the reassembly join (the winnowOverlap
        // guard discipline, join-side edition): checkpoint the df-gated
        // side — (id, positions) longs only, never text — and pay one
        // aggregate to learn its TRUE size before choosing the strategy.
        // The scratch checkpoint stays out of the CacheManager; Spark's
        // ContextCleaner frees it with the returned frame
        val p = Scratch.checkpoint(
          startsOf(if (n <= dupHashBroadcastMax) broadcast(dh) else dh), eager = false)
        val m = p.agg(coalesce(sum(size(col("__starts"))), lit(0)).cast("long"),
          count(lit(1))).collect().head
        val positions = m.getLong(0)
        log.info(s"dedupSpans: dup_positions=$positions dup_docs=${m.getLong(1)} " +
          s"(broadcast bound $broadcastMaxPositions)")
        // the measure above fully materialized the starts checkpoint, so
        // the dup-hash set has no consumers left anywhere — release it NOW,
        // in-function (only the checkpoint outlives plan construction).
        // `dh` is the unhinted frame: the broadcast() hint wraps the plan,
        // and only `dh` matches its CacheManager entry
        dh.unpersist(blocking = false)
        (p, positions <= broadcastMaxPositions)
      }
    val toks = tokens(col(textCol))
    docs
      .join(if (useBroadcast) broadcast(starts) else starts.hint("merge"),
        Seq(idCol), "left")
      .withColumn("__starts", coalesce(col("__starts"), array()))
      .withColumn("__kept", filter(toks, (t, i) =>
        !exists(col("__starts"), s => s <= i && i < s + k)))
      .select(
        col(idCol),
        array_join(col("__kept"), " ").as("text_dedup"),
        size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Line-level boilerplate removal (the CCNet/C4 hygiene pass): drop
    * every line whose normalized form appears in at least `minDocs`
    * distinct documents — navigation chrome, cookie banners, headers and
    * footers repeat across a crawl; real prose does not. Documents are
    * split on the literal `sep` (newline for real corpora), lines compare
    * by normalized form ([[normalized]]), and empty-normalized lines are
    * structural, never boilerplate.
    *
    * Scale shape, two passes: (1) the line document-frequency aggregate
    * groups by the 16-byte `unhex(md5(normalized(line)))` digest — the
    * map side hashes and partially aggregates, so the one wide exchange
    * carries (digest, count), never line text; (2) the boilerplate digest
    * set — by construction the head of the line-frequency distribution,
    * vocabulary-bounded, small — collapses to ONE row via `collect_list`
    * and cross-joins back broadcast, so the corpus pass is a pure
    * scan-side projection: each line re-hashes and binary-searches the
    * SORTED broadcast array (native `sorted_bin_contains`, O(log
    * |boilerplate|) per line — the store grows with the corpus, so a
    * linear probe would make this pass quadratic at scale). Zero shuffles
    * touch document text; a deny-list too large to broadcast belongs in
    * an anti-join instead.
    *
    * Documents keep their row even when every line is removed
    * (`text_clean` = empty string). Returns (idCol, text_clean,
    * n_removed); kept lines re-join with `sep`, preserving order.
    */
  def removeBoilerplate(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      sep: String,
      minDocs: Int,
  ): DataFrame =
    removeBoilerplateWith(docs,
      boilerplateDigests(docs, textCol, sep, minDocs), textCol, idCol, sep)

  /** The boilerplate digest STORE: one row per normalized segment
    * occurring in ≥ `minDocs` documents — `(digest)` (16-byte binary,
    * the [[graft.ops.Dedup]] content-digest convention). Persist it
    * (parquet), refresh on corpus change, and hand it to
    * [[removeBoilerplateWith]] — the daily-crawl shape: today's batch
    * is scrubbed against the CORPUS's known boilerplate without
    * recounting history (the [[graft.ops.Dedup.paragraphDigests]]
    * lifecycle, frequency-gated).
    */
  def boilerplateDigests(
      docs: DataFrame,
      textCol: String,
      sep: String,
      minDocs: Int,
  ): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would mark every non-empty line boilerplate")
    val segs = split(col(textCol), java.util.regex.Pattern.quote(sep))
    docs
      .select(explode(array_distinct(
        filter(transform(segs, l => normalized(l)), l => length(l) > 0))).as("__nl"))
      .groupBy(unhex(md5(col("__nl").cast("binary"))).as("digest"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("digest"))
  }

  /** Scrub documents against a PRECOMPUTED boilerplate store — a
    * stateless projection once the store ships as a single sorted
    * PLAN-LITERAL array (collected eagerly at plan-construction time,
    * round 12 — see the inline note), so it composes with streams
    * unchanged (the literal rides the plan; parity-tested).
    * `(idCol, text_clean, n_removed)`; a fully-boilerplate document
    * keeps its row with empty text.
    *
    * The eager collect is driver-bounded by [[boilerplateDigests]]'
    * frequency gate; a guard fails loudly (with the anti-join escape)
    * if a caller hands a store too large for one plan literal.
    */
  def removeBoilerplateWith(
      docs: DataFrame,
      storeDigests: DataFrame,
      textCol: String,
      idCol: String,
      sep: String,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val segs = split(col(textCol), java.util.regex.Pattern.quote(sep))
    def digest(c: Column): Column = unhex(md5(normalized(c).cast("binary")))
    // The store collapses SORTED so the per-segment membership probe is
    // an O(log n) native binary search (sorted_bin_contains), not the
    // O(n) array_contains scan: the store grows WITH the corpus
    // (43/1,683/47,475/171,452 digests at sf0.01/sf1/sf30/sf100), so a
    // linear probe makes the scrub quadratic exactly at scale — measured
    // 201× cost for 30× data (1.16 s → 234 s) before that change.
    // The store ships as a PLAN LITERAL, not a broadcast-joined column
    // (round 12): carrying the corpus-growing array as a per-row column
    // re-materializes it per document row, which is |docs| × |store|
    // work all over again — ProbeBoiler measured the scrub at 27.4 s
    // (47k digests, sf30) → 436.3 s (171k, sf100), 15.9× for 3.33× data,
    // vs ~3.7× once the array is a single plan-reference object. The
    // store was ALREADY driver-bounded (the old collect_list folded it
    // into one broadcast row); the collect below makes that explicit.
    // A deny-list too large for one JVM belongs in an anti-join instead
    // (explode segments → left_anti on digest → reassemble positions).
    val store: Array[Array[Byte]] = storeDigests
      .select(col("digest")).collect().map(_.getAs[Array[Byte]](0))
    // fail-loud ceiling on the plan-literal: 16-byte digests at 4M rows
    // ≈ 64 MB of literal (plus object headers) — beyond that the store
    // stops being a sane plan object and the caller should switch to the
    // distributed anti-join form above instead of OOMing the driver here
    require(store.length <= 4000000,
      s"removeBoilerplateWith: the digest store holds ${store.length} rows — too large " +
        "for a plan-literal probe. Raise boilerplateDigests' minDocs (frequency gate), " +
        "or scrub via the distributed anti-join escape: explode segments → " +
        "left_anti join on digest → reassemble by position.")
    java.util.Arrays.sort(store,
      (a: Array[Byte], b: Array[Byte]) =>
        graft.functions.SortedBinSearch.compareUnsigned(a, b))
    val bl = typedLit(store.toSeq)
    docs
      .withColumn("__kept", filter(segs,
        l => !graft.functions.GraftFunctions.sortedBinContains(bl, digest(l))))
      .select(
        col(idCol),
        array_join(col("__kept"), sep).as("text_clean"),
        (size(segs) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** C4-style line-and-document cleaning (Raffel et al. 2020, "Exploring
    * the Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2 — the heuristics that produced C4 from Common
    * Crawl): keep only lines with at least `minLineWords` whitespace
    * words and (when `requireTerminalPunct`) a terminal punctuation mark
    * (`. ! ? "`); DROP whole documents whose lowercased text contains any
    * `blocklist` phrase (the paper removes pages containing "lorem ipsum"
    * and pages with `{`, a code marker).
    *
    * Surviving documents keep their row even when every line is removed
    * (`text_clean` = empty string — same convention as
    * [[removeBoilerplate]]); kept lines re-join with `sep` in order.
    * Returns (idCol, text_clean, n_lines_kept, n_lines_removed).
    *
    * Scale shape: a single narrow filter + projection — the blocklist
    * test and every line rule are per-row codegen'd builtins, so at
    * 100 TB this is one column-pruned scan with zero shuffles, and the
    * document drop happens before any downstream wide operator sees the
    * row. Fully SQL-expressible (oracle recomputes line-by-line).
    */
  def c4Clean(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n",
      minLineWords: Int = 3,
      requireTerminalPunct: Boolean = true,
      blocklist: Seq[String] = Seq("lorem ipsum", "{"),
  ): DataFrame = {
    val segs = split(col(textCol), java.util.regex.Pattern.quote(sep))
    def lineWords(l: Column): Column =
      size(filter(split(trim(l), "\\s+"), w => length(w) > 0))
    def lineOk(l: Column): Column = {
      val enough = lineWords(l) >= minLineWords
      if (requireTerminalPunct) enough && trim(l).rlike("[.!?\"]$") else enough
    }
    // one Aho–Corasick probe instead of a per-phrase contains chain —
    // same substring semantics, O(text) per row at any list size
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val blocked =
      if (blocklist.isEmpty) lit(false)
      else blocklisted(col(textCol), blocklist)
    val kept = filter(segs, lineOk _)
    docs
      .filter(!blocked)
      .select(
        col(idCol),
        array_join(kept, sep).as("text_clean"),
        size(kept).cast("long").as("n_lines_kept"),
        (size(segs) - size(kept)).cast("long").as("n_lines_removed"))
  }

  /** Flesch-style readability score from three regexp-countable proxies:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)` with
    * sentences = runs of terminal punctuation (min 1 — an unpunctuated
    * doc is one long sentence) and syllables = vowel GROUPS (the standard
    * dictionary-free proxy: "beautiful" → eau+i+u = 3). Not a clinical
    * instrument — a monotone complexity signal for corpus slicing
    * ("route simple text to the small model"), like the quality score.
    * Words are ALPHANUMERIC tokens ([[tokens]]), so symbol-only text has
    * no words and scores null rather than a meaningless number. Pure
    * scan projection; every term SQL-mirrorable.
    */
  def readability(text: Column): Column = {
    val words = size(tokens(text))
    val sentences = greatest(regexp_count(text, lit("[.!?]+")), lit(1))
    val syllables = regexp_count(lower(text), lit("[aeiouy]+"))
    when(words > 0, round(
      lit(206.835)
        - lit(1.015) * (words.cast("double") / sentences)
        - lit(84.6) * (syllables.cast("double") / words), 6))
  }

  /** Clip a document to its first `maxTokens` whitespace tokens — the
    * context-budget truncation step before chunking/packing when a
    * pipeline hard-caps document length ("drop everything past 8k
    * tokens"). Returns the clipped text (tokens rejoined with single
    * spaces — runs of whitespace do not survive clipping, same
    * normalization as [[wsTokens]]) and the number of tokens dropped.
    * Documents at/under the cap pass through with `dropped` = 0 (their
    * whitespace still normalizes). A pure scan projection, zero shuffles;
    * SQL-expressible for oracle parity.
    */
  def truncateTokens(text: Column, maxTokens: Int): (Column, Column) = {
    require(maxTokens >= 1, "maxTokens must be >= 1")
    val ws = wsTokens(text)
    (array_join(slice(ws, 1, maxTokens), " "),
      greatest(size(ws) - maxTokens, lit(0)).cast("long"))
  }

  /** Benchmark decontamination, step 2: corpus rows NOT sharing at least
    * `minOverlap` distinct n-grams with the benchmark — the documents that
    * are safe to train on. Anti-join against the (small) contaminated id
    * set; all columns of `corpus` pass through.
    */
  def decontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minOverlap: Int = 1,
  ): DataFrame = {
    val contaminated = contaminationCounts(corpus, bench, textCol, idCol, n)
      .filter(col("n_overlap") >= minOverlap)
      .select(col(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-prefiltered decontamination — [[decontaminate]] for benchmark
    * sets too big to handle as exact in-memory hash sets. Returns EXACTLY
    * the same rows as `decontaminate(corpus, bench, …)`: the bloom only
    * prunes work, never changes the answer.
    *
    * Three phases: (1) build a bloom filter over the benchmark's distinct
    * shingle hashes (`DataFrameStatFunctions.bloomFilter` — built
    * distributed, merged as a sketch; ~1.2 bytes/item at 1% FPP, so a
    * 100M-n-gram benchmark is ~115 MB where the exact long set is 800 MB);
    * (2) scan the corpus once, probing each document's shingle hashes
    * against the broadcast-literal bloom in codegen
    * ([[graft.functions.BloomMightContain]]) — documents with ZERO hits
    * (the overwhelming majority: P(any FP) ≈ shingles × fpp) are
    * definitively clean, no false negatives, and pass through with no
    * shuffle at all; (3) only the hit sliver goes through the exact
    * inverted-index verify of [[decontaminate]], which also clears the
    * bloom's false positives and enforces `minOverlap`.
    *
    * The benchmark is scanned twice (hash-count sizing + bloom build);
    * both passes reduce to sketch-sized driver state, never collected
    * rows.
    *
    * Plan-size note: the serialized filter rides the plan as a binary
    * literal referenced by BOTH filter branches. In driver memory that is
    * one shared object (the same Column instance), and executors receive
    * it via the per-STAGE task-binary torrent broadcast (never per task);
    * the cost is one copy in each of the two branch stages' binaries —
    * the same order as broadcasting the benchmark hash set exactly once,
    * at a fraction of the bytes.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minOverlap: Int = 1,
      fpp: Double = 0.01,
  ): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0, 1)")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def shingleHashes(text: Column): Column =
      array_distinct(transform(
        graft.functions.GraftFunctions.wordShingles(text, n), s => xxhash64(s)))
    val benchHashes = bench
      .select(explode(shingleHashes(col(textCol))).as("__bh"))
      .dropDuplicates("__bh")
    val expected = math.max(benchHashes.count(), 1L)
    val bloom = benchHashes.stat.bloomFilter("__bh", expected, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    // null text can never be contaminated (it has no shingles): coalesce
    // keeps such rows on the clean path rather than dropping them from
    // BOTH filter branches (exact-parity with decontaminate)
    val hit = coalesce(
      exists(shingleHashes(col(textCol)),
        h => graft.functions.GraftFunctions.bloomMightContain(bytes, h)),
      lit(false))
    corpus.filter(!hit).unionByName(
      decontaminate(corpus.filter(hit), bench, textCol, idCol, n, minOverlap))
  }
}

/** Word-level shingling shared by text fingerprints and MinHash dedup. */
object Shingles {
  /** All `k`-word shingles of the lowercased text, joined by single spaces.
    * Empty array when the document has fewer than `k` words.
    */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = TextOps.tokens(text)
    val n = size(toks)
    when(n < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), n - k), i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }
}
