package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline surface:
  * tokenization, quality scoring, dictionary language ID, content
  * fingerprints. All are composed from codegen'd builtins (split,
  * regexp, md5, higher-order array fns) — map-side only, no shuffle,
  * no UDFs — so they stream over a 100 TB documents table at scan
  * speed.
  */
object TextOps {

  /** Deflate-compressed length of `bytes` at a FIXED level — the
    * compression-ratio quality signal (Gopher-family filters use
    * compressibility as an entropy proxy: highly compressible text is
    * repetitive boilerplate, incompressible text is noise/binary
    * spill; natural prose sits in between). Deterministic for a given
    * input: fixed level, default strategy, zlib wrapper — no RNG, no
    * timestamps (raw DEFLATE output depends only on input + settings
    * in the JDK's zlib). */
  def deflateLen(bytes: Array[Byte], level: Int = 6): Int = {
    val d = new java.util.zip.Deflater(level)
    try {
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** Heuristic HTML → text extraction (the WARC→documents step): drop
    * script/style/comment blocks, strip tags, decode the common
    * entities, collapse whitespace. Pure codegen'd regexp_replace
    * chain — scan-speed, no UDF. (Production pipelines may swap a
    * boilerplate-aware extractor; this is the honest regex baseline,
    * like C4's.) */
  def htmlToText(html: Column): Column = {
    val noBlocks = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</\\1>|<!--.*?-->", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]+>", " ")
    val entities = Seq("&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(words(text))

  /** BPE-ish pre-tokenizer count: runs of letters, runs of digits, or
    * single other non-space chars — the classic GPT-2-style pre-split
    * shape expressed as a regex both Spark (Java regex) and DuckDB
    * (RE2) interpret identically for this simple class alternation. */
  val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(bpeishPattern), lit(0)))

  /** Tiny per-language stopword dictionaries for heuristic language
    * ID. Deterministic and engine-portable (plain array_contains). */
  val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "que", "y"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4"))

  /** Predicted language = dict with the most distinct stopword hits;
    * ties and zero hits resolve by dict order (en first) / "und".
    *
    * The token split is bound ONCE as the lambda variable of a
    * single-element `transform` — a projection barrier. Referencing it
    * as a named column instead lets CollapseProject inline the
    * `split()` subtree into all ~20 array_contains terms (measured
    * 2.3× slower; same trap SURVEY §6 documents for MinHash). The
    * lambda body is interpreted, but its per-term cost is an array
    * probe, not a regex split. */
  def langId(text: Column): Column =
    element_at(transform(array(words(lower(text))), ws => {
      // dict hits against the pre-matched dictionary-word set: one
      // array_intersect per language over the bound token array
      val scored = langDicts.map { case (lang, dict) =>
        (lang, size(array_intersect(ws, array(dict.map(lit(_)): _*))))
      }
      val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
      scored.foldRight(lit("und"): Column) { case ((lang, score), els) =>
        when(score === best && score > 0, lit(lang)).otherwise(els)
      }
    }), 1)

  /** English stopword ratio — quality signal: natural text has a
    * stable stopword density; boilerplate/code/spam doesn't. */
  val enStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  def stopwordRatio(text: Column): Column =
    // same single-split lambda barrier as langId: 9 consumers of the
    // token array must not each re-run the split
    element_at(transform(array(words(lower(text))), ws => {
      val hits = enStopwords.map(w =>
        size(filter(ws, x => x === lit(w)))).reduce(_ + _)
      hits.cast("double") / size(ws)
    }), 1)

  /** Gopher-style document quality gate (the public MassiveText
    * filtering rules, Rae et al. 2021 — the subset expressible over
    * whitespace words): word count within bounds, mean word length
    * within bounds, and at least one stopword hit. All terms are
    * exact integer-ratio arithmetic, so the boolean is engine-stable
    * with no rounding. */
  def gopherFilter(text: Column,
      minWords: Int = 5, maxWords: Int = 100000,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0): Column = {
    val nw = wsTokenCount(text)
    val meanLen = length(regexp_replace(text, " ", "")).cast("double") /
      nw.cast("double")
    nw >= minWords && nw <= maxWords &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      stopwordRatio(text) > 0.0
  }

  /** Punctuation+digit character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-z ]", ""))).cast("double") /
      length(text)

  /** Exact content fingerprint: md5 of the sorted distinct lowercase
    * word set — canonicalizes word order and repetition, the classic
    * "bag fingerprint" for exact-template dedup. */
  def bagFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(words(lower(text)))), " "))

  /** Raw text hash for byte-exact dedup. */
  def exactHash(text: Column): Column = md5(text)

  /** PII patterns (emails, NANP-style phone fragments, dotted-quad
    * IPs) — the standard pre-training scrub list. Simple
    * class/quantifier regexes that Java regex and RE2 read
    * identically. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipPattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\b\\d{3}-\\d{4}\\b"

  /** Count occurrences of each PII class (pre-redaction audit). */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(emailPattern)),
      regexp_count(text, lit(phonePattern)),
      regexp_count(text, lit(ipPattern)))

  /** Redact PII in place with typed placeholders. Email first (it can
    * embed digit runs), then IPs (dotted digits), then phones — each a
    * codegen'd regexp_replace, map-side at scan speed. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        ipPattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Canonical URL form for URL-level dedup (the common-crawl recipe):
    * lowercase, drop the scheme, drop a leading www., drop query
    * string + fragment (tracking params), drop a trailing slash. */
  def normalizeUrl(url: Column): Column = {
    val lower0 = lower(url)
    val noScheme = regexp_replace(lower0, "^[a-z][a-z0-9+.-]*://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noQuery = regexp_replace(noWww, "[?#].*$", "")
    regexp_replace(noQuery, "/$", "")
  }

  /** Registrable-host part of a normalized URL (everything before the
    * first slash). */
  def urlDomain(normalizedUrl: Column): Column =
    regexp_extract(normalizedUrl, "^[^/]+", 0)

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): k-gram rolling hashes, then the min hash of each
    * sliding window of `w` consecutive k-gram hashes; the distinct
    * set of selected hashes is the fingerprint. Pure higher-order
    * expressions — computed map-side per row. */
  def winnowingFingerprint(text: Column, k: Int = 5, w: Int = 4): Column = {
    val n = length(text)
    val grams = when(n >= k,
      transform(sequence(lit(1), n - (k - 1)), i => xxhash64(text.substr(i, lit(k)))))
      .otherwise(array(xxhash64(text)))
    val m = size(grams)
    val mins = when(m >= w,
      transform(sequence(lit(0), m - w), i => array_min(slice(grams, i + 1, lit(w)))))
      .otherwise(array(array_min(grams)))
    array_sort(array_distinct(mins))
  }
}
