package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text transform library (SURVEY.md §2.3, O1–O17), re-expressed as Spark
  * Column functions. Everything here except `strQ2B` and `htmlStrip` is
  * built-in-function composition — fully codegen'd inside whole-stage
  * codegen, no UDF boundary in the hot path.
  *
  * Reference behaviors reproduced (citations into /root/reference):
  * concat `src/base.py:142-153`; hash `src/lurkers/newsfilter.py:167`;
  * strQ2B `src/lurkers/etnet.py:129-142`; punct collapse `etnet.py:144-154`;
  * whitespace squash `etnet.py:224`; scrub+min-length
  * `src/utils/general_utils.py:187-206`; HTML strip `src/utils/wiki_utils.py:9-25`;
  * ticker pad/suffix `src/lurkers/aastocks.py:77-80`,
  * `src/utils/hkscraper_utils.py:1-12`; id extract `aastocks.py:117-121`;
  * JSONP strip `src/lurkers/eastmoney.py:72-75`; EN ticker extraction
  * `src/lurkers/reddit.py:72-90`; CJK ticker extraction `etnet.py:233-239`.
  */
object TextOps {

  // ---- O1: document text assembly -----------------------------------------
  /** `get_text` concat of present parts, single-space separated. The
    * reference concatenates raw strings (`title + description + text`); we
    * define the separator explicitly so the result is whitespace-stable. */
  def getText(parts: Column*): Column = concat_ws(" ", parts: _*)

  // ---- O2: deterministic text hashing -------------------------------------
  /** The reference uses Python `hash()` — salted per process, useless as a
    * dedup key. We *define* the semantic as a deterministic content hash. */
  def textHashHex(c: Column): Column = md5(c)

  /** 32-bit int from the md5 hex prefix. Cross-engine stable: equals
    * DuckDB `('0x' || substr(md5(x),1,8))::BIGINT` — used whenever an
    * oracle must recompute the same hash. */
  def md5Int32(c: Column): Column =
    graft.expressions.Md5PrefixLong.md5_prefix_long(c, 8)

  /** The declarative specification of [[md5Int32]] — the kernel is
    * equality-tested against it (Md5PrefixLongSpec). */
  private[graft] def md5Int32Hof(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit long from the md5 hex prefix (15 nibbles — fits a signed
    * 64-bit on both engines; DuckDB: `('0x' || substr(md5(x),1,15))::BIGINT`).
    * Use over md5Int32 when the keyed population is large enough for
    * 32-bit birthday collisions to matter. */
  def md5Int60(c: Column): Column =
    graft.expressions.Md5PrefixLong.md5_prefix_long(c, 15)

  /** The declarative specification of [[md5Int60]] (Md5PrefixLongSpec). */
  private[graft] def md5Int60Hof(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ---- O3: full-width → half-width CJK normalization ----------------------
  /** `strQ2B`: U+3000 → space; U+FF01..U+FF5E shifted down by 0xFEE0.
    * Codepoint mapping has no built-in equivalent; implemented as a native
    * Catalyst expression with codegen (graft.expressions.StrQ2B) rather
    * than a UDF, so it stays inside whole-stage codegen. */
  def strQ2B(c: Column): Column = graft.expressions.StrQ2B.str_q2b(c)

  // ---- O4: collapse runs of repeated punctuation --------------------------
  /** Collapse runs of each given punctuation char to a single occurrence
    * (the reference keeps `.` runs — pass the chars you want collapsed).
    * One regexp_replace per char, RE2-safe (no backreferences) so a DuckDB
    * oracle can reproduce it exactly. */
  def collapsePunctRuns(c: Column, chars: Seq[String] = Seq("!", "?", ",", ";", "、")): Column =
    chars.foldLeft(c)((acc, ch) => regexp_replace(acc, "\\" + ch + "{2,}", ch))

  // ---- O5/O6: whitespace handling -----------------------------------------
  /** CJK convention: remove ALL whitespace (`"".join(text.split())`). */
  def squashWhitespaceCjk(c: Column): Column = regexp_replace(c, "\\s+", "")

  /** Western convention: squeeze runs to one space and trim. */
  def normalizeWhitespace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  // ---- O7/F10: scrub + min-length gate ------------------------------------
  /** Remove `$TICKER` mentions and URLs (`process_text`). */
  def scrubText(c: Column): Column =
    regexp_replace(regexp_replace(c, "https?://[^\\s]+", ""), "\\$[a-zA-Z]+", "")

  /** Tokenize on whitespace, dropping empty tokens. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  def wordCount(c: Column): Column = size(tokens(c))

  /** The ≤5-words → ignore gate as a predicate. */
  def minWordGate(c: Column, minWords: Int = 5): Column = wordCount(c) > minWords

  // ---- O8/F12: link-prefix blocklist predicate ----------------------------
  /** True when the URL starts with none of the blocked prefixes
    * (`google_utils.py:14-34`'s 7-domain blocklist). */
  def linkAllowed(url: Column, blockedPrefixes: Seq[String]): Column =
    blockedPrefixes.map(p => !url.startsWith(p)).reduce(_ && _)

  // ---- PII redaction (curation pass, beyond the reference) ----------------
  /** RE2-safe patterns (no backreferences/lookarounds) so a DuckDB oracle
    * reproduces the redaction exactly; Java regex reads them identically.
    * The O7 scrub removes tickers/URLs; this is the privacy pass a corpus
    * runs before training: emails and IPv4 literals → typed placeholders. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailPattern, "<EMAIL>"), Ipv4Pattern, "<IP>")

  /** Number of whole-pattern matches (redaction audit counts). */
  def patternCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  // ---- F1: source-query predicate -----------------------------------------
  /** The Newsfilter query shape (`newsfilter.py:73-75`): inside a rolling
    * day window AND not containing a negated phrase. */
  def recentWithoutPhrase(time: Column, now: Column, days: Int,
                          text: Column, phrase: String): Column =
    time >= now - expr(s"INTERVAL $days DAYS") && !text.contains(phrase)

  // ---- O9: HTML strip ------------------------------------------------------
  /** Tag strip: drop script/style subtrees, then all tags, then entities
    * we care about, then normalize whitespace. Regex-based (jsoup is not on
    * the offline classpath); good for the fixture-shaped inputs we parse. */
  def htmlStrip(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noTags = regexp_replace(noScript, "<[^>]+>", " ")
    val entities = Seq("&nbsp;" -> " ", "&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"")
      .foldLeft(noTags) { case (acc, (e, r)) => regexp_replace(acc, e, r) }
    normalizeWhitespace(entities)
  }

  // ---- O10/O11: ticker code normalization ---------------------------------
  def tickerZeroPad(c: Column, width: Int = 5): Column =
    lpad(c.cast("string"), width, "0")

  /** len==6 → ".SZ" suffix; len==5 → drop first char + ".HK"; else as-is. */
  def tickerSuffix(c: Column): Column =
    when(length(c) === 6, concat(c, lit(".SZ")))
      .when(length(c) === 5, concat(substring(c, 2, 4), lit(".HK")))
      .otherwise(c)

  // ---- O12: per-source date parsing ---------------------------------------
  /** Parse a timestamp string with a per-source format, epoch-seconds for
    * sources that ship unix times. `formats` maps source → pattern.
    * Malformed values parse to null rather than failing the job (Spark 4
    * ANSI `to_timestamp`/`cast` throw; the reference logs-and-skips bad
    * rows, `src/base.py:243-247` — a poisoned row must never kill a
    * 100 TB ingest). */
  def parseTimeBySource(value: Column, source: Column,
                        formats: Map[String, String],
                        epochSources: Set[String] = Set.empty): Column = {
    val base: Column = lit(null).cast("timestamp")
    val withFmt = formats.foldLeft(base) { case (acc, (src, fmt)) =>
      when(source === src, try_to_timestamp(value, lit(fmt))).otherwise(acc)
    }
    epochSources.foldLeft(withFmt) { (acc, src) =>
      when(source === src, timestamp_seconds(value.try_cast("long"))).otherwise(acc)
    }
  }

  /** O12's fuzzy fallback (the reference's `dateutil.parse` path,
    * `/root/reference/src/utils/google_utils.py:8-11`): try a candidate
    * format list in order, first parse wins, null when nothing matches.
    * `try_to_timestamp` yields null (never an error — Spark 4 ANSI mode
    * makes plain `to_timestamp` throw) on mismatch, so the cascade is a
    * plain `coalesce` — no UDF, stays in codegen. */
  def parseTimeFuzzy(value: Column,
                     formats: Seq[String] = Seq(
                       "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
                       "yyyy/MM/dd HH:mm", "dd/MM/yyyy HH:mm",
                       "MMM d, yyyy", "yyyy-MM-dd")): Column =
    coalesce(formats.map(f => try_to_timestamp(value, lit(f))): _*)

  // ---- O15: JSONP strip ----------------------------------------------------
  /** `cb({...})` → `{...}`: strip the callback wrapper, keep the payload.
    * Pair with `from_json(schema)` for the typed parse. (?s) so the
    * payload may span lines — without it a pretty-printed JSONP response
    * extracts to "" (the `.` can't cross a newline) and every such row
    * silently parses to null downstream. Both Java regex and RE2 (the
    * DuckDB oracle) support the inline flag, so the mirror stays exact. */
  def jsonpStrip(c: Column): Column =
    regexp_extract(c, "(?s)^[^(]*\\((.*)\\)[\\s;]*$", 1)

  // ---- O16: EN ticker extraction ------------------------------------------
  /** `$tsla`-style cashtags (uppercased) ∪ bare ALL-CAPS words, distinct,
    * cashtags first: one codegen'd pass over the bytes
    * (graft.expressions.TickersEn), no regex, lambda or ICU case mapping. */
  def extractTickersEn(c: Column): Column =
    graft.expressions.TickersEn.tickers_en(c)

  /** The declarative specification of [[extractTickersEn]] — the kernel is
    * equality-tested against it (TextOpsSpec). */
  private[graft] def extractTickersEnRegex(c: Column): Column =
    array_distinct(concat(
      transform(regexp_extract_all(c, lit("\\$([a-zA-Z]+)"), lit(1)), t => upper(t)),
      regexp_extract_all(c, lit("\\b[A-Z][A-Z]+\\b"), lit(0))))

  // ---- O17: CJK ticker extraction -----------------------------------------
  /** Parenthesized numeric codes; fall back to the job's ticker if none. */
  def extractTickersCjk(c: Column, fallback: Column): Column = {
    val nums = filter(regexp_extract_all(c, lit("\\(([^)]*)\\)"), lit(1)),
      x => x.rlike("^[0-9]+$"))
    when(size(nums) > 0, array_distinct(nums)).otherwise(array(fallback))
  }

  // ---- shingling (dedup/minhash building blocks) --------------------------
  /** Distinct k-word shingles; docs shorter than k words collapse to one
    * whole-doc shingle.
    *
    * Built by zipping k−1 shifted copies of the token array: `zip_with`
    * evaluates each input array expression once per row. (The naive
    * `transform(sequence(...), i -> element_at(toks, i+j))` form
    * re-evaluates the token-split expression PER ELEMENT when `toks` is
    * computed — measured 24 s vs 2 s on 5 000 docs at sf0.1.) `zip_with`
    * pads the shorter side with nulls, which `concat_ws` skips; the
    * trailing partial grams are sliced away. */
  def wordShingles(toks: Column, k: Int): Column = {
    val grams = (1 until k).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), greatest(size(toks) - j, lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= k,
      array_distinct(slice(grams, lit(1), size(toks) - k + 1)))
      .otherwise(array(array_join(toks, " ")))
  }

  /** Distinct k-char shingles of a string. (Safe with a computed `c` only
    * when cheap — `substr` in the lambda re-evaluates `c` per element;
    * pass an attribute or pre-materialized column for bulk use.) */
  def charShingles(c: Column, k: Int): Column =
    when(length(c) >= k,
      array_distinct(transform(sequence(lit(0), length(c) - k),
        i => c.substr(i + 1, lit(k)))))
      .otherwise(array(c))
}
