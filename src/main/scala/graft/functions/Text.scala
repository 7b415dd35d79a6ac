package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cols

/** Scalar text/column helpers (SURVEY.md §2.3).
  *
  * All pure `Column => Column` combinators over Spark built-ins and the
  * engine's native [[CleanText]] expression — no UDFs, so every function
  * stays inside whole-stage codegen and Catalyst can push/reorder
  * around them.
  *
  * Reference semantics: /root/reference/data_pipeline/tasks/transformation.py
  */
object Text {

  /** F1 — `clean_text_for_nlp` (transformation.py:278-291).
    *
    * null→""; lowercase; strip HTML tags; strip URLs; strip `[+N chars]`
    * truncation markers; strip everything outside `[\w\s.!?]`; collapse
    * whitespace; trim. The five regex steps run as one native
    * expression, [[CleanText]], byte-identical to the Java-regex chain
    * (default-mode ASCII `\w`/`\s`); the DuckDB oracle keeps that chain
    * in RE2, whose `\s` differs from Java's only on `\x0B`.
    */
  def cleanTextForNlp(c: Column): Column =
    Cols.of(CleanText(Cols.exprOf(lower(coalesce(c, lit(""))))))

  /** F3 — content coalesce chain (transformation.py:268). */
  def coalesceContent(content: Column, description: Column, title: Column): Column =
    coalesce(content, description, title)

  /** F4 (deterministic variant) — surrogate id stable across engines;
    * replaces `uuid.uuid4()` (transformation.py:56) for oracle-comparable
    * output. Key columns are joined with a non-printing separator so
    * ("ab","c") != ("a","bc").
    */
  def deterministicId(keys: Column*): Column =
    sha2(concat_ws("\u0001", keys: _*), 256)

  /** F7 — epoch-seconds → timestamp (transformation.py:166-168). */
  def fromEpochSeconds(c: Column): Column = timestamp_seconds(c.cast("long"))

  /** F8 — numeric coercion, invalid→null (`pd.to_numeric(errors="coerce")`,
    * transformation.py:198-202). `try_cast` semantics under ANSI mode.
    */
  def coerceDouble(c: Column): Column = c.try_cast("double")

  /** F9 — array→string join (transformation.py:104-106). */
  def joinCategories(c: Column): Column = concat_ws(", ", c)

  // ---------------------------------------------------------------------
  // Training-data text analysis (north-star ops; SURVEY.md §2.3 extras)
  // ---------------------------------------------------------------------

  /** URL canonicalization — the normalization crawl pipelines run BEFORE
    * URL-keyed dedup (the reference dedups articles by exact URL,
    * loading.py:150-161; raw crawl URLs disagree on case, tracking
    * params, fragments, and default ports, so exact-match dedup without
    * this pass under-merges): lowercase scheme and host, drop the
    * fragment, strip `utm_*`/`fbclid`/`gclid` tracking params, drop
    * `:80`/`:443` default ports, and trim dangling `?`/`&` and trailing
    * slashes. Extraction-based rebuild (scheme/host/rest) rather than
    * backreference replaces — `$1` vs `\1` syntax differs across
    * engines, group EXTRACTION is portable. Pure codegen'd expressions;
    * narrow, no shuffle.
    */
  def canonicalizeUrl(c: Column): Column = {
    val noFrag = regexp_replace(c, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^[^:]+://([^/?#]*)", 1))
    // only the port that is the default FOR THIS SCHEME comes off —
    // http://host:443 is a real, distinct origin and must stay distinct
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val rest = regexp_extract(noFrag, "^[^:]+://[^/?#]*(.*)", 1)
    // split PATH from QUERY first (both engines return "" for a
    // non-matching extract, so the concat below is safe), so the
    // tracking-param strip can never touch a path segment
    val rawPath = regexp_extract(rest, "^([^?]*)", 1)
    val rawQuery = regexp_extract(rest, "(\\?.*)$", 1)
    // anchored at a separator so a LONGER param name ("refbclid") never
    // partially matches; the separator is consumed, so a leading-"&"
    // mop-up restores "?" when the first param was tracking
    val noTrack = regexp_replace(rawQuery,
      "[?&](utm_[A-Za-z]*|fbclid|gclid)=[^&]*", "")
    val query = regexp_replace(regexp_replace(noTrack, "^&", "?"), "[?&]+$", "")
    // trailing slashes come off the PATH, not the string — "/path/?id=9"
    // must canonicalize to "/path?id=9"
    val path = regexp_replace(rawPath, "/+$", "")
    concat(scheme, lit("://"), host, path, query)
  }

  /** PII redaction — the corpus-cleaning step between extraction and
    * training: emails, phone-shaped number runs, and IPv4 literals are
    * replaced with stable placeholder tokens (redact, don't drop — the
    * surrounding text keeps its training value). Pure regexp_replace
    * chain (codegen'd, embarrassingly parallel); patterns stay in the
    * RE2-compatible subset so the DuckDB oracle matches byte-for-byte.
    * Order matters: emails first (an email contains digits a phone
    * pattern could partially claim), then IPs before general number runs.
    */
  def redactPii(c: Column): Column = {
    val noEmail = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noIp = regexp_replace(noEmail,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    // phone-SHAPED only: an international +CC prefix opens a loose tail,
    // otherwise require the (xxx) xxx-xxxx / xxx-xxx-xxxx shape with
    // separators. A bare "any 8+ digit run" rule would also redact ISO
    // dates (2024-03-15), year sequences, and version/id strings —
    // destroying exactly the text a training corpus needs to keep.
    regexp_replace(noIp,
      "\\+\\d{1,3}[\\s.-]?[\\d\\s().-]{5,}\\d" +
        "|(\\(\\d{3}\\)[\\s.-]?|\\b\\d{3}[\\s.-])\\d{3}[\\s.-]\\d{4}\\b",
      "<PHONE>")
  }

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column =
    size(split(trim(c), "\\s+"))

  /** BPE-ish subword token count: words, numbers, and single punctuation
    * marks each count as one token (GPT-2-style pre-tokenizer regex,
    * simplified to the ASCII subset present in the corpus).
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Punctuation ratio: terminal-punctuation chars per char. */
  def punctRatio(c: Column): Column =
    size(regexp_extract_all(c, lit("[.!?]"), lit(0))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  /** Stopword ratio over whitespace tokens for a fixed stopword set. */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val pat = stopwords.mkString("\\b(", "|", ")\\b")
    size(regexp_extract_all(lower(c), lit(pat), lit(0))).cast("double") /
      greatest(wsTokenCount(c), lit(1)).cast("double")
  }
}
