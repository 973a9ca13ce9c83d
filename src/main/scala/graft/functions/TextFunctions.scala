package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar scalar-function library (SURVEY.md §2.7 C1–C15 analogues +
  * the training-pipeline text-analysis family).
  *
  * Everything here is built from `org.apache.spark.sql.functions._` so
  * it stays inside whole-stage codegen — no UDFs on the hot path. Each
  * function has a DuckDB twin in [[graft.SparkEntry.oracleSql]].
  */
object TextFunctions {

  /** C1 — `sanitizeId`: non [A-Za-z0-9.-] → '-', truncated to 64.
    * Analogue of /root/reference/src/main/java/de/unimarburg/diz/labtofhir/mapper/BaseMapper.java:235-241.
    */
  def sanitizeId(c: Column): Column =
    substring(regexp_replace(c, "[^A-Za-z0-9\\-\\.]", "-"), 1, 64)

  /** C11 — strip a known source-system prefix before sanitizing.
    * Analogue of LaboratoryReport.java:91-100 (`SWISSLAB_` strip).
    */
  def stripPrefix(c: Column, prefix: String): Column =
    when(c.startsWith(prefix), substring(c, prefix.length + 1, Int.MaxValue))
      .otherwise(c)

  /** C2 — `hasher`: SHA-256 hex of `system|id`.
    * Analogue of BaseMapper.java:42-44,253-257.
    */
  def hashId(system: Column, id: Column): Column =
    sha2(concat_ws("|", system, id), 256)

  /** C3 — timestamp-prefixed surrogate id: `hex(epochMillis)-uniq`,
    * truncated to 64 (b-tree locality trick).
    * Analogue of util/TimestampPrefixedId.java:23-59.
    */
  def tsPrefixedId(ts: Column, uniquePart: Column): Column =
    substring(
      concat(lower(hex(unix_millis(ts.cast("timestamp")))), lit("-"), uniquePart), 1, 64)

  /** Transcript normalization: trim, collapse whitespace, lowercase,
    * drop one trailing period. The graft analogue of the reference's
    * sanitize/parse family (BaseMapper.java:298-321).
    */
  def normalizeTranscript(c: Column): Column =
    // explicit whitespace class + \z anchor: Java's \s includes \x0B
    // and $ matches before a trailing newline, RE2's (DuckDB) do not —
    // spell out semantics both dialects share
    regexp_replace(
      lower(regexp_replace(trim(c), "[ \\t\\n\\r\\f]+", " ")), "\\.\\z", "")

  /** Whitespace token count of a normalized string; empty → 0. */
  def tokenCount(norm: Column): Column =
    when(length(norm) === 0, 0).otherwise(size(split(norm, " ")))

  /** C4 — parse `"<42"` / `">=3.5"` / `"17"` into a (comparator, value)
    * quantity struct; non-numeric → null value, raw text retained.
    * Analogue of BaseMapper.java:298-321 + AimLabMapper.java:241-257.
    */
  def parseQuantity(c: Column): Column = {
    val t = trim(c)
    val cmp = regexp_extract(t, "^(<=|>=|<|>)", 1)
    val num = regexp_extract(t, "^(?:<=|>=|<|>)?\\s*(-?[0-9]+(?:\\.[0-9]+)?)$", 1)
    struct(
      when(num === "", null).otherwise(when(cmp === "", null).otherwise(cmp)).as("comparator"),
      when(num === "", null).otherwise(num.cast("double")).as("value"),
      when(num === "", t).otherwise(null).as("text"))
  }

  /** C5 — parse `"low-high"` reference ranges with open bounds
    * (`"-<90"`, `"10-"`); non-numeric bound → both null + text.
    * Analogue of BaseMapper.java:342-390.
    */
  def parseReferenceRange(c: Column): Column = {
    val t = trim(c)
    val lowRaw = trim(regexp_extract(t, "^([^-]*)-", 1))
    val highRaw = trim(regexp_extract(t, "^[^-]*-(.*)$", 1))
    val numRe = "^[<>]?\\s*-?[0-9]+(?:\\.[0-9]+)?$"
    val lowOk = lowRaw === "" || lowRaw.rlike(numRe)
    val highOk = highRaw === "" || highRaw.rlike(numRe)
    val hasDash = t.contains("-")
    val valid = hasDash && lowOk && highOk && !(lowRaw === "" && highRaw === "")
    struct(
      when(valid && lowRaw =!= "",
        regexp_extract(lowRaw, "(-?[0-9]+(?:\\.[0-9]+)?)", 1).cast("double")).as("low"),
      when(valid && highRaw =!= "",
        regexp_extract(highRaw, "(-?[0-9]+(?:\\.[0-9]+)?)", 1).cast("double")).as("high"),
      when(!valid, t).as("text"))
  }

  /** C12 — conditional reference string `Type?identifier=system|value`.
    * Analogue of BaseMapper.java:204-233.
    */
  def conditionalReference(tpe: Column, system: Column, value: Column): Column =
    format_string("%s?identifier=%s|%s", tpe, system, value)

  // ------------------------------------------------------- text analysis

  /** Stopword list used by quality scoring + language id (fixed,
    * matches the oracle SQL verbatim).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Tokens of a raw text column (normalized, space-split). */
  def tokens(c: Column): Column = split(normalizeTranscript(c), " ")

  /** Quality heuristics: token count, mean token length, stopword
    * ratio, punctuation ratio, composite score — all exact-arithmetic
    * doubles rounded to 6 dp for cross-engine comparability.
    */
  def qualityStruct(text: Column): Column = {
    val norm = normalizeTranscript(text)
    val toks = split(norm, " ")
    val nTok = tokenCount(norm)
    val meanLen = round(
      when(nTok === 0, 0.0)
        .otherwise((length(norm) - (nTok - 1)).cast("double") / nTok.cast("double")), 6)
    val stopArr = array(Stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t)))
    val stopRatio = round(
      when(nTok === 0, 0.0).otherwise(nStop.cast("double") / nTok.cast("double")), 6)
    val punct = length(text) - length(regexp_replace(text, "[\\.,;:!\\?]", ""))
    val punctRatio = round(
      when(length(text) === 0, 0.0)
        .otherwise(punct.cast("double") / length(text).cast("double")), 6)
    struct(
      nTok.as("n_tokens"),
      meanLen.as("mean_token_len"),
      stopRatio.as("stopword_ratio"),
      punctRatio.as("punct_ratio"))
  }

  /** Language-marker word sets for the n-gram/marker language-id
    * heuristic. Deterministic scoring: count marker hits per language,
    * argmax with lexicographic tiebreak.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "order"),
    "de" -> Seq("window", "hash", "batch"),
    "es" -> Seq("table", "scan", "merge"),
    "fr" -> Seq("join", "filter", "column"),
    "zh" -> Seq("spark", "data", "row"))

  /** Predicted language by marker-count argmax (ties → lexicographically
    * smallest language code). Pure columnar.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores: Seq[(String, Column)] = LangMarkers.map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      lang -> size(filter(toks, t => array_contains(arr, t)))
    }
    val best = greatest(scores.map(_._2): _*)
    // lexicographic order over langs; first to reach the max wins
    scores.sortBy(_._1).foldRight(lit(null).cast("string")) {
      case ((lang, s), acc) => when(s === best, lit(lang)).otherwise(acc)
    }
  }

  /** Document fingerprint: min MD5 over 5-gram token shingles
    * (winnowing-style); < 5 tokens → MD5 of the normalized text.
    *
    * Prefer [[fingerprintFromToks]] with pre-materialized norm/toks
    * columns: inlined here, Catalyst re-evaluates the normalize+split
    * inside every element_at of the lambda (no CSE across lambda
    * bounds), which is O(tokens²) in string work.
    */
  def fingerprint(text: Column): Column =
    fingerprintFromToks(normalizeTranscript(text), split(normalizeTranscript(text), " "))

  /** Fingerprint over already-computed norm + token columns. When
    * `norm`/`toks` are plain attributes (own select stage), each is
    * evaluated once per row — keep it that way in hot paths.
    */
  def fingerprintFromToks(norm: Column, toks: Column): Column = {
    val n = size(toks)
    val shingleHashes = transform(
      sequence(lit(1), n - lit(4)),
      i =>
        md5(concat_ws(" ",
          element_at(toks, i),
          element_at(toks, i + 1),
          element_at(toks, i + 2),
          element_at(toks, i + 3),
          element_at(toks, i + 4))))
    when(n < 5, md5(norm)).otherwise(array_min(shingleHashes))
  }

  /** Word n-gram shingles (distinct). Prefer [[wordShinglesFromToks]]
    * over a materialized token column in hot paths (see
    * [[fingerprintFromToks]] for why).
    */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesFromToks(split(normalizeTranscript(text), " "), n)

  /** Shingles over an already-computed token column. */
  def wordShinglesFromToks(toks: Column, n: Int): Column = {
    val cnt = size(toks)
    when(cnt < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), cnt - lit(n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))))
  }

  /** MinHash signature of a shingle array: for seed s in 0..k-1 the
    * minimum of `md5(s || ':' || shingle)` — string-min over hex is a
    * valid uniform-hash min and is reproducible in any engine with md5.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    array((0 until k).map { s =>
      array_min(transform(shingles, sh => md5(concat(lit(s + ":"), sh))))
    }: _*)

  /** LSH band keys: the signature split into `bands` bands of `rows`
    * hashes each, each band hashed to one key (md5 of its members plus
    * the band index).
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws(",",
        (lit(b.toString) +: (0 until rows).map(r => element_at(sig, b * rows + r + 1))): _*))
    }: _*)

  /** Per-token 32-bit hash: first 8 hex chars of md5, read as an
    * unsigned big-endian integer (reproducible in any engine with md5).
    */
  def tokenHash32(toks: Column): Column =
    transform(toks, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))

  /** 32-bit SimHash as a Column formula (the oracle-matchable twin of
    * the native [[graft.functions.SimHash32]] expression): token t
    * contributes +1/-1 to bit j by bit j (MSB-first) of its 32-bit md5
    * hash; output bit j is set iff the sum is > 0. Non-negative long.
    */
  def simhash32Col(toks: Column): Column = {
    val hashes = tokenHash32(toks)
    val bitCols = (0 until 32).map { j =>
      aggregate(
        hashes,
        lit(0),
        (acc, h) => acc + when(shiftright(h, 31 - j) % 2 === 1, 1).otherwise(-1))
    }
    (0 until 32)
      .map(j => when(bitCols(j) > 0, lit(1L << (31 - j))).otherwise(lit(0L)))
      .reduce(_ + _)
  }
}
