package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting,
  * shingling, MinHash and SimHash signatures.
  *
  * Everything is expressed as Spark SQL expressions (higher-order
  * functions over arrays + xxhash64/md5, and the codegen'd byte-scan
  * kernels of `graft.expressions` for the per-row counts) so it is
  * fully distributed, deterministic across runs, and needs no
  * Python/JVM UDF round-trip.
  */
object TextFunctions {

  /** THE token definition: a token is a maximal run of characters
    * outside Java regex `\s`, the separators HT LF VT FF CR
    * (0x09–0x0D) and SP (0x20). The set is written here once; every
    * form the tree needs is rendered from it: the byte/char predicate
    * [[isSep]] the kernels and JVM loops scan with, the Column form
    * [[tokens]], the Spark SQL text [[tokensSql]] and the DuckDB
    * oracle fragment [[tokensOracleSql]]. No form spells `\s`: DuckDB's
    * RE2 `\s` leaves out VT. */
  private final val SepLo = 0x09
  private final val SepHi = 0x0d
  private final val SepSpace = 0x20

  /** Separator test for a UTF-16 char or a UTF-8 byte. Every byte of a
    * multi-byte UTF-8 sequence is ≥ 0x80 (negative as a `Byte`), so a
    * byte scan never splits inside a code point. */
  def isSep(c: Int): Boolean = c == SepSpace || (c >= SepLo && c <= SepHi)

  /** The separator set as a regex character-class body,
    * `\x09-\x0D\x20`, which Java regex and RE2 read alike. */
  private[functions] val SepClass = f"\\x$SepLo%02X-\\x$SepHi%02X\\x$SepSpace%02X"

  /** One separator run (the whitespace that [[fingerprint]] and
    * [[charShingles]] collapse to one space). */
  val SepRunRegex: String = s"[$SepClass]+"

  /** One punctuation character: neither ASCII alphanumeric nor a
    * separator. */
  val PunctRegex: String = s"[^A-Za-z0-9$SepClass]"

  /** One BPE-ish unit: a letter run, a digit, or a punctuation
    * character. */
  val BpeishRegex: String = s"[A-Za-z]+|[0-9]|$PunctRegex"

  /** Whitespace tokens, in order (null on null, `[]` on empty or
    * whitespace-only text): split on separator runs, then drop the ""
    * a separator at either edge leaves. Both steps are codegen'd and
    * keep the non-null element type. Case folding is the caller's
    * `lower(...)`. */
  def tokens(c: Column): Column =
    array_remove(split(c, SepRunRegex), lit(""))

  /** [[tokens]] of the Spark SQL expression `e`, as Spark SQL text (the
    * parser unescapes backslashes, so they are doubled). */
  def tokensSql(e: String): String =
    s"array_remove(split($e, '${SepRunRegex.replace("\\", "\\\\")}'), '')"

  /** [[tokens]] of the DuckDB expression `e`, as DuckDB SQL text: the
    * oracle's fragment, every match of one token (DuckDB string
    * literals keep backslashes). */
  def tokensOracleSql(e: String): String =
    s"regexp_extract_all($e, '[^$SepClass]+')"

  /** [[tokens]] on the JVM, for kernels that work on Scala strings. */
  def splitTokens(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isSep(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isSep(s.charAt(i))) i += 1
        out += s.substring(start, i)
      }
    }
    out.result()
  }

  /** Token count without building the token array: `size(tokens(c))`,
    * as the allocation-free byte-scan kernel
    * [[graft.expressions.TokenCount]] (no lowercase, no hashing, no
    * token allocations, whole-stage codegen). It serves the
    * counts-only passes (BM25's avgdl stats, token budgets, packing
    * bins, curation n_tok); measured in r15 at ~1.8× less per-row CPU
    * than the interpreted split tower it replaced. Case mapping adds
    * or removes no separator, so `size(tokens(lower(c)))` is the same
    * count. TokenCountFastSpec pins the kernel against every token
    * form on the edge set. Null contract: the kernel returns null for
    * null text, equal to `size(...)` under Spark 4's default ANSI
    * mode; with spark.sql.ansi.enabled=false `size` returns the legacy
    * -1 while the kernel stays null, so the equality is scoped to the
    * ANSI default the engine ships (and the spec asserts). */
  def tokenCount(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.TokenCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** BPE-ish token count: words + digits + punctuation runs counted
    * separately, approximating a byte-pair-encoding tokenizer's unit
    * count without a vocab. */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishRegex), lit(0)))

  /** The canonical stopword list. Public on purpose: the oracle SQL in
    * the Queries files derives its `['the',...]` literal from this, so
    * the Spark side and the DuckDB side can never drift apart. */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  /** `defaultStopwords` as a DuckDB list literal. */
  def stopwordsSqlLiteral: String =
    defaultStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Fraction of tokens that are stopwords (quality signal); 0.0 when
    * there are no tokens, null on null text. Tokens are matched
    * byte-for-byte against the list, without case folding. Both counts
    * are codegen'd byte scans of the text: the numerator is the
    * [[graft.expressions.StopwordCount]] kernel and the denominator
    * [[tokenCount]], so no token array is built. TokenCountFastSpec
    * pins the ratio against
    * `size(filter(tokens(c), array_contains(stop, _))) / size(tokens(c))`. */
  def stopwordRatio(c: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    val nStop = Bridge.column(
      graft.expressions.StopwordCount(Bridge.expression(c), stopwords))
    val nTok = tokenCount(c)
    when(nTok === 0, lit(0.0))
      .otherwise(nStop.cast("double") / nTok.cast("double"))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        size(regexp_extract_all(c, lit(PunctRegex), lit(0))).cast("double") /
          length(c).cast("double"))

  /** Fraction of characters that are alphabetic. */
  def alphaRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        size(regexp_extract_all(c, lit("[A-Za-z]"), lit(0))).cast("double") /
          length(c).cast("double"))

  /** Composite document quality score in [0,1]: favors mid-length docs
    * with high alpha ratio, some stopwords, low punctuation noise. */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val alpha = alphaRatio(c)
    val stop = least(stopwordRatio(c) * lit(5.0), lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(c) * lit(4.0), lit(0.0))
    (lenScore + alpha + stop + punctPenalty) / lit(4.0)
  }

  /** N-gram-heuristic language ID over a small built-in stopword table.
    * Scores each language by distinctive-function-word hits; emits the
    * argmax or "und" when nothing matches. Pure column expression: all
    * four counters fold in ONE `aggregate` pass over one evaluation of
    * the token array, with the argmax in the finish lambda; null text
    * gives a null aggregate, which the outer coalesce maps to "und".
    * LangIdSpec pins it on the edge set (incl. null) and the corpus. */
  def langIdHeuristic(c: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is", "with"),
      "es" -> Seq("el", "la", "los", "que", "con"),
      "de" -> Seq("der", "die", "das", "und", "mit"),
      "fr" -> Seq("le", "les", "des", "est", "avec"))
    val zero = struct(markers.map { case (langCode, _) =>
      lit(0).as(langCode) }: _*)
    def merge(acc: Column, t: Column): Column =
      struct(markers.map { case (langCode, words) =>
        val arr = array(words.map(lit): _*)
        (acc.getField(langCode) +
          when(array_contains(arr, t), lit(1)).otherwise(lit(0)))
          .as(langCode)
      }: _*)
    def finish(acc: Column): Column = {
      val best = array_max(array(markers.map { case (langCode, _) =>
        struct(acc.getField(langCode).as("score"), lit(langCode).as("lang"))
      }: _*))
      when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(lit("und"))
    }
    coalesce(aggregate(tokens(lower(c)), zero, merge, finish), lit("und"))
  }

  /** Canonical document fingerprint: md5 of lowercased,
    * whitespace-collapsed text. */
  def fingerprint(c: Column): Column =
    md5(trim(regexp_replace(lower(c), SepRunRegex, " ")))

  /** Character k-shingles of the normalized text. */
  def charShingles(c: Column, k: Int): Column = {
    val s = trim(regexp_replace(lower(c), SepRunRegex, " "))
    when(length(s) < k, array(s))
      .otherwise(array_distinct(
        transform(sequence(lit(0), length(s) - lit(k)),
          i => s.substr(i + lit(1), lit(k)))))
  }

  /** Word k-shingles (k consecutive tokens joined by a space). */
  def wordShingles(c: Column, k: Int): Column = {
    val toks = tokens(lower(c))
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - lit(k)),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
  }

  /** MinHash signature of length `m` over a shingle array: element i is
    * min over shingles of xxhash64(xxhash64(shingle), i) — the shingle
    * is hashed once to a 64-bit base, and each position rehashes the
    * base (identical two-stage scheme and values as the aggregate
    * kernel `Dedup.minhashSignatures`; xxhash64 seed-chains its
    * arguments, so hashing the precomputed base then i equals hashing
    * (base, i) in one call). Deterministic; used for LSH-banded
    * near-duplicate detection at scale. */
  def minhashSignature(shingles: Column, m: Int): Column = {
    val bases = transform(shingles, s => xxhash64(s))
    transform(sequence(lit(0), lit(m - 1)),
      i => array_min(transform(bases, h => xxhash64(h, i))))
  }

  /** LSH band keys: hash of each band (contiguous rows of the signature).
    * Docs sharing any band key are near-dup candidates. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        xxhash64(concat_ws(",",
          transform(slice(signature, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
            v => v.cast("string"))), b).as("key")))

  /** 64-bit SimHash over tokens: per-bit vote of xxhash64(token), then
    * reassemble the sign bits into a long. The bit loop is unrolled at
    * plan-build time (Scala ints → literal shift amounts), so the whole
    * thing stays a pure column expression. */
  def simhash64(c: Column): Column = {
    val hs = transform(tokens(lower(c)), t => xxhash64(t))
    val bitCols = (0 until 64).map { j =>
      val vote = aggregate(hs, lit(0L), (a, h) =>
        a + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_.bitwiseOR(_))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
