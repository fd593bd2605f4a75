package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting,
  * shingling, MinHash and SimHash signatures.
  *
  * Everything is expressed as Spark SQL expressions (higher-order
  * functions over arrays + xxhash64/md5) so it is fully distributed,
  * deterministic across runs, and needs no Python/JVM UDF round-trip.
  */
object TextFunctions {

  /** Whitespace tokens (empty input → empty array, not [""]). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Whitespace token count (a cheap proxy for BPE token counts; the
    * regex variant below approximates subword splits): `size(tokens(c))`
    * and `size(QueriesCommon.toksExpr)` WITHOUT materializing the token
    * array. The count-only byte-scan kernel
    * ([[graft.expressions.TokenCount]] — no lowercase, no hashing, no
    * token allocations, whole-stage codegen) serves the counts-ONLY
    * passes (BM25's avgdl stats, token budgets, packing bins, curation
    * n_tok). Measured per-row CPU (tools/TokenCountProbe, r15:
    * ×32-replicated sf0.1 text, cached, local[1], min-of-5 over two
    * runs): interpreted filter/split tower 0.048–0.053 s,
    * `regexp_count(c,'\S+')` 0.028–0.030 s, sizing the fused hash
    * kernel 0.028–0.034 s, this kernel 0.025–0.031 s — ~1.8× under the
    * tower it replaces at the toksExpr sites, and never worse than
    * (plus allocation-free vs) the alternatives at the kernel-size
    * sites; row-for-row equal everywhere.
    *
    * Equality argument (all inputs, not just the probe corpus): the
    * non-empty elements of `split(s, '\s+')` are exactly the maximal
    * runs of non-whitespace in s (separators are \s+ matches; a
    * leading separator contributes one leading "" element and a
    * trailing separator one trailing "" element — Spark's split uses
    * limit -1, which KEEPS trailing empties, unlike Java's
    * String.split — and the x != '' filter drops both; interior
    * empties cannot occur under the + quantifier). `trim` strips only
    * edge spaces — removing no \S run — and no character's lowercase
    * mapping adds or removes whitespace, so `trim`/`lower` drop out of
    * the COUNT even though they shape the token TEXT. Hence
    * size(filter(split(trim(lower(c)), '\s+'), x != '')) ≡ the
    * non-whitespace-run count for every c (both null on null); the
    * kernel's byte-level separator scan matches Java `\s` exactly
    * (TokenHashUtil's argument). TokenCountFastSpec pins all of it on
    * the adversarial edge set. Null contract: the kernel returns null
    * for null text, equal to size(...) under Spark 4's default ANSI
    * mode; a deployment setting spark.sql.ansi.enabled=false flips the
    * replaced size(...) forms to legacy sizeOfNull = -1 while the
    * kernel stays null — the engine ships (and the spec asserts) the
    * ANSI default, so the equivalence claim is scoped to it. Anything
    * consuming token identities still needs toksExpr /
    * tokenHashesCol. */
  def tokenCount(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.expressions.TokenCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** BPE-ish token count: words + digits + punctuation runs counted
    * separately, approximating a byte-pair-encoding tokenizer's unit
    * count without a vocab. */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** The canonical stopword list. Public on purpose: the oracle SQL in
    * the Queries files derives its `['the',...]` literal from this, so
    * the Spark side and the DuckDB side can never drift apart. */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  /** `defaultStopwords` as a DuckDB list literal. */
  def stopwordsSqlLiteral: String =
    defaultStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** Fraction of tokens that are stopwords (quality signal).
    *
    * Single-evaluation form (r16): the split tower used to appear
    * THREE times (emptiness test, numerator filter, denominator), and
    * higher-order functions evaluate interpreted — no codegen, no
    * common-subexpression elimination — so every consumer paid the
    * regex split 3× per row. Now [[tokens]] is referenced exactly once
    * (inside the numerator's filter) and the emptiness test and
    * denominator ride the codegen'd [[tokenCount]] kernel, which is
    * ≡ size(tokens(c)) for every input (proof at [[tokenCount]]).
    * Value-identical case by case:
    * null text → tokens null → size(filter(null)) null, kernel null →
    * when(null…) falls to otherwise → null/null = null (as before);
    * empty/whitespace-only → kernel 0 → 0.0 (as before); else
    * numerator and denominator are the same ints as the old form,
    * cast and divided identically. */
  def stopwordRatio(c: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(tokens(c), t => array_contains(stopArr, t)))
    val nTok = tokenCount(c)
    when(nTok === 0, lit(0.0))
      .otherwise(nStop.cast("double") / nTok.cast("double"))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
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
    * argmax or "und" when nothing matches. Pure column expression.
    *
    * Single-evaluation form (r16): the old shape built one
    * `size(filter(toks, …))` per language, and since higher-order
    * functions evaluate interpreted (no CSE), the `tokens(lower(c))`
    * split tower ran FOUR times per row. All four counters now fold in
    * ONE `aggregate` pass over one evaluation of the token array, with
    * the argmax in the aggregate's finish lambda. Value identity:
    * per-language hit counts are the same ints (filter-then-size vs
    * fold-and-add over the same elements); the argmax compares the
    * same (score, lang) structs with the same ordering; null text →
    * token array null → aggregate null, where the old form's null
    * scores made `best.score > 0` null and fell through to "und" — the
    * outer coalesce restores exactly that. LangIdSpec pins new ≡ old
    * on the edge set (incl. null) and the corpus. */
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
    md5(trim(regexp_replace(lower(c), "\\s+", " ")))

  /** Character k-shingles of the normalized text. */
  def charShingles(c: Column, k: Int): Column = {
    val s = trim(regexp_replace(lower(c), "\\s+", " "))
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
