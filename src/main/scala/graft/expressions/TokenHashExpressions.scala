package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions

/** Static byte-scan text kernels for [[TokenXxHashes]],
  * [[BigramXxHashes]], [[TokenCount]], [[Md5MinhashBands]] and
  * [[StopwordCount]], shaped for codegen (Scala object → static
  * forwarders, so generated Java calls it directly).
  *
  * The SQL formulation of the bigram-LM pipeline —
  * `transform(tokens(lower(text)), x -> xxhash64(x))` and the tail-zip
  * built on it ([[graft.QueriesCommon.bigramsFromToksSql]]) —
  * evaluates as a stack of interpreted higher-order functions: a regex
  * `Pattern` walk, one `UTF8String` allocation per token (twice, for
  * the two slices of the zip), and per-element lambda dispatch, none
  * of it inside whole-stage codegen. At 15.7 GiB that kernel was ~42 s
  * of q_lm_score's ~60 s executor CPU (measured in round 10 by a probe
  * main since retired). These kernels are the byte-scan twins: the
  * hash kernels lowercase once with `UTF8String.toLowerCase`, then a
  * single pass over the UTF-8 bytes visits the maximal runs of
  * non-separator bytes
  * ([[graft.functions.TextFunctions.isSep]], the one token
  * definition). Per-token hash is `XXH64.hashUTF8String(tok, 42L)`
  * over a ZERO-COPY view (`UTF8String.fromAddress`) — the very method
  * Spark's `xxhash64(...)` calls with its default seed 42, so hash
  * values are bit-identical to the SQL pipeline's (TokenHashSpec pins
  * it on adversarial inputs, the contract Md5Bucket uses).
  *
  * The hashes feed grouping (bigram/unigram counts, vocab distinct) —
  * the reference's CCNet-style scorer groups on token identity
  * (vector-io has no LM scorer; this is a beyond-parity operator) and
  * the DuckDB oracle groups on the token STRINGS, so the oracle gate
  * also guards hash injectivity on the corpus. */
object TokenHashUtil {
  /** Spark's xxhash64 default seed. */
  final val Seed = 42L

  /** First token byte at or after `i` (`n` if none). */
  private def skipSeps(base: AnyRef, off: Long, n: Int, i0: Int): Int = {
    var i = i0
    while (i < n && TextFunctions.isSep(Platform.getByte(base, off + i))) i += 1
    i
  }

  /** End (exclusive) of the token that starts at `i`. */
  private def tokenEnd(base: AnyRef, off: Long, n: Int, i0: Int): Int = {
    var i = i0
    while (i < n && !TextFunctions.isSep(Platform.getByte(base, off + i))) i += 1
    i
  }

  /** xxhash64-seed-42 of each whitespace-delimited token of lower(s),
    * in document order. */
  def tokenHashLongs(s: UTF8String): Array[Long] = {
    val lowered = s.toLowerCase
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val n = lowered.numBytes
    var out = new Array[Long](8)
    var cnt = 0
    var i = skipSeps(base, off, n, 0)
    while (i < n) {
      val start = i
      i = tokenEnd(base, off, n, i)
      if (cnt == out.length) out = java.util.Arrays.copyOf(out, cnt * 2)
      out(cnt) = XXH64.hashUTF8String(
        UTF8String.fromAddress(base, off + start, i - start), Seed)
      cnt += 1
      i = skipSeps(base, off, n, i)
    }
    if (cnt == out.length) out else java.util.Arrays.copyOf(out, cnt)
  }

  def tokenHashes(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(tokenHashLongs(s))

  /** Token COUNT only: the [[tokenHashLongs]] scan with no lowercase,
    * no hashing, and no array — counts maximal non-separator byte
    * runs, allocation-free. Case mapping is count-neutral (no char's
    * lowercase adds or removes whitespace) so skipping `toLowerCase`
    * is exact. ≡ size(tokens(s)) ≡ size(tokenHashes) on every input
    * (TokenCountFastSpec). */
  def tokenCount(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var cnt = 0
    var i = skipSeps(base, off, n, 0)
    while (i < n) {
      cnt += 1
      i = skipSeps(base, off, n, tokenEnd(base, off, n, i))
    }
    cnt
  }

  /** Count of the tokens of `s` (not lowercased) that are byte-equal to
    * an entry of `stop`: `size(filter(tokens(s), t ->
    * array_contains(stop, t)))` without the token array. */
  def stopwordCount(s: UTF8String, stop: StopwordSet): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var cnt = 0
    var i = skipSeps(base, off, n, 0)
    while (i < n) {
      val start = i
      i = tokenEnd(base, off, n, i)
      if (stop.contains(base, off + start, i - start)) cnt += 1
      i = skipSeps(base, off, n, i)
    }
    cnt
  }

  /** MinHash seeds of [[md5MinhashBands]] and the `"s:"` prefix each
    * one hashes in front of a shingle. */
  private final val MinhashSeeds = 8
  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(MinhashSeeds)(k => s"$k:".getBytes(UTF_8))

  private val hexDigits: Array[Byte] = "0123456789abcdef".getBytes(UTF_8)

  /** The curation LSH signature of `s` as its 4 band strings. `s` is
    * already lowercased: the caller applies Spark's `lower`, whose ICU
    * case mapping differs from `UTF8String.toLowerCase` on code points
    * newer than the JDK's Unicode tables (U+2C2F, say). The shingles
    * are the distinct word 3-shingles of `s` (tokens joined by one
    * space); a doc with fewer than 3 tokens has the one shingle of its
    * tokens joined by spaces (`""` with none). Seed k of 0..7 keeps
    * the least md5(`"k:"` + shingle), and band b is hex(min_2b) ++
    * hex(min_2b+1). The least raw digest, compared unsigned, is the
    * least lowercase-hex string, so only the 8 winners are
    * hex-encoded, and a minimum needs no distinct. TokenHashSpec pins
    * it against the SQL form
    * `array_min(transform(shingles, x -> md5(concat('k:', x))))`. */
  def md5MinhashBands(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    // the tokens joined by single spaces, with each token's
    // [start, end) in that buffer: shingle j is joined(starts(j),
    // ends(j + 2))
    val joined = new Array[Byte](n)
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var len = 0
    var cnt = 0
    var i = skipSeps(base, off, n, 0)
    while (i < n) {
      val start = i
      i = tokenEnd(base, off, n, i)
      if (cnt > 0) { joined(len) = ' '; len += 1 }
      if (cnt == starts.length) {
        starts = java.util.Arrays.copyOf(starts, cnt * 2)
        ends = java.util.Arrays.copyOf(ends, cnt * 2)
      }
      starts(cnt) = len
      Platform.copyMemory(base, off + start, joined,
        Platform.BYTE_ARRAY_OFFSET + len, i - start)
      len += i - start
      ends(cnt) = len
      cnt += 1
      i = skipSeps(base, off, n, i)
    }
    val nShingles = if (cnt < 3) 1 else cnt - 2
    val d = Md5BucketUtil.md.get()
    val cur = new Array[Byte](16)
    val mins = new Array[Byte](16 * MinhashSeeds) // seed k at 16k
    var j = 0
    while (j < nShingles) {
      val from = if (cnt < 3) 0 else starts(j)
      val until = if (cnt < 3) len else ends(j + 2)
      var k = 0
      while (k < MinhashSeeds) {
        d.update(seedPrefixes(k))
        d.update(joined, from, until - from)
        d.digest(cur, 0, 16)
        if (j == 0 || java.util.Arrays.compareUnsigned(
            cur, 0, 16, mins, 16 * k, 16 * k + 16) < 0)
          System.arraycopy(cur, 0, mins, 16 * k, 16)
        k += 1
      }
      j += 1
    }
    // band b is the hex of mins' bytes [32b, 32b + 32)
    val bands = new Array[Any](MinhashSeeds / 2)
    var b = 0
    while (b < bands.length) {
      val hex = new Array[Byte](64)
      var x = 0
      while (x < 32) {
        val v = mins(32 * b + x)
        hex(2 * x) = hexDigits((v >> 4) & 0xf)
        hex(2 * x + 1) = hexDigits(v & 0xf)
        x += 1
      }
      bands(b) = UTF8String.fromBytes(hex)
      b += 1
    }
    new GenericArrayData(bands)
  }

  /** Adjacent (w1, w2) hash pairs — the tail-zip of [[tokenHashes]];
    * < 2 tokens → empty array, matching
    * `arrays_zip(slice(toks,1,n-1), slice(toks,2,n-1))`. */
  def bigramHashes(s: UTF8String): ArrayData = {
    val h = tokenHashLongs(s)
    val m = math.max(h.length - 1, 0)
    val rows = new Array[Any](m)
    var i = 0
    while (i < m) {
      rows(i) = new GenericInternalRow(Array[Any](h(i), h(i + 1)))
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** A stopword list as [[StopwordCount]] matches it: the entries' UTF-8
  * bytes, bucketed by length, so a token is compared only with the
  * entries of its own byte length and nothing is allocated per token.
  * Serializable: codegen passes it to the generated code as a
  * reference object. */
final class StopwordSet(words: Seq[String]) extends Serializable {
  private val byLen: Array[Array[Array[Byte]]] = {
    val bytes = words.map(_.getBytes(UTF_8))
    val maxLen = if (bytes.isEmpty) -1 else bytes.map(_.length).max
    Array.tabulate(maxLen + 1)(l => bytes.filter(_.length == l).toArray)
  }

  /** Whether the `len` bytes at `base`/`off` equal an entry. */
  def contains(base: AnyRef, off: Long, len: Int): Boolean = {
    if (len >= byLen.length) return false
    val ws = byLen(len)
    var k = 0
    while (k < ws.length && !ByteArrayMethods.arrayEquals(
        base, off, ws(k), Platform.BYTE_ARRAY_OFFSET, len)) k += 1
    k < ws.length
  }
}

/** `array<bigint>` of xxhash64-seed-42 token hashes of a text column —
  * one codegen'd pass replacing the interpreted
  * split/filter/transform tower (see [[TokenHashUtil]]). */
case class TokenXxHashes(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_token_xxhashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    TokenHashUtil.tokenHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenHashUtil.tokenHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenXxHashes =
    copy(child = newChild)
}

/** `int` whitespace-token count of a text column — the counts-ONLY
  * sibling of [[TokenXxHashes]] for passes that never consume token
  * identities (BM25's avgdl stats, token budgets, packing bins, the
  * curation n_tok denomination): one allocation-free byte scan, fully
  * codegen'd. See [[TokenHashUtil.tokenCount]] for the equivalence
  * argument; TokenCountFastSpec pins it against every token form. */
case class TokenCount(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_token_count"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    TokenHashUtil.tokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenHashUtil.tokenCount($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** `array<struct<w1:bigint, w2:bigint>>` of adjacent token-hash pairs —
  * the bigram extraction of the LM scorer as ONE codegen'd expression
  * (tokenize + hash + tail-zip fused; see [[TokenHashUtil]]). */
case class BigramXxHashes(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_bigram_xxhashes"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", LongType, nullable = false),
      StructField("w2", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    TokenHashUtil.bigramHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenHashUtil.bigramHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramXxHashes =
    copy(child = newChild)
}

/** `array<string>` of the 4 LSH band keys of a lowercased text column
  * — the curation near-dedup signature ([[graft.pipeline.Curation]]'s
  * `lshDropIds`) as one codegen'd byte scan with a thread-local MD5,
  * in place of 8 interpreted `array_min(transform(...))` folds over a
  * regex split's shingle array (see [[TokenHashUtil.md5MinhashBands]]).
  * Null on null text. */
case class Md5MinhashBands(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_md5_minhash_bands"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    TokenHashUtil.md5MinhashBands(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenHashUtil.md5MinhashBands($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5MinhashBands =
    copy(child = newChild)
}

/** `int` count of a text column's tokens that are byte-equal to an
  * entry of `stopwords` (case-sensitive; the caller lowercases if it
  * wants to) — the numerator of
  * [[graft.functions.TextFunctions.stopwordRatio]] as one
  * allocation-free byte scan, in place of an interpreted
  * `filter(tokens(text), t -> array_contains(stop, t))`. Null on null
  * text. */
case class StopwordCount(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with Serializable {
  @transient private lazy val set = new StopwordSet(stopwords)

  override def prettyName: String = "graft_stopword_count"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    TokenHashUtil.stopwordCount(input.asInstanceOf[UTF8String], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", set)
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TokenHashUtil.stopwordCount($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordCount =
    copy(child = newChild)
}
