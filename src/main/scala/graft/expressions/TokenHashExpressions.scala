package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextFunctions

/** Static tokenize-and-hash kernel for [[TokenXxHashes]] /
  * [[BigramXxHashes]], shaped for codegen (Scala object → static
  * forwarders, so generated Java calls it directly).
  *
  * The SQL formulation of the bigram-LM pipeline —
  * `transform(tokens(lower(text)), x -> xxhash64(x))` and the tail-zip
  * built on it ([[graft.QueriesCommon.bigramsFromToksSql]]) —
  * evaluates as a stack of interpreted higher-order functions: a regex
  * `Pattern` walk, one `UTF8String` allocation per token (twice, for
  * the two slices of the zip), and per-element lambda dispatch, none
  * of it inside whole-stage codegen. At 15.7 GiB that kernel was ~42 s
  * of q_lm_score's ~60 s executor CPU (LmProbe, round 10). This kernel
  * is the byte-scan twin: lowercase once (`UTF8String.toLowerCase`,
  * the exact `Lower` kernel), then a single pass over the UTF-8 bytes
  * that emits the maximal runs of non-separator bytes
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

  /** xxhash64-seed-42 of each whitespace-delimited token of lower(s),
    * in document order. */
  def tokenHashLongs(s: UTF8String): Array[Long] = {
    val lowered = s.toLowerCase
    val base = lowered.getBaseObject
    val off = lowered.getBaseOffset
    val n = lowered.numBytes
    var out = new Array[Long](8)
    var cnt = 0
    var i = 0
    while (i < n) {
      while (i < n && TextFunctions.isSep(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !TextFunctions.isSep(Platform.getByte(base, off + i))) i += 1
        if (cnt == out.length) out = java.util.Arrays.copyOf(out, cnt * 2)
        out(cnt) = XXH64.hashUTF8String(
          UTF8String.fromAddress(base, off + start, i - start), Seed)
        cnt += 1
      }
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
    var i = 0
    while (i < n) {
      while (i < n && TextFunctions.isSep(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        cnt += 1
        while (i < n && !TextFunctions.isSep(Platform.getByte(base, off + i))) i += 1
      }
    }
    cnt
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
