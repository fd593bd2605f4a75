package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for [[Md5Bucket]], shaped for codegen: a Scala object
  * with no companion class compiles with static forwarders, so
  * generated Java calls `graft.expressions.Md5BucketUtil.bucket(s)`
  * directly. One thread-local digest instance — `MessageDigest
  * .getInstance` per row would dominate the hash itself. */
object Md5BucketUtil {
  private[expressions] val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Last byte of md5(utf8(s)) as 0..255 — numerically identical to
    * the SQL idiom `instr(hex, substr(md5(s),31,1))·16 + instr(hex,
    * substr(md5(s),32,1))` every sampler oracle uses, without the
    * 32-char hex string, two substrings, and two linear scans. */
  def bucket(s: UTF8String): Int = {
    val d = md.get()
    d.reset()
    d.update(s.getBytes)
    d.digest()(15) & 0xff
  }

  /** Raw 16-byte md5 digest. Spark orders BinaryType by UNSIGNED
    * lexicographic compare, and byte-wise unsigned order of the digest
    * IS the lexicographic order of its lowercase hex — so sorting by
    * this is exactly sorting by `md5(s)` the string, with a 16-byte
    * fixed-width sort key instead of a 32-char UTF8String. */
  def digest(s: UTF8String): Array[Byte] = {
    val d = md.get()
    d.reset()
    d.update(s.getBytes)
    d.digest()
  }

  /** FIRST byte of md5(utf8(s)) as 0..255 — the top 8 bits of the
    * [[Md5Bucket]]-family ORDER key, so bucket b's rows form a
    * contiguous range of the `digest` sort order strictly below
    * bucket b+1's. The range-decomposition coin for the salted
    * token-budget prefix (Md5Bucket's LAST byte is independent of the
    * order and deliberately so — it must not correlate with the
    * training-order sort). */
  def bucketHi(s: UTF8String): Int = {
    val d = md.get()
    d.reset()
    d.update(s.getBytes)
    d.digest()(0) & 0xff
  }
}

/** The engine-neutral sampling coin as ONE codegen'd expression:
  * md5-bucket 0..255 of a string key. Every deterministic sampler in
  * the engine (split/mixture/epoch/budget draws) flips this coin; the
  * SQL formulation builds the full 32-char hex string and scans it
  * with `instr` twice per row, all inside five nested string
  * expressions — this expression reads the one digest byte the
  * samplers actually use. Bit-identical to the SQL form (spec-asserted
  * on adversarial inputs) so every DuckDB oracle gate still holds. */
case class Md5Bucket(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_md5_bucket"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    Md5BucketUtil.bucket(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Md5BucketUtil.bucket($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Bucket =
    copy(child = newChild)
}

/** The deterministic-order SORT KEY as one codegen'd expression: the
  * raw md5 digest of a string key. Sorting by it is bit-identical to
  * sorting by the md5 hex string (unsigned binary order == hex
  * lexicographic order — spec-asserted), with a fixed 16-byte key in
  * the sort instead of a 32-char string. Used by the training-order
  * writer and the token-budget window's priority order. */
case class Md5Binary(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_md5_binary"
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    Md5BucketUtil.digest(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Md5BucketUtil.digest($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Binary =
    copy(child = newChild)
}

/** The top 8 bits of the [[Md5Binary]] order key as 0..255: bucket b
  * is a contiguous slice of the deterministic training order, so a
  * per-source prefix (token budget) decomposes into whole buckets
  * plus ONE boundary bucket — the salted skew path sorts only the
  * boundary slice (~1/256 of the source) instead of the whole
  * source. */
case class Md5BucketHi(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_md5_bucket_hi"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    Md5BucketUtil.bucketHi(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.Md5BucketUtil.bucketHi($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5BucketHi =
    copy(child = newChild)
}
