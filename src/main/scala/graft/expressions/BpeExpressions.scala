package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BpeIdTable, BpeMergeTable}

/** `bigint` learned-BPE token count of a text column
  * ([[graft.functions.Bpe.docTokenCountFastCol]]): one codegen'd
  * byte-scan + merge-loop kernel call per row. The merge table rides
  * the plan as a reference object (`ctx.addReferenceObj` — Spark's own
  * pattern for non-literal expression state, e.g. compiled regex
  * patterns), so the generated Java calls straight into
  * [[BpeMergeTable]]'s kernel; its word→count cache warms per executor
  * and amortizes vocabulary probes across every partition the executor
  * runs. Constant sizing: a 50k-merge table is ~2 MB of task binary —
  * see the BpeMergeTable scaladoc for the bound. Exactness is gated by
  * the DuckDB oracle of q_bpe_encode and by BpeSpec's reference column
  * form (a sum of per-word replace towers). */
case class BpeDocTokenCount(child: Expression, table: BpeMergeTable)
    extends UnaryExpression with Serializable {
  override def prettyName: String = "graft_bpe_doc_token_count"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  // shape-only rendering — the default would print the table object's
  // identity hashcode, churning plan dumps nondeterministically (the
  // NearestList/CovStats lesson)
  override def toString: String =
    s"$prettyName($child, merges=${table.merges.length})"
  override def sql: String =
    s"$prettyName(${child.sql}, merges=${table.merges.length})"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    table.docTokenCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeMergeTable].getName)
    defineCodeGen(ctx, ev, c => s"$ref.docTokenCount($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDocTokenCount =
    copy(child = newChild)
}

/** `array<array<bigint>>` learned-BPE token ids of a text column
  * ([[graft.functions.Bpe.docTokenIdsCol]]): one inner array per word
  * of `TextFunctions.tokens`, in document order, empty for a word
  * holding SEP — the outer index is the word position. The id-emitting
  * sibling of [[BpeDocTokenCount]] over the same document scan. The
  * ride-along state is the merge table + the id VOCABULARY (alphabet +
  * one token per merge — constant-sized, ~2 MB at 50k merges), so the
  * corpus never joins anything and a 10⁷-distinct-word vocabulary
  * costs the plan nothing. Unknown tokens under a pinned vocabulary
  * emit −1 (UNK), never a dropped position. Exactness is gated by the
  * DuckDB oracles of q_bpe_token_ids (exact rows on a subset),
  * q_bpe_ids_checksum and q_bpe_ids_kernel, and by BpeSpec's
  * reference column forms. */
case class BpeDocTokenIds(child: Expression, idTable: BpeIdTable)
    extends UnaryExpression with Serializable {
  override def prettyName: String = "graft_bpe_doc_token_ids"
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = child.nullable

  // shape-only rendering (see BpeDocTokenCount)
  override def toString: String =
    s"$prettyName($child, merges=${idTable.table.merges.length}, " +
      s"ids=${idTable.ids.length})"
  override def sql: String =
    s"$prettyName(${child.sql}, merges=${idTable.table.merges.length}, " +
      s"ids=${idTable.ids.length})"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    idTable.docWordIds(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeIdTable", idTable,
      classOf[BpeIdTable].getName)
    defineCodeGen(ctx, ev, c => s"$ref.docWordIds($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDocTokenIds =
    copy(child = newChild)
}
