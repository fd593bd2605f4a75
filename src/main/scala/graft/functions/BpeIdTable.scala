package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/** A BPE merge table PLUS its token→id vocabulary — the executor-side
  * kernel behind map-only token-ID emission
  * ([[graft.expressions.BpeDocTokenIds]] / [[Bpe.docTokenIdsCol]]).
  *
  * The two tables it holds are CONSTANT-sized: the merge table (~2 MB
  * at 50k merges) and the id vocabulary (base alphabet + one token per
  * merge — bounded by alphabet + numMerges, NOT by corpus vocabulary).
  * So the kernel re-tokenizes words executor-side and maps tokens
  * through the id table with ZERO joins: the corpus never meets its
  * word table, which at a production vocabulary (15.65M words) would
  * be a multi-GB table per executor. The per-word work is memoized in
  * the shared byte-bounded cache exactly like token counting, so hot
  * words tokenize once per executor process.
  *
  * Exactness: the DuckDB gates q_bpe_token_ids (exact long-form rows
  * on a subset), q_bpe_ids_checksum (word-position checksum over the
  * corpus) and q_bpe_ids_kernel (flat-position checksum) re-prove the
  * kernel against the oracle's replace-tower chain on every Verify
  * run; BpeSpec pins it against its reference column forms, including
  * the UNK = −1 contract for tokens outside a pinned vocabulary.
  *
  * Equality/hashCode are VALUE-based (merge array + id rows) for the
  * same reasons as [[BpeMergeTable]]: subexpression elimination,
  * deterministic canonicalized-plan hashes, and correct shared-cache
  * keying on the deserialize-per-task plan-reference path.
  */
final class BpeIdTable(val table: BpeMergeTable, val ids: Array[(String, Long)])
    extends Serializable {

  override def equals(other: Any): Boolean = other match {
    case t: BpeIdTable =>
      (t eq this) || (table == t.table && java.util.Arrays.equals(
        ids.asInstanceOf[Array[AnyRef]], t.ids.asInstanceOf[Array[AnyRef]]))
    case _ => false
  }
  override def hashCode: Int =
    31 * table.hashCode +
      java.util.Arrays.hashCode(ids.asInstanceOf[Array[AnyRef]])
  override def toString: String =
    s"BpeIdTable(${table.merges.length} merges, ${ids.length} ids)"

  @transient private lazy val idMap: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](ids.length * 2)
    ids.foreach { case (t, i) => m.put(t, java.lang.Long.valueOf(i)) }
    m
  }

  @transient private lazy val cache = BpeMergeTable.sharedCache(this)

  /** Id of one token; −1 (UNK) when outside the vocabulary — the
    * pinned-vocab portability contract (see [[Bpe.docTokenIdsCol]]). */
  def idOf(token: String): Long = {
    val v = idMap.get(token)
    if (v == null) -1L else v.longValue()
  }

  /** Token ids of one word under the merge table, memoized per table
    * in the shared byte-bounded cache. */
  def wordIds(word: String): Array[Long] = {
    val hit = cache.map.get(word)
    if (hit != null) return hit.asInstanceOf[Array[Long]]
    val toks = table.tokenize(word)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = idOf(toks(i))
      i += 1
    }
    // chars + String/array headers + 8 bytes per id + map-node share
    cache.maybePut(word, out, word.length * 2L + out.length * 8L + 96L)
    out
  }

  /** Per-word token ids of a whole document, in document order: one
    * inner array per word of [[BpeMergeTable.scanWords]] (the words
    * of `TextFunctions.tokens`), empty for a SEP word, so the outer
    * index is the word position. Called from generated code
    * (BpeDocTokenIds's doGenCode). */
  def docWordIds(text: UTF8String): ArrayData = {
    val words = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    BpeMergeTable.scanWords(text) { w =>
      words += UnsafeArrayData.fromPrimitiveArray(
        if (w == null) Array.emptyLongArray else wordIds(w))
    }
    new GenericArrayData(words.toArray)
  }
}
