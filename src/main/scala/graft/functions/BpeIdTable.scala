package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A BPE merge table PLUS its token→id vocabulary — the executor-side
  * kernel behind map-only token-ID emission
  * ([[graft.expressions.BpeDocTokenIds]] / [[Bpe.docTokenIdsFast]]).
  *
  * Why it exists (the r14 scale finding): the join form of id
  * emission ships the TOKENIZED VOCAB — (word → token array), one row
  * per distinct corpus word — to every executor as a broadcast, which
  * at a production vocabulary (15.65M words) is a multi-GB
  * materialization per executor. The two tables that are actually
  * CONSTANT-sized are the merge table (~2 MB at 50k merges) and the
  * id vocabulary (base alphabet + one token per merge — bounded by
  * alphabet + numMerges, NOT by corpus vocabulary), so a kernel that
  * re-tokenizes words executor-side and maps tokens through the id
  * table emits ids with ZERO joins and zero corpus-scale broadcast:
  * the corpus never meets the word table at all. The per-word work is
  * memoized in the shared byte-bounded cache exactly like token
  * counting, so hot words tokenize once per executor process.
  *
  * Exactness seam: the join form ([[Bpe.docTokenIdsLong]]) remains
  * the DuckDB-oracle-expressible sibling; BpeSpec pins this kernel
  * word-for-word and document-for-document equal to it (including the
  * UNK = −1 contract for tokens outside a pinned vocabulary), and the
  * q_bpe_ids_kernel gate re-proves the whole kernel pipeline against
  * the oracle's replace-tower chain on every Verify run.
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
    * pinned-vocab portability contract (see Bpe.docTokenIds). */
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

  /** Whole-document token-ID sequence in document order, as one
    * byte-scan kernel call — the id-emitting sibling of
    * [[BpeMergeTable.docTokenCount]] (identical word split:
    * `TextFunctions.tokens` as non-separator byte runs, SEP-containing
    * words skipped). Called from generated code
    * (BpeDocTokenIds's doGenCode). */
  def docTokenIds(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var buf = new Array[Long](16)
    var m = 0
    var i = 0
    while (i < n) {
      while (i < n && TextFunctions.isSep(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        var hasSepChar = false
        while (i < n && !TextFunctions.isSep(Platform.getByte(base, off + i))) {
          if (Platform.getByte(base, off + i) == 0x01) hasSepChar = true
          i += 1
        }
        if (!hasSepChar) {
          val w = UTF8String.fromAddress(base, off + start, i - start).toString
          val ids = wordIds(w)
          if (m + ids.length > buf.length) {
            var cap = buf.length * 2
            while (cap < m + ids.length) cap *= 2
            buf = java.util.Arrays.copyOf(buf, cap)
          }
          System.arraycopy(ids, 0, buf, m, ids.length)
          m += ids.length
        }
      }
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == buf.length) buf else java.util.Arrays.copyOf(buf, m))
  }
}
