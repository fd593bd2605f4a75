package graft.functions

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** An immutable BPE merge table with a FAST EXACT tokenizer — the
  * production encode kernel behind [[Bpe.tokenizeVocab]] and the
  * [[graft.expressions.BpeDocTokenCount]] expression.
  *
  * Semantics: identical to the canonical sequential form (apply every
  * merge in rank order, each as one leftmost-first non-overlapping
  * pass — [[Bpe.applyMergesCol]]'s replace tower and the trainer's
  * symbol-array loop). The speedup is the CANDIDATE PRE-FILTER: at the
  * moment merge (l, r) is applied, every live token is a contiguous
  * substring of the original word (tokens start as single characters
  * and merging concatenates ADJACENT tokens, preserving contiguity by
  * induction), so (l, r) can only ever fire if the concatenation l+r
  * occurs as a contiguous substring of the word. Tokenize therefore
  * probes each substring of length 2..maxTokenLen against a
  * concat-keyed index, collects the (few) candidate merges, and
  * applies ONLY those, in rank order — O(len·maxTokenLen) hash probes
  * plus O(candidates·len) applications per word, independent of the
  * table size, where the replace tower pays O(numMerges·len) per word
  * and falls out of codegen past a few hundred merges (the engine's
  * NearestList lesson, r13). Applying a subset that provably contains
  * every merge that can fire yields the exact sequential result, so
  * the kernel is bit-equal to the column form — BpeSpec pins it, and
  * q_bpe_vocab's DuckDB replace-tower oracle re-proves it end-to-end
  * on every Verify run.
  *
  * The candidate probe itself never allocates until it has a REAL
  * candidate: a rolling `h·31 + c` hash (String.hashCode's recurrence,
  * extended one char at a time per start position) is checked against
  * an open-addressed int set of the merge concatenations' hashCodes
  * first, so the common case — a window that is no merge — costs two
  * array reads, and `substring` + map lookup run only on hash hits
  * (false positives possible, false negatives not: every real key's
  * hash is in the set, so exactness is untouched). This is what keeps
  * the per-word cost flat when the word CACHE misses — at a
  * production vocab (15.65M distinct words vs a heap-bounded cache)
  * most words compute, not probe, and the r14 measurement showed the
  * allocation-heavy probe collapsing the column form to 2 M tok/s.
  *
  * Constant sizing (the NearestList/MatVecProject discipline): the
  * table travels to executors as a broadcast variable or plan
  * reference of ~(total merge string bytes) — a 50k-merge production
  * table is ~2 MB, driver- and task-sized by design. The word→result
  * cache is PROCESS-WIDE, keyed by the table's CONTENT fingerprint
  * (deserialization makes a fresh instance per task on the
  * plan-reference path — an instance-owned cache would restart cold
  * every task and never amortize), BYTE-bounded against the process
  * heap ([[CacheBudgetBytes]] across all live tables — a fixed entry
  * cap priced multi-GB of boxed entries before it bound anything),
  * capped at [[MaxSharedTables]] live tables with FIFO whole-table
  * eviction (never a clear-all that cold-starts every hot cache in
  * the process), and thread-safe.
  *
  * Equality/hashCode are VALUE-based (the merge array), so two
  * expressions built from the same merge table compare equal —
  * subexpression elimination and canonicalized-plan hashing behave,
  * and plan hashes are run-deterministic.
  */
final class BpeMergeTable(val merges: Array[Bpe.Merge]) extends Serializable {
  import BpeMergeTable._

  override def equals(other: Any): Boolean = other match {
    case t: BpeMergeTable =>
      (t eq this) || java.util.Arrays.equals(
        merges.asInstanceOf[Array[AnyRef]], t.merges.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.hashCode(merges.asInstanceOf[Array[AnyRef]])
  override def toString: String = s"BpeMergeTable(${merges.length} merges)"

  /** concat(left+right) → merges with that concatenation, rank ASC.
    * Multiple merges can share one concatenation ((a,bc) vs (ab,c)). */
  @transient private lazy val byConcat: java.util.HashMap[String, Array[Bpe.Merge]] = {
    val m = new java.util.HashMap[String, Array[Bpe.Merge]]()
    merges.sortBy(_.rank).foreach { mg =>
      val k = mg.left + mg.right
      val prev = m.get(k)
      m.put(k, if (prev == null) Array(mg) else prev :+ mg)
    }
    m
  }

  /** Longest merged-token length — bounds the substring probe window. */
  @transient private lazy val maxTokenLen: Int =
    if (merges.isEmpty) 2
    else math.max(2, merges.map(m => m.left.length + m.right.length).max)

  /** Open-addressed set of the concatenation keys' String.hashCodes —
    * the allocation-free prefilter in front of [[byConcat]]. */
  @transient private lazy val candHashes: IntHashSet = {
    val s = new IntHashSet(byConcat.size())
    val it = byConcat.keySet().iterator()
    while (it.hasNext) s.add(it.next().hashCode)
    s
  }

  @transient private lazy val cache = sharedCache(this)

  /** BPE tokens of `word` — exact sequential semantics (see class doc). */
  def tokenize(word: String): Array[String] = {
    if (word.length <= 1) return Array(word)
    // candidate merges: rank → merge, deduped, rank-ascending
    var cands: java.util.TreeMap[Integer, Bpe.Merge] = null
    val hs = candHashes
    val n = word.length
    var i = 0
    while (i < n - 1) {
      val maxJ = math.min(n, i + maxTokenLen)
      // rolling String.hashCode of word.substring(i, j): extend by one
      // char per step — substring/map work only on a set hit
      var h = word.charAt(i) * 31 + word.charAt(i + 1)
      var j = i + 2
      while (j <= maxJ) {
        if (hs.contains(h)) {
          val ms = byConcat.get(word.substring(i, j))
          if (ms != null) {
            if (cands == null) cands = new java.util.TreeMap[Integer, Bpe.Merge]()
            var k = 0
            while (k < ms.length) { cands.put(ms(k).rank, ms(k)); k += 1 }
          }
        }
        if (j < n) h = h * 31 + word.charAt(j)
        j += 1
      }
      i += 1
    }
    var syms = Bpe.splitChars(word)
    if (cands != null) {
      val it = cands.values().iterator()
      while (it.hasNext && syms.length > 1) {
        val m = it.next()
        if (containsPair(syms, m.left, m.right))
          syms = applyMergeOnce(syms, m.left, m.right, m.left + m.right)
      }
    }
    syms
  }

  /** Token count of one word, memoized per table (byte-bounded). */
  def tokenCount(word: String): Int = {
    val hit = cache.map.get(word)
    if (hit != null) return hit.asInstanceOf[Integer].intValue()
    val c = tokenize(word).length
    cache.maybePut(word, Integer.valueOf(c), word.length * 2L + 80L)
    c
  }

  /** [[Bpe.docTokenCountCol]]'s contract over a whole document as one
    * byte-scan: the words are `TextFunctions.tokens(text)`, scanned as
    * maximal runs of non-separator bytes ([[TextFunctions.isSep]]),
    * SEP-containing words skipped (U+0001 is the single byte 0x01),
    * token counts summed. Called from generated code
    * (BpeDocTokenCount's doGenCode). */
  def docTokenCount(text: UTF8String): Long = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    var total = 0L
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
          total += tokenCount(w)
        }
      }
    }
    total
  }
}

object BpeMergeTable {
  /** Process-wide byte budget across ALL word-result caches, sized to
    * the heap: an eighth of max memory, floored at 256 MB so small
    * test JVMs still amortize, capped at 16 GB so a huge executor
    * doesn't dedicate half its heap to memo entries. Entry costs are
    * ESTIMATES (chars + headers + map-node overhead) — the bound is a
    * pressure valve, not an accountant; past it the kernel degrades
    * to compute-per-word (cheap post-prefilter), never OOM. */
  final val CacheBudgetBytes: Long = math.min(16L << 30,
    math.max(256L << 20, Runtime.getRuntime.maxMemory / 8))

  /** Live shared-cache bound: distinct merge TABLES in flight in one
    * executor process — more than a handful means a misuse (a table
    * per micro-batch, say). Past it the OLDEST-registered table's
    * cache is evicted (FIFO), never the whole map: a clear-all would
    * cold-start every hot cache in the process on the 9th table. */
  final val MaxSharedTables = 8

  /** One table's memo: word → result (Integer counts for
    * [[BpeMergeTable]], long[] id rows for [[BpeIdTable]]), with its
    * share of the process byte budget tracked approximately. The
    * admission check races benignly: a handful of concurrent inserts
    * can overshoot by one entry per thread, nothing cumulative. */
  private[functions] final class TableCache {
    val map = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    def maybePut(word: String, value: AnyRef, cost: Long): Unit =
      if (totalBytes.get() + cost <= CacheBudgetBytes &&
          map.putIfAbsent(word, value) == null) {
        bytes.addAndGet(cost)
        totalBytes.addAndGet(cost)
      }
  }

  private val shared =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, TableCache]()
  private val fifo = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
  private val totalBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The process-wide word→result cache for a table, keyed by the
    * table's VALUE (BpeMergeTable/BpeIdTable equality compares
    * contents, so a hash collision between two different tables still
    * resolves to two distinct caches — never shared results). */
  private[functions] def sharedCache(t: AnyRef): TableCache = {
    val hit = shared.get(t)
    if (hit != null) return hit
    var guard = 0
    while (shared.size() >= MaxSharedTables && guard < MaxSharedTables * 2) {
      val oldest = fifo.poll()
      if (oldest != null) {
        val evicted = shared.remove(oldest)
        if (evicted != null) totalBytes.addAndGet(-evicted.bytes.get())
      }
      guard += 1
    }
    val fresh = new TableCache
    val prev = shared.putIfAbsent(t, fresh)
    if (prev != null) prev
    else {
      fifo.add(t)
      fresh
    }
  }

  /** Minimal open-addressed int set (linear probe, power-of-2 capacity
    * ≥ 2× elements, Fibonacci smear — short-string hashCodes cluster
    * in the low bits). No boxing on the tokenize hot path; membership
    * is two array reads in the common miss case. */
  private[functions] final class IntHashSet(nKeys: Int) {
    private val cap = {
      var c = 16
      while (c < nKeys * 2 + 2 && c > 0) c <<= 1
      c
    }
    private val mask = cap - 1
    private val slots = new Array[Int](cap)
    private val used = new Array[Boolean](cap)
    private def smear(v: Int): Int = {
      val h = v * 0x9E3779B9
      h ^ (h >>> 16)
    }
    def add(v: Int): Unit = {
      var i = smear(v) & mask
      while (used(i) && slots(i) != v) i = (i + 1) & mask
      slots(i) = v
      used(i) = true
    }
    def contains(v: Int): Boolean = {
      var i = smear(v) & mask
      while (used(i)) {
        if (slots(i) == v) return true
        i = (i + 1) & mask
      }
      false
    }
  }

  private[functions] def containsPair(
      syms: Array[String], l: String, r: String): Boolean = {
    var i = 0
    while (i < syms.length - 1) {
      if (syms(i) == l && syms(i + 1) == r) return true
      i += 1
    }
    false
  }

  /** One leftmost-first non-overlapping pass of merge (l, r) → lr —
    * the single-merge kernel shared by the trainer and the tokenizer. */
  private[functions] def applyMergeOnce(
      syms: Array[String], l: String, r: String, lr: String): Array[String] = {
    val out = new Array[String](syms.length)
    var oi = 0
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out(oi) = lr; oi += 1; i += 2
      } else { out(oi) = syms(i); oi += 1; i += 1 }
    }
    if (oi == syms.length) out else java.util.Arrays.copyOf(out, oi)
  }

  /** [[applyMergeOnce]] that also reports the OLD-array indices of the
    * first and last merge site through `sites` (a reusable 2-slot
    * out-param — the trainer calls this per touched word and a tuple
    * per call would be allocation noise). sites(0) = sites(1) = −1
    * when nothing fired (callers guard with containsPair). */
  private[functions] def applyMergeSites(
      syms: Array[String], l: String, r: String, lr: String,
      sites: Array[Int]): Array[String] = {
    sites(0) = -1; sites(1) = -1
    val out = new Array[String](syms.length)
    var oi = 0
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        if (sites(0) < 0) sites(0) = i
        sites(1) = i
        out(oi) = lr; oi += 1; i += 2
      } else { out(oi) = syms(i); oi += 1; i += 1 }
    }
    if (oi == syms.length) out else java.util.Arrays.copyOf(out, oi)
  }
}
