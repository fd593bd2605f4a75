package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  /** Reference BPE (Sennrich et al. 2016 pseudocode shape): pair
    * counts weighted by word frequency, argmax with (count DESC, left,
    * right) tie-break, leftmost-first non-overlapping application. */
  private def refBpe(wf: Map[String, Long], numMerges: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Seq[String]]) = {
    var words: Map[String, (Seq[String], Long)] =
      wf.map { case (w, f) => w -> (w.split("").filter(_.nonEmpty).toSeq, f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var stop = false
    while (rank <= numMerges && !stop) {
      val pc = scala.collection.mutable.Map[(String, String), Long]()
      words.values.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => pc(p) = pc.getOrElse(p, 0L) + f)
      }
      if (pc.isEmpty) stop = true
      else {
        val ((l, r), cnt) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank, l, r, cnt))
        words = words.map { case (w, (syms, f)) =>
          val out = Seq.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> (out.result(), f)
        }
        rank += 1
      }
    }
    (merges.result(), words.map { case (w, (s, _)) => w -> s })
  }

  // A corpus engineered to exercise the hard cases:
  //  - "aaa"/"aaaa": overlapping candidate pairs (leftmost-first rule)
  //  - "xa"/"bx" frequent: later ranks merge (x,a) and (b,x), after
  //    which "xabx" = [xa, bx] must NOT fire a learned (a,b) merge
  //    across the symbol boundary — the false-match trap the doubled
  //    separator encoding exists to prevent
  //  - multi-char symbol merges ((a,b)→ab then (ab,c)→abc)
  private val corpusWf: Map[String, Long] = Map(
    "abab" -> 50L, "abc" -> 40L, "aaa" -> 30L, "aaaa" -> 10L,
    "xa" -> 45L, "bx" -> 45L, "xabx" -> 25L, "b" -> 60L, "cab" -> 15L)

  private def wordsDf = {
    import spark.implicits._
    corpusWf.toSeq.toDF("word", "freq")
  }

  // Reference column forms of the encode contract, from the replace
  // tower (Bpe.tokensCol) and higher-order functions: interpreted and
  // O(numMerges) per word, so they serve as the specs' judges of the two
  // kernels, never as an encoder.

  /** A document's BPE token count: the sum over wordFreq's words (SEP
    * words skipped) of each word's token count. */
  private def docTokenCountCol(text: Column, merges: Seq[Bpe.Merge]): Column = {
    val words = filter(TextFunctions.tokens(text), w => !w.contains(Bpe.Sep))
    aggregate(words, lit(0L), (acc, w) => acc + size(Bpe.tokensCol(w, merges)))
  }

  /** A document's per-word token ids: one array per word of
    * `TextFunctions.tokens`, empty for a SEP word, −1 for a token
    * outside `ids`; null text has no words. */
  private def wordIdsCol(text: Column, merges: Seq[Bpe.Merge],
      ids: Seq[(String, Long)]): Column = {
    val idMap = typedLit(ids.toMap)
    transform(TextFunctions.tokens(coalesce(text, lit(""))), w =>
      when(w.contains(Bpe.Sep), array().cast("array<bigint>"))
        .otherwise(transform(Bpe.tokensCol(w, merges),
          t => coalesce(idMap(t), lit(-1L)))))
  }

  test("learnInMemory matches the reference merge sequence") {
    val got = Bpe.learnInMemory(corpusWf.toArray, 6)
    val (ref, _) = refBpe(corpusWf, 6)
    assert(got.map(m => (m.rank, m.left, m.right, m.freq)) == ref)
  }

  test("learnDistributed matches learnInMemory (adaptive paths agree)") {
    val viaDriver = Bpe.learn(wordsDf, 6)
    val viaCluster = Bpe.learn(wordsDf, 6, collectCap = 0L)
    assert(viaDriver == viaCluster)
    assert(viaDriver.size == 6)
  }

  test("learn routes: one-job collect equals toLocalIterator streaming") {
    // vocabularies under `smallCollectBytes` fetch in ONE collect job;
    // past it the per-partition toLocalIterator stream takes over
    // (bounded driver memory). Force the streaming route on the same
    // corpus and pin the learned merges equal — the fetch route must
    // never change results.
    val viaCollect = Bpe.learn(wordsDf, 6)
    val viaStream = Bpe.learn(wordsDf, 6, smallCollectBytes = 0L)
    assert(viaCollect == viaStream)
    assert(viaCollect.size == 6)
  }

  /** Input rows of each stage that completed while `body` ran. */
  private def stageInputRows(body: => Unit): Seq[Long] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import org.apache.spark.sql.graftbridge.Bridge
    val sc = spark.sparkContext
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        rows.add(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    rows.asScala.toSeq
  }

  test("learn reads the corpus once, on the collect and the distributed route") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpecorpus").toString
    val n = 3000L
    (0L until n).map(i => (i, s"ab${i % 17} xab${i % 5} b${i % 3}aa"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    // a stage that scanned the corpus read all n rows; reads of the
    // cached word table count its column batches, far fewer than n
    def corpusReads(collectCap: Long): Seq[Long] = {
      var merges: Seq[Bpe.Merge] = Nil
      val reads = stageInputRows {
        merges = Bpe.learn(Bpe.wordFreq(docs, "text"), 4,
          collectCap = collectCap)
      }
      assert(merges.size == 4)
      reads.filter(_ >= n)
    }
    assert(corpusReads(20000000L) == Seq(n))
    assert(corpusReads(0L) == Seq(n))
    // the table learn cached is released; a table the caller cached
    // stays cached
    val words = Bpe.wordFreq(docs, "text")
    Bpe.learn(words, 2)
    assert(words.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    words.persist()
    try {
      Bpe.learn(words, 2)
      assert(words.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally words.unpersist()
  }

  test("boundary safety: a merge never fires across symbol boundaries") {
    // force-learn (x,a) and (b,x) first, then apply (a,b): in "xabx"
    // the symbols are [xa, bx] — no (a,b) adjacency exists, though the
    // raw characters 'a','b' are adjacent in the word
    val merges = Seq(Bpe.Merge(1, "x", "a", 1L), Bpe.Merge(2, "b", "x", 1L),
      Bpe.Merge(3, "a", "b", 1L))
    val toks = wordsDf.filter(col("word") === "xabx")
      .select(Bpe.tokensCol(col("word"), merges).as("t"))
      .collect().head.getSeq[String](0)
    assert(toks == Seq("xa", "bx"))
    // whereas in "abab" the (a,b) merge fires on BOTH pairs
    val toks2 = wordsDf.filter(col("word") === "abab")
      .select(Bpe.tokensCol(col("word"), Seq(Bpe.Merge(1, "a", "b", 1L))).as("t"))
      .collect().head.getSeq[String](0)
    assert(toks2 == Seq("ab", "ab"))
    // and overlapping candidates resolve leftmost-first: aaa → [aa, a]
    val toks3 = wordsDf.filter(col("word") === "aaa")
      .select(Bpe.tokensCol(col("word"), Seq(Bpe.Merge(1, "a", "a", 1L))).as("t"))
      .collect().head.getSeq[String](0)
    assert(toks3 == Seq("aa", "a"))
  }

  test("column tokenization equals the reference under learned merges") {
    val merges = Bpe.learn(wordsDf, 6)
    val (_, refWords) = refBpe(corpusWf, 6)
    val got = wordsDf.select(col("word"),
        Bpe.tokensCol(col("word"), merges).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got == refWords)
  }

  test("learnIncremental equals the recount loop (engineered corpus)") {
    // the heap + occurrence-index trainer vs the naive full-recount
    // reference, merge-for-merge — including freq ties resolved by
    // (left, right) binary order
    val a = Bpe.learnIncremental(corpusWf.iterator, 12)
    val b = Bpe.learnRecount(corpusWf.toArray, 12)
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("learnIncremental equals the recount loop (randomized corpora)") {
    // seeded random corpora over small alphabets maximize pair-count
    // collisions and merge-chain depth — the regimes where a stale
    // heap snapshot or a missed index update would diverge
    val rnd = new scala.util.Random(20260816L)
    (1 to 25).foreach { trial =>
      val alphabet = "abcd".take(2 + rnd.nextInt(3))
      val nWords = 1 + rnd.nextInt(40)
      val wf = (1 to nWords).map { _ =>
        val len = 1 + rnd.nextInt(8)
        val w = (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        w -> (1L + rnd.nextInt(5))
      }.groupBy(_._1).map { case (w, fs) => w -> fs.map(_._2).sum }
      val n = 1 + rnd.nextInt(30)
      val inc = Bpe.learnIncremental(wf.iterator, n)
      val ref = Bpe.learnRecount(wf.toArray, n)
      assert(inc == ref, s"trial $trial diverged on $wf with $n merges")
    }
  }

  test("tie-breaks compare code points, not UTF-16 units (all three loops)") {
    // U+E000 (private use, one UTF-16 unit 0xE000) vs U+10000 (two
    // units, leading 0xD800): Java String.compareTo orders the
    // supplementary char FIRST (0xD800 < 0xE000), UTF-8 byte / code
    // point order the other way (E000 < 10000) — engineer an exact
    // count tie between (U+10000, x) and (U+E000, x) and require every
    // path to pick U+E000, the engine/DuckDB collation. This also
    // covers the symbol-split contract: Bpe.splitChars must keep the
    // supplementary char WHOLE (Java split("") would cut it into two
    // lone surrogates and learn a different alphabet than the engine)
    val hi = new String(Character.toChars(0x10000))
    val lo = ""
    assert(lo.compareTo(hi) > 0) // UTF-16 order would pick hi first
    assert(Bpe.utf8Compare(lo, hi) < 0) // code-point order picks lo
    val wf = Map(s"${hi}x" -> 5L, s"${lo}x" -> 5L)
    val inc = Bpe.learnIncremental(wf.iterator, 1)
    val rec = Bpe.learnRecount(wf.toArray, 1)
    assert(inc == rec)
    assert(inc.head.left == lo, s"expected U+E000 first, got ${inc.head}")
    import spark.implicits._
    val dist = Bpe.learn(wf.toSeq.toDF("word", "freq"), 1, collectCap = 0L)
    assert(dist == inc, "driver and distributed tie-breaks diverged")
  }

  test("learn minFreq: identical to learning on a pre-pruned table") {
    // the SentencePiece/HF min_frequency contract — pruning is part of
    // the INPUT definition, not an approximation knob
    val pruned = Bpe.learn(wordsDf, 6, minFreq = 30L)
    val manual = Bpe.learn(wordsDf.filter(col("freq") >= 30), 6)
    assert(pruned == manual)
    assert(pruned != Bpe.learn(wordsDf, 6),
      "the engineered corpus must actually change under the prune")
    // threshold 1 is the identity; the distributed route prunes too
    assert(Bpe.learn(wordsDf, 6, minFreq = 1L) == Bpe.learn(wordsDf, 6))
    assert(Bpe.learn(wordsDf, 6, collectCap = 0L, minFreq = 30L) == pruned)
  }

  test("fast tokenizer kernel equals the column form (learned merges)") {
    // BpeMergeTable.tokenize (candidate-prefilter merge loop) vs the
    // nested-replace column tower, token-for-token on the full vocab
    val merges = Bpe.learn(wordsDf, 6)
    val table = new BpeMergeTable(merges.toArray)
    val viaCol = wordsDf.select(col("word"),
        Bpe.tokensCol(col("word"), merges).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    corpusWf.keys.foreach { w =>
      assert(table.tokenize(w).toList == viaCol(w), s"word $w")
      assert(table.tokenCount(w) == viaCol(w).size)
    }
    // shared-concatenation candidates: (a,bc) and (ab,c) both key "abc"
    val amb = new BpeMergeTable(Array(
      Bpe.Merge(1, "b", "c", 9L), Bpe.Merge(2, "a", "bc", 8L),
      Bpe.Merge(3, "a", "b", 7L)))
    assert(amb.tokenize("abc").toList == List("abc"))
    assert(amb.tokenize("ab").toList == List("ab")) // rank-3 (a,b) fires
    assert(amb.tokenize("cab").toList == List("c", "ab"))
    // single char / untouched words pass through
    assert(amb.tokenize("z").toList == List("z"))
  }

  test("docTokenCountFastCol equals docTokenCountCol (kernel ≡ oracle form)") {
    import spark.implicits._
    val merges = Bpe.learn(wordsDf, 6)
    // adversarial whitespace (tabs, CR/LF, runs, leading/trailing),
    // SEP-containing words (skipped on both sides), multi-byte UTF-8,
    // empty and null docs
    val docs = Seq(
      (1L, "abab abc\taaa"), (2L, " \t xa bx\r\nxabx  "), (3L, "b"),
      (4L, "he" + Bpe.Sep + "x abc"), (5L, ""), (6L, "héllo wörld"),
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        Bpe.docTokenCountFastCol(col("text"), merges).as("fast"),
        docTokenCountCol(col("text"), merges).as("slow"))
      .collect()
    got.foreach { r =>
      if (r.isNullAt(1) || r.isNullAt(2))
        assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch: $r")
      else assert(r.getLong(1) == r.getLong(2), s"count mismatch: $r")
    }
  }

  test("vocabIds: base alphabet in binary order, merge ids by rank, min-id on collisions") {
    import spark.implicits._
    val words = Seq(("abc", 5L), ("bca", 3L)).toDF("word", "freq")
    // merges engineered so ranks 1 and 3 both produce the string "abc"
    val merges = Seq(Bpe.Merge(1, "ab", "c", 9L), Bpe.Merge(2, "a", "b", 8L),
      Bpe.Merge(3, "a", "bc", 7L))
    val ids = Bpe.vocabIds(words, merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // base: a < b < c -> 0, 1, 2; merges: abc=3 (rank1, min over rank3's 5), ab=4
    assert(ids == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "abc" -> 3L, "ab" -> 4L))
  }

  test("docTokenIds: sequences in document order, ids from the shared vocab") {
    import spark.implicits._
    val docs = Seq((1L, "abab abc"), (2L, " b  cab ")).toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs, "text")
    val merges = Bpe.learn(words, 2)
    val (_, refWords) = refBpe(
      Map("abab" -> 1L, "abc" -> 1L, "b" -> 1L, "cab" -> 1L), 2)
    val ids = Bpe.vocabIds(words, merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Bpe.docTokenIdsFast(docs, "text", Seq("doc_id"), merges, ids.toSeq)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    val exp = Map(
      1L -> (refWords("abab") ++ refWords("abc")),
      2L -> (refWords("b") ++ refWords("cab"))).map { case (k, toks) =>
      k -> ((toks.size.toLong, toks.map(ids).toList))
    }
    assert(got == exp)
  }

  test("docTokenIdsFast equals the reference column form, derived and pinned") {
    import spark.implicits._
    // adversarial whitespace, SEP word (an empty slot), multi-byte
    // UTF-8, empty and null docs (empty sequences)
    val docs = Seq(
      (1L, "abab abc\taaa"), (2L, " \t xa bx\r\nxabx  "), (3L, "b cab"),
      (4L, "he" + Bpe.Sep + "x abc"), (5L, ""), (6L, "héllo wörld"),
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs, "text")
    val merges = Bpe.learn(words, 6)
    val idRows = Bpe.vocabIds(words, merges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // pinned vocabulary MISSING some tokens: -1 (UNK) at those positions
    val pinnedRows = idRows.filter { case (t, _) => t != "a" && t != "ab" }
    Seq(idRows, pinnedRows).foreach { ids =>
      val perWord = docs.select(col("doc_id"),
          Bpe.docTokenIdsCol(col("text"), merges, ids).as("kernel"),
          wordIdsCol(col("text"), merges, ids).as("ref"))
        .collect().map(r => r.getLong(0) ->
          ((r.getSeq[scala.collection.Seq[Long]](1).map(_.toList).toList,
            r.getSeq[scala.collection.Seq[Long]](2).map(_.toList).toList))).toMap
      perWord.foreach { case (id, (k, ref)) => assert(k == ref, s"doc $id") }
      assert(perWord(4L)._1.head == Nil, "a SEP word keeps its slot, empty")
      // the flat and the long form are the per-word arrays, flattened
      // and posexploded
      val flat = Bpe.docTokenIdsFast(docs, "text", Seq("doc_id"), merges, ids)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
      assert(flat == perWord.map { case (id, (k, _)) =>
        id -> ((k.flatten.size.toLong, k.flatten)) })
      val long = Bpe.docTokenIdRows(docs, "text", Seq("doc_id"), merges, ids)
        .orderBy("doc_id", "word_pos", "tok_pos")
        .as[(Long, Int, Int, Long)].collect().toSeq
      assert(long == perWord.toSeq.sortBy(_._1).flatMap { case (id, (k, _)) =>
        k.zipWithIndex.flatMap { case (toks, wp) =>
          toks.zipWithIndex.map { case (t, tp) => (id, wp, tp, t) } } })
    }
    assert(Bpe.docTokenIdsFast(docs, "text", Seq("doc_id"), merges, pinnedRows)
        .collect().exists(_.getSeq[Long](2).contains(-1L)),
      "fixture must exercise the UNK path")
  }

  // The encode contract on hostile docs, pinned with the values the
  // vocab-join forms produced: a SEP word in the middle of a doc keeps
  // its word_pos slot, a token outside a pinned vocab is UNK (-1), and
  // whitespace-only, empty and null docs have no token rows and count
  // toward no source. doc_id % 199 == 7 except doc 8, so the
  // q_bpe_token_ids subset is every doc but that one.
  private def pinDocs = {
    import spark.implicits._
    Seq(("s0", 7L, "abc a" + Bpe.Sep + "b xyz"), ("s0", 8L, "abab xy"),
      ("s0", 206L, " \t\n "), ("s1", 405L, ""),
      ("s1", 604L, null.asInstanceOf[String]), ("s1", 803L, "zab\tc abc"),
      ("s2", 1002L, "   "))
      .toDF("source", "doc_id", "text")
  }
  private val pinMerges = Seq(Bpe.Merge(1, "a", "b", 0L),
    Bpe.Merge(2, "ab", "c", 0L), Bpe.Merge(3, "x", "y", 0L))
  private val pinVocab = Seq("a" -> 0L, "b" -> 1L, "c" -> 2L, "ab" -> 3L,
    "abc" -> 4L, "xy" -> 5L)

  /** (doc_id, word_pos, tok_pos, token_id) in order. */
  private def pinLongRows(pinned: Boolean): Seq[(Long, Int, Int, Long)] = {
    import spark.implicits._
    val docs = pinDocs
    val ids = if (pinned) pinVocab
      else Bpe.vocabIds(Bpe.wordFreq(docs, "text"), pinMerges)
        .as[(String, Long)].collect().toSeq
    Bpe.docTokenIdRows(docs, "text", Seq("doc_id"), pinMerges, ids)
      .orderBy("doc_id", "word_pos", "tok_pos")
      .as[(Long, Int, Int, Long)].collect().toSeq
  }

  /** q_bpe_encode's per-source (source, n_docs, n_words, n_tokens). */
  private def pinEncodeRows(): Seq[(String, Long, Long, Long)] = {
    import spark.implicits._
    Bpe.docCounts(pinDocs, "text", Seq("doc_id", "source"), pinMerges)
      .filter(col("n_words") > 0)
      .groupBy("source")
      .agg(countDistinct("doc_id"), sum("n_words"), sum("n_tokens"))
      .orderBy("source")
      .as[(String, Long, Long, Long)].collect().toSeq
  }

  test("encode pins: word positions, UNK, token-less docs, per-source counts") {
    // base alphabet a b c x y z -> 0..5, then ab 6, abc 7, xy 8
    assert(pinLongRows(pinned = false) == Seq(
      (7L, 0, 0, 7L), (7L, 2, 0, 8L), (7L, 2, 1, 5L),
      (8L, 0, 0, 6L), (8L, 0, 1, 6L), (8L, 1, 0, 8L),
      (803L, 0, 0, 5L), (803L, 0, 1, 6L), (803L, 1, 0, 2L), (803L, 2, 0, 7L)))
    // the pinned vocab has no x, y or z: z is UNK
    assert(pinLongRows(pinned = true) == Seq(
      (7L, 0, 0, 4L), (7L, 2, 0, 5L), (7L, 2, 1, -1L),
      (8L, 0, 0, 3L), (8L, 0, 1, 3L), (8L, 1, 0, 5L),
      (803L, 0, 0, -1L), (803L, 0, 1, 3L), (803L, 1, 0, 2L), (803L, 2, 0, 4L)))
    assert(pinEncodeRows() == Seq(("s0", 2L, 4L, 6L), ("s1", 1L, 3L, 4L)))
  }

  test("encode pins: the q_bpe_* queries on the hostile docs") {
    val dir = java.nio.file.Files.createTempDirectory("bpepin").toString
    pinDocs.write.parquet(s"$dir/documents.parquet")
    def rows(q: String): Seq[Seq[Any]] =
      graft.SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq
    // (source, n_docs, n_words, n_tokens): s2 holds only a token-less doc
    assert(rows("q_bpe_encode") == Seq(Seq("s0", 2L, 4L, 4L),
      Seq("s1", 1L, 3L, 3L)))
    // (doc_id, word_pos, tok_pos, token_id) of the doc_id % 199 == 7 subset
    assert(rows("q_bpe_token_ids") == Seq(Seq(7L, 0, 0, 7L),
      Seq(7L, 2, 0, 10L), Seq(803L, 0, 0, 11L), Seq(803L, 1, 0, 2L),
      Seq(803L, 2, 0, 7L)))
    // (source, n_tokens, id_sum, pos_sum)
    assert(rows("q_bpe_ids_checksum") == Seq(Seq("s0", 4L, 34L, 62L),
      Seq("s1", 3L, 20L, 36L)))
  }

  test("packTokenIds: EOS-terminated concatenation cut into fixed shards per source") {
    import spark.implicits._
    val perDoc = Seq(
      ("s0", 1L, Seq(10L, 11L, 12L)), ("s0", 2L, Seq(13L)),
      ("s1", 3L, Seq(20L, 21L)))
      .toDF("source", "doc_id", "token_ids")
    val got = Bpe.packTokenIds(perDoc, "source", "doc_id",
        seqLen = 3, eosId = -2L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getSeq[Long](3).toList))).toMap
    // s0 stream: 10,11,12,EOS,13,EOS → [10,11,12] + [-2,13,-2]
    // s1 stream: 20,21,EOS → one short final shard
    assert(got == Map(
      ("s0", 0L) -> ((3L, List(10L, 11L, 12L))),
      ("s0", 1L) -> ((3L, List(-2L, 13L, -2L))),
      ("s1", 0L) -> ((3L, List(20L, 21L, -2L)))))
    // seqLen 1000: everything of a source lands in shard 0, in order
    val one = Bpe.packTokenIds(perDoc, "source", "doc_id", 1000, -2L)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](3).toList).toMap
    assert(one == Map(
      "s0" -> List(10L, 11L, 12L, -2L, 13L, -2L),
      "s1" -> List(20L, 21L, -2L)))
  }

  test("packTokenIds shuffleSeed: the exact md5 epoch permutation, ids conserved") {
    import spark.implicits._
    // one source, enough docs that a permutation is overwhelmingly
    // not the identity; each doc's ids encode its doc_id so the
    // packed stream reveals the order
    val perDoc = (1L to 8L).map(i => ("s0", i, Seq(i * 10, i * 10 + 1)))
      .toDF("source", "doc_id", "token_ids")
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def packed(seed: String): List[Long] =
      Bpe.packTokenIds(perDoc, "source", "doc_id", 1000, -2L,
          shuffleSeed = Some(seed))
        .collect().map(r => r.getSeq[Long](3).toList).head
    def expected(seed: String): List[Long] =
      (1L to 8L).sortBy(i => (hex(s"$seed:$i"), i))
        .flatMap(i => List(i * 10, i * 10 + 1, -2L)).toList
    // the permutation is EXACTLY md5(seed:doc_id) order — the same
    // arithmetic the q_pack_shuffle oracle runs in DuckDB
    assert(packed("ep1") == expected("ep1"))
    assert(packed("ep2") == expected("ep2"))
    // different epochs, different layout; id multiset conserved
    assert(packed("ep1") != packed("ep2"))
    assert(packed("ep1").sorted == packed("ep2").sorted)
    assert(packed("ep1").sorted ==
      Bpe.packTokenIds(perDoc, "source", "doc_id", 1000, -2L)
        .collect().map(r => r.getSeq[Long](3).toList).head.sorted)
  }

  test("shared cache: byte budget admits, FIFO evicts tables (never clear-all)") {
    // distinct single-merge tables; value-keyed caches
    def mk(i: Int) = new BpeMergeTable(Array(Bpe.Merge(1, s"t$i", "q", 1L)))
    val tables = (0 until BpeMergeTable.MaxSharedTables + 1).map(mk)
    val first = BpeMergeTable.sharedCache(tables.head)
    first.maybePut("w", Integer.valueOf(1), 10L)
    assert(first.map.get("w") != null)
    val second = BpeMergeTable.sharedCache(tables(1))
    second.maybePut("w2", Integer.valueOf(2), 10L)
    tables.drop(2).foreach(BpeMergeTable.sharedCache(_))
    // registering table MaxSharedTables+1 evicted the OLDEST (first);
    // the second table's cache survived with its entry — not clear-all
    assert(BpeMergeTable.sharedCache(tables(1)) eq second)
    assert(second.map.get("w2") != null)
    val firstAgain = BpeMergeTable.sharedCache(tables.head)
    assert(!(firstAgain eq first) && firstAgain.map.get("w") == null,
      "oldest table should have been evicted")
  }

  test("IntHashSet: membership incl. zero/negative, no false negatives") {
    val rnd = new scala.util.Random(42)
    val keys = (Seq(0, -1, Int.MinValue, Int.MaxValue) ++
      Seq.fill(500)(rnd.nextInt())).distinct
    val s = new BpeMergeTable.IntHashSet(keys.size)
    keys.foreach(s.add)
    // the prefilter contract is NO FALSE NEGATIVES (false positives
    // just cost a map lookup) — every inserted key must be found
    keys.foreach(k => assert(s.contains(k), s"missing $k"))
    // and absent keys are genuinely rejected (not a degenerate
    // always-true set): none of these were inserted
    val present = keys.toSet
    val misses = (1 to 2000).map(_ => rnd.nextInt()).filterNot(present)
    assert(misses.count(!s.contains(_)) == misses.size)
  }

  test("wordFreq filters empties and separator-containing words") {
    import spark.implicits._
    val docs = Seq("  the the  cat ", "", "the dog", null)
      .toDF("text")
    val wf = Bpe.wordFreq(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wf == Map("the" -> 2L, "cat" -> 1L, "dog" -> 1L))
  }

  test("docCounts: per-doc word and token counts, one row per document") {
    import spark.implicits._
    val docs = Seq((1L, "abab abc"), (2L, "aaa b x" + Bpe.Sep + "y"),
      (3L, " \t "), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val words = Bpe.wordFreq(docs, "text")
    val merges = Bpe.learn(words, 2) // (a,b) then (ab,ab)… per corpus stats
    val got = Bpe.docCounts(docs, "text", Seq("doc_id"), merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: tokenize each word under the same merges; the SEP
    // word is no word, a token-less doc counts zero
    val (_, refWords) = refBpe(
      Map("abab" -> 1L, "abc" -> 1L, "aaa" -> 1L, "b" -> 1L), 2)
    val exp = Map(
      1L -> (2L, (refWords("abab").size + refWords("abc").size).toLong),
      2L -> (2L, (refWords("aaa").size + refWords("b").size).toLong),
      3L -> (0L, 0L), 4L -> (0L, 0L))
    assert(got == exp)
  }
}
