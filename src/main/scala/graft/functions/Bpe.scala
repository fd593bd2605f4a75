package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer INDUCTION at corpus scale — learn a
  * BPE merge table from the corpus itself (Sennrich et al. 2016, the
  * GPT-2/SentencePiece training recipe) and tokenize with it. The
  * missing half of the token-counting story: `TextFunctions` counts
  * whitespace/regex tokens, but a training pipeline's token budget is
  * denominated in the TOKENIZER'S units, and the tokenizer is itself a
  * corpus-scale artifact.
  *
  * The scale shape (the whole point):
  *
  *   1. corpus → word-frequency table: the ONE corpus-scale pass (a
  *      single exchange keyed by word). Everything after runs on the
  *      vocab-scale table — for a 100 TB corpus the distinct-word table
  *      is ~10⁷ rows, i.e. 10⁵× smaller.
  *   2. merge loop, on the word table only. At or below `collectCap`
  *      distinct words (default 20M — a 10⁷-word vocab at ~10 symbols
  *      per word is comfortably driver-RAM-sized) the vocab STREAMS to
  *      the driver (`toLocalIterator`, partition at a time) and the
  *      loop runs in [[learnIncremental]]: pair counts maintained
  *      INCREMENTALLY under a lazy-invalidation max-heap, so each merge
  *      costs O(occurrences of the merged pair), not O(vocab) — the
  *      standard fast-BPE-trainer shape (the optimization subword-nmt
  *      and HuggingFace tokenizers both apply), which is what makes
  *      production merge counts (32–50k) minutes instead of hours.
  *      Above the cap, [[learnDistributed]] is the fallback: per merge
  *      one pair-count aggregation + a 1-row collect — correct at any
  *      vocab size but serial-round-bound in numMerges, so it is the
  *      escape hatch for vocabularies that genuinely exceed driver RAM,
  *      not the production path.
  *   3. encode: tokenize the VOCAB once with the in-memory merge-loop
  *      kernel ([[BpeMergeTable]], executor-side, exact), then corpus
  *      token counts are a broadcast join — zero corpus-side shuffle.
  *      The nested-`replace` COLUMN forms ([[applyMergesCol]] etc.)
  *      remain for what they are good at: small merge tables and the
  *      DuckDB oracle gates (every SQL engine has `replace`, which is
  *      what makes the whole learn loop oracle-checkable). At 32k
  *      merges a numMerges-deep replace tower is the wrong shape
  *      twice over — the expression tree falls out of codegen (the
  *      engine's own NearestList lesson) and costs O(numMerges) per
  *      word regardless of how many merges can fire; the kernel costs
  *      O(len·maxTokenLen) candidate probes + O(candidates) per word.
  *
  * Merge application is EXACTLY canonical BPE (leftmost-first,
  * non-overlapping, one pass per merge rank) via a string encoding
  * that makes one merge one `replace` call: a word's symbol sequence
  * is SEP-wrapped and DOUBLE-SEP-joined — "abc" ⇒ ·a··b··c· (· =
  * U+0001). A merge (l, r) is then `replace(sw, "·l··r·", "·lr·")`:
  * the single seps at the pattern's edges can only match a symbol
  * BOUNDARY (symbols never contain SEP), so a pattern can never match
  * across partial symbols — merging (a,b) cannot fire on ["xa","bx"] —
  * and because adjacent occurrences do NOT share boundary characters
  * (the inter-symbol gap is two seps, the pattern consumes one from
  * each side), left-to-right non-overlapping `replace` visits every
  * eligible pair exactly like the reference merge loop: [a,b,a,b] ⇒
  * [ab,ab], [a,a,a] ⇒ [aa,a]. `StringReplace` is codegen'd, and the
  * identical call exists in every SQL engine — which is what makes the
  * WHOLE learn loop (not just pair stats) DuckDB-oracle-checkable
  * (q_bpe_learn_oracle / q_bpe_encode).
  *
  * Tie-breaks everywhere: pair count DESC, then (left, right) ASC by
  * binary string order — deterministic and engine-neutral.
  *
  * Reference scope: vector-io has no tokenizer; this is the
  * beyond-parity training-data layer (SURVEY §7.5), feeding the token
  * budget / packing stages (`ops/Mixture`, `pipeline/Curation`) with
  * learned-subword counts instead of whitespace counts.
  */
object Bpe {

  /** Symbol boundary, U+0001 — must not occur in input words; wordFreq
    * filters such words out (and the oracle SQL does the same). */
  val Sep = "\u0001"
  private val Sep2 = Sep + Sep

  /** One learned merge: rank (1-based, application order), the two
    * symbols joined, and the pair's weighted frequency at learn time. */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  /** Code-point (≡ UTF-8 byte) string comparison — the ONE tie-break
    * collation of the whole trainer. UTF-8 byte-wise lexicographic
    * order preserves code-point order by construction, and Spark's
    * UTF8String / DuckDB's default collation both compare raw UTF-8
    * bytes, so the driver loops MUST compare code points, not UTF-16
    * units: Java `String.compareTo` inverts U+E000–U+FFFF against
    * supplementary characters (their UTF-16 form leads with a 0xD800
    * surrogate), which would let the adaptive route choice (driver
    * heap size) change learned merges on exact count ties. */
  private[functions] def utf8Compare(a: String, b: String): Int = {
    val la = a.length
    val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(la, lb)
  }

  /** Split a word into single-CODE-POINT symbol strings. The driver
    * trainers must NOT use `String.split("")` here: Java's regex split
    * cuts BETWEEN UTF-16 units, splitting a supplementary character
    * into two lone surrogates, while Spark's in-engine `split(w, '')`
    * (and the wrapped-string encoding the distributed loop and every
    * oracle run on) yields whole code points — the two would learn
    * different symbol ALPHABETS from the same corpus. (Verified
    * in-engine: split('𐀀x', '') = ['𐀀', 'x'], 2 parts; Java 17
    * "𐀀x".split("") = 3.) */
  private[functions] def splitChars(w: String): Array[String] = {
    val n = w.length
    val out = new Array[String](w.codePointCount(0, n))
    var i = 0
    var k = 0
    while (i < n) {
      val c = Character.charCount(w.codePointAt(i))
      out(k) = w.substring(i, i + c)
      k += 1
      i += c
    }
    out
  }

  /** Corpus → (word, freq): THE corpus-scale pass (one exchange, with
    * map-side partial counts). The words are `TextFunctions.tokens`;
    * SEP-containing words are dropped on both the Spark and oracle
    * sides. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(!col("word").contains(Sep))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** ·c1··c2··…·cn· — the wrapped symbol string of a word. */
  def wrapCol(w: Column): Column =
    concat(lit(Sep), array_join(split(w, ""), Sep2), lit(Sep))

  /** Symbols of a wrapped string: strip the outer seps, split on the
    * double-sep gaps. (U+0001 is not a regex metacharacter, so the
    * literal is safe as `split`'s pattern.) */
  def symbolsCol(sw: Column): Column =
    split(sw.substr(lit(2), length(sw) - 2), Sep2)

  /** Apply a learned merge table to a word: numMerges nested codegen'd
    * replaces, in rank order — pure map-side compute. Right for SMALL
    * merge tables and for the oracle gates; production encode at
    * vocab-sized tables goes through [[tokenizeVocab]]/[[BpeMergeTable]]
    * (see the object doc, point 3). */
  def applyMergesCol(w: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(wrapCol(w)) { (c, m) =>
      org.apache.spark.sql.functions.replace(c,
        lit(Sep + m.left + Sep2 + m.right + Sep),
        lit(Sep + m.left + m.right + Sep))
    }

  /** BPE tokens of a word under a merge table (column form). */
  def tokensCol(w: Column, merges: Seq[Merge]): Column =
    symbolsCol(applyMergesCol(w, merges))

  /** BPE token count of a word under a merge table (join-free column
    * form; see `tokenizeVocab` for the broadcast-join form that
    * tokenizes each distinct word once). */
  def tokenCountCol(w: Column, merges: Seq[Merge]): Column =
    size(tokensCol(w, merges))

  /** Whole-document BPE token count as ONE pure column — no explode,
    * no join: the sum over the doc's words of each word's token count
    * (same words and SEP filter as `wordFreq`). Higher-order
    * functions evaluate interpreted, so this is the right form ONLY
    * when the merge table is small (an oracle gate, a handful of
    * merges); [[docTokenCountFastCol]] is the same contract as one
    * codegen'd kernel expression for production-sized tables, and
    * `docTokenCounts`' broadcast-vocab join is the shuffle-free batch
    * shape. */
  def docTokenCountCol(text: Column, merges: Seq[Merge]): Column = {
    val words = org.apache.spark.sql.functions.filter(
      TextFunctions.tokens(text), w => !w.contains(Sep))
    aggregate(words, lit(0L), (acc, w) => acc + tokenCountCol(w, merges))
  }

  /** [[docTokenCountCol]]'s contract as ONE codegen'd kernel
    * expression ([[graft.expressions.BpeDocTokenCount]]): a byte-scan
    * word split + per-word merge-loop tokenize with a per-table
    * word→count cache, exact vs the column form (BpeSpec pins them
    * equal), O(word) instead of O(numMerges·word) — the form the CLI
    * uses so `curate --bpe_file` with a 32k-merge production table
    * stays map-only AND inside whole-stage codegen. */
  def docTokenCountFastCol(text: Column, merges: Seq[Merge]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.BpeDocTokenCount(
      Bridge.expression(text), new BpeMergeTable(merges.toArray)))
  }

  /** (word, n_tok): the vocab tokenized ONCE under the merge table —
    * broadcast this against exploded corpus words so the corpus pays a
    * hash probe per word instead of a tokenize per occurrence. The
    * tokenize itself runs the in-memory merge-loop kernel
    * ([[BpeMergeTable]], shipped as a broadcast variable) over the
    * vocab partitions: interpreted per-WORD Scala is the designed
    * kernel here exactly like the driver trainer — the vocab table is
    * 10⁵× smaller than the corpus, and the alternative (a
    * numMerges-deep replace tower) is O(numMerges) per word and falls
    * out of codegen at production table sizes. Exactness vs the column
    * form is spec-pinned AND oracle-gated (q_bpe_vocab's DuckDB chain
    * is the replace tower; this kernel must hash-match it). */
  def tokenizeVocab(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(new BpeMergeTable(merges.toArray))
    words.select(col("word")).as[String]
      .mapPartitions { it =>
        val t = bc.value
        it.map(w => (w, t.tokenCount(w).toLong))
      }
      .toDF("word", "n_tok")
  }

  /** (word, toks array<string>): the vocab's full token SEQUENCES
    * under the merge table (the id-emitting sibling of
    * [[tokenizeVocab]] — same kernel, same broadcast-join usage). */
  def tokenizeVocabTokens(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(new BpeMergeTable(merges.toArray))
    words.select(col("word")).as[String]
      .mapPartitions { it =>
        val t = bc.value
        it.map(w => (w, t.tokenize(w).toSeq))
      }
      .toDF("word", "toks")
  }

  /** The learned vocabulary WITH token ids — the shippable artifact a
    * trainer's tokenizer config needs (the SentencePiece/HF convention:
    * base alphabet first, then one token per merge in rank order).
    *
    * Id assignment is ENGINE-NEUTRAL by construction so the table is
    * DuckDB-derivable (q_bpe_token_ids / q_bpe_ids_checksum):
    *   - base symbols = the distinct characters of the vocab words,
    *     ids 0..nBase−1 in BINARY string order (Spark's UTF8String
    *     comparison ≡ DuckDB's default collation ≡ UTF-8 byte order —
    *     the ordering is computed IN the engine, never on the driver,
    *     exactly to keep that equivalence);
    *   - merge k's token (left+right) gets id nBase+k−1; when two
    *     merges produce the SAME string ((a,bc) then (ab,c)), the
    *     token keeps its FIRST id (min), matching the dedup a real
    *     vocab file performs.
    *
    * Shapes: the base derivation is a vocab-scale distinct collapsing
    * to alphabet size; the ROW_NUMBER window runs on the alphabet-sized
    * result (single tiny partition by construction). */
  def vocabIds(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val base = words
      .select(explode(split(col("word"), "")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val baseIds = base.withColumn("token_id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("token"))).cast("long") - 1L)
    // nBase rides the PLAN as a 1-row aggregate cross-joined under the
    // merge rows (the oracle's `(SELECT count(*) FROM base)` scalar
    // subquery, verbatim) instead of a separate `base.count()` driver
    // action: the id table is always built alongside other work on the
    // same word table, and at interactive scale each extra action costs
    // a full job round-trip (r15 measure-first finding — the BPE gates
    // spent more wall in driver job floors than in compute). The
    // alphabet-sized aggregate adds one cheap subtree, not an exchange.
    val nBaseDf = base.agg(count(lit(1)).as("__n_base"))
    val mergeIds = merges.sortBy(_.rank)
      .map(m => (m.left + m.right, m.rank.toLong))
      .toDF("token", "rank")
      .crossJoin(nBaseDf)
      .select(col("token"), (col("__n_base") + col("rank") - 1L).as("token_id"))
    baseIds.unionByName(mergeIds)
      .groupBy("token").agg(min(col("token_id")).as("token_id"))
  }

  /** Per-document BPE token-ID sequences in document order — what a
    * training run actually consumes (the counting forms above feed
    * budgets; this feeds the model). One corpus scan: words explode
    * map-side with their position, probe the broadcast tokenized vocab
    * and the broadcast id table, and the ONE exchange is the re-group
    * by document key (positions carried so the sort inside the
    * aggregation is per-doc list reassembly, not a global sort).
    * Output: keyCols…, n_tokens, token_ids array<bigint>.
    *
    * `pinnedIds` supplies a PERSISTED (token, token_id) vocabulary —
    * the portability contract: ids derived by [[vocabIds]] depend on
    * the current corpus's alphabet, so encoding corpus B for a model
    * trained on corpus A's ids MUST pin A's vocab file (CLI
    * `--vocab_file`). Tokens outside a pinned vocab (an alphabet
    * character A never saw) emit id −1 — the explicit UNK sentinel a
    * trainer can filter or remap, never a silently dropped token. */
  def docTokenIds(docs: DataFrame, textCol: String, keyCols: Seq[String],
      merges: Seq[Merge], words: DataFrame,
      pinnedIds: Option[DataFrame] = None,
      vocabRows: Option[Long] = None): DataFrame = {
    val toks = docTokenIdsLong(docs, textCol, keyCols, merges, words,
      pinnedIds, vocabRows)
    toks
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_tokens"),
        expr("transform(array_sort(" +
          "collect_list(struct(word_pos, tok_pos, token_id))), " +
          "s -> s.token_id)").as("token_ids"))
  }

  /** Distinct-word count above which the tokenized vocab must NOT be
    * hint-forced as a broadcast in the join forms: 1M words at ~100
    * bytes of (word, toks) row is ~100 MB materialized per executor —
    * the edge of sane; the r14-probed production vocab (15.65M words)
    * would be multi-GB. Above the cap the join runs as a plain
    * shuffle join (the honest distributed shape for a genuinely big
    * build side) — and the RIGHT production route is the join-free
    * kernel ([[docTokenIdsFast]]), which this cap exists to make the
    * obvious choice. */
  final val VocabBroadcastCap = 1L << 20

  /** True when the word table is small enough to force-broadcast —
    * ONE cheap limit-probe job (the scan stops at cap+1 rows), never
    * a full count of a 10⁸-row vocabulary. */
  private def vocabFits(words: DataFrame): Boolean =
    words.limit((VocabBroadcastCap + 1).toInt).count() <= VocabBroadcastCap

  /** THE vocab-join size routing, single-sourced (r15 review): force
    * the broadcast hint only while the vocabulary is provably under
    * [[VocabBroadcastCap]]. `vocabRows` must be the row count of THIS
    * `words` table (the [[learnWithStats]] count qualifies only when
    * the learn ran with minFreq = 1 — a pruned count under-states the
    * full vocabulary); negative values (the numMerges == 0 sentinel)
    * are treated as unknown and fall back to the limit-probe, never
    * to a forced broadcast. */
  private[graft] def routeVocab(vocab0: DataFrame,
      vocabRows: Option[Long], words: DataFrame): DataFrame = {
    val fits = vocabRows.filter(_ >= 0L)
      .map(_ <= VocabBroadcastCap)
      .getOrElse(vocabFits(words))
    if (fits) broadcast(vocab0) else vocab0
  }

  /** The long form behind [[docTokenIds]] (and the q_bpe_token_ids
    * oracle): one row per (doc, word_pos, tok_pos) with its token_id.
    * With `pinnedIds` the join goes LEFT and unknown tokens coalesce
    * to −1 (see [[docTokenIds]]); the derived-vocab path keeps the
    * inner join — every token is in its own vocab by construction.
    * The corpus⋈vocab join is broadcast only below
    * [[VocabBroadcastCap]] (size-routed — see its doc); the id table
    * is alphabet+merges-sized and always broadcasts. */
  def docTokenIdsLong(docs: DataFrame, textCol: String, keyCols: Seq[String],
      merges: Seq[Merge], words: DataFrame,
      pinnedIds: Option[DataFrame] = None,
      vocabRows: Option[Long] = None): DataFrame = {
    val vocab0 = tokenizeVocabTokens(words, merges)
    // size routing: a caller that just learned on the same table knows
    // its row count (`learnWithStats`) — reuse it instead of paying the
    // limit-probe job a second time over the same vocabulary
    val vocab = routeVocab(vocab0, vocabRows, words)
    val dw = docs.select(keyCols.map(col) :+
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("word_pos", "word")): _*)
      .filter(!col("word").contains(Sep))
    val toks = dw.join(vocab, Seq("word"))
      .select(keyCols.map(col) :+ col("word_pos") :+
        posexplode(col("toks")).as(Seq("tok_pos", "token")): _*)
    val joined = pinnedIds match {
      case Some(p) => toks
        .join(broadcast(p.select(col("token"),
          col("token_id").cast("long").as("token_id"))), Seq("token"), "left")
        .withColumn("token_id", coalesce(col("token_id"), lit(-1L)))
      case None =>
        toks.join(broadcast(vocabIds(words, merges)), Seq("token"))
    }
    joined.select(keyCols.map(col) ++ Seq(col("word_pos"), col("tok_pos"),
      col("token_id")): _*)
  }

  /** [[docTokenIds]]'s contract as ONE codegen'd kernel column — the
    * PRODUCTION id-emission path: zero joins, zero corpus exchange
    * beyond the caller's own, and the only ride-along state is the
    * constant-sized merge table + id vocabulary
    * ([[graft.expressions.BpeDocTokenIds]] — see its scaladoc for why
    * this beats the join form at production vocabularies). `ids` is
    * the (token → id) vocabulary: a pinned `--vocab_file` table, or
    * [[vocabIds]] collected (alphabet + merges rows — driver-sized by
    * construction, NOT corpus-vocabulary-sized). Null text yields an
    * empty sequence (the join form simply has no rows to group). */
  def docTokenIdsCol(text: Column, merges: Seq[Merge],
      ids: Seq[(String, Long)]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.BpeDocTokenIds(
      Bridge.expression(coalesce(text, lit(""))),
      new BpeIdTable(new BpeMergeTable(merges.toArray), ids.toArray)))
  }

  /** Map-only per-document token-ID emission (keyCols…, n_tokens,
    * token_ids) via [[docTokenIdsCol]] — same output contract as
    * [[docTokenIds]] for every document with ≥1 token (spec-pinned);
    * additionally EMITS empty-sequence rows for token-less documents,
    * which the join form drops (a trainer artifact should account for
    * every input row). */
  def docTokenIdsFast(docs: DataFrame, textCol: String, keyCols: Seq[String],
      merges: Seq[Merge], ids: Seq[(String, Long)]): DataFrame =
    docs.select(keyCols.map(col) :+
        docTokenIdsCol(col(textCol), merges, ids).as("token_ids"): _*)
      .select(keyCols.map(col) ++ Seq(
        size(col("token_ids")).cast("long").as("n_tokens"),
        col("token_ids")): _*)

  /** PACKED training shards in token IDS — the artifact a training
    * loop memory-maps: per `srcCol` group, documents in `docCol`
    * order have their id sequences terminated by one `eosId` marker
    * each and concatenated into a single stream, which is cut into
    * consecutive `seqLen`-id shards (documents CROSS shard boundaries
    * — standard sequence packing; the EOS markers carry the doc
    * boundaries, so a trainer can mask attention across them; the
    * final shard of a group may be short — padding policy is the
    * trainer's, not the data layout's).
    *
    * Input: the [[docTokenIdsFast]]/[[docTokenIds]] output shape
    * (srcCol, docCol, token_ids). Output: (srcCol, shard, n_ids, ids).
    *
    * Shapes at scale (the q_pack precedent): ONE per-source window
    * cumsum assigns every document its global offset — per-key
    * windows scale independently; a single global pack order would
    * serialize, don't — then one exchange groups SLICES into shards:
    * each document's EOS-terminated stream segment is cut map-side
    * into at most ⌈len/seqLen⌉+1 per-shard array slices, so the
    * exchange carries doc-shard INCIDENCES (≈ nDocs + nShards rows of
    * array payload), not one row per token id — at ~100 tokens/doc
    * that is two orders of magnitude fewer shuffle rows for the same
    * bytes, and the per-shard reassembly sorts segments (≤ seqLen of
    * them), never individual ids. (The r15-original form exploded
    * every id into its own shuffle row; at trillion-token corpora the
    * per-row overhead of that exchange dominated — the slice form is
    * output-identical, pinned by the same shard-exact oracle gates.)
    *
    * `shuffleSeed`: EPOCH SHUFFLING. A training loop wants a
    * different document permutation each epoch, decided by the data
    * layout (so every reader of the shard set sees the same epoch),
    * not by a stateful loader. With a seed the per-source pack order
    * becomes `md5(seed:docKey)` (docCol tie-break) — a deterministic,
    * ENGINE-NEUTRAL permutation (md5 of the same UTF-8 string is the
    * same hex in Spark and the DuckDB oracle, so the shuffled layout
    * is gated end-to-end, q_pack_shuffle): seed "ep1"/"ep2"/… yield
    * epoch-wise independent orders, the id multiset per source is
    * conserved by construction, and intra-document token order is
    * never touched (the permutation is OF documents). Same shapes at
    * scale — only the window's sort key changes. */
  def packTokenIds(perDoc: DataFrame, srcCol: String, docCol: String,
      seqLen: Int, eosId: Long, shuffleSeed: Option[String] = None)
      : DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val ord: Seq[Column] = shuffleSeed match {
      case Some(seed) => Seq(
        md5(concat_ws(":", lit(seed), col(docCol).cast("string"))),
        col(docCol))
      case None => Seq(col(docCol))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(srcCol).orderBy(ord: _*)
    perDoc
      .select(col(srcCol), col(docCol),
        concat(col("token_ids"), array(lit(eosId))).as("ids2"))
      .withColumn("len", size(col("ids2")).cast("long"))
      .withColumn("cum_start", sum(col("len")).over(w) - col("len"))
      // map-side slicing: one row per (doc, covered shard), payload =
      // the doc's id segment falling in that shard (slice is 1-based)
      .select(col(srcCol), col("cum_start"), col("ids2"), col("len"),
        explode(expr(
          s"sequence(cum_start div $seqLen, (cum_start + len - 1) div $seqLen)"))
          .as("shard"))
      .withColumn("seg_start", greatest(col("shard") * seqLen, col("cum_start")))
      .withColumn("seg_end",
        least((col("shard") + 1) * seqLen, col("cum_start") + col("len")))
      .withColumn("seg", expr(
        "slice(ids2, cast(seg_start - cum_start + 1 AS int), " +
          "cast(seg_end - seg_start AS int))"))
      .groupBy(col(srcCol), col("shard"))
      .agg(sum(col("seg_end") - col("seg_start")).as("n_ids"),
        expr("flatten(transform(array_sort(collect_list(struct(seg_start, seg))), " +
          "s -> s.seg))").as("ids"))
  }

  /** Per-document BPE token counts: explode words (map-side), probe the
    * broadcast tokenized vocab, re-aggregate by document — the corpus
    * is scanned once and shuffled only as (doc key, partial count).
    * Size-routed like [[docTokenIdsLong]]: vocabularies past
    * [[VocabBroadcastCap]] join plain (or better, the caller uses the
    * join-free [[docTokenCountFastCol]]). */
  def docTokenCounts(docs: DataFrame, textCol: String, keyCols: Seq[String],
      merges: Seq[Merge], words: DataFrame,
      vocabRows: Option[Long] = None): DataFrame = {
    val vocab0 = tokenizeVocab(words, merges)
    val vocab = routeVocab(vocab0, vocabRows, words)
    val dw = docs.select(keyCols.map(col) :+
        explode(TextFunctions.tokens(col(textCol))).as("word"): _*)
      .filter(!col("word").contains(Sep))
    dw.join(vocab, Seq("word"))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Learn `numMerges` merges from a (word, freq) table. At or below
    * `collectCap` distinct words the vocab STREAMS to the driver
    * (`toLocalIterator` — one partition in flight, never one giant
    * collect) and the loop runs in the incremental trainer; above it,
    * distributed (per merge: one pair-count aggregation + 1-row
    * collect + one lazy `replace`, with a `localCheckpoint` every
    * `checkpointEvery` merges to stop lineage/recompute growing
    * quadratically in numMerges). Both paths implement the identical
    * canonical-BPE semantics and tie-breaks; BpeSpec pins them equal
    * on the same input.
    *
    * `minFreq` > 1 prunes words rarer than the threshold BEFORE the
    * loop — the standard SentencePiece/HuggingFace `min_frequency`
    * recipe for 100 TB-class corpora, whose noisy 10⁸⁺-distinct-word
    * tails (typos, hashes, URLs) would otherwise exceed any driver
    * cap while contributing nothing a merge would ever win on. By
    * definition it learns the merges OF THE PRUNED TABLE (identical
    * to calling learn on a pre-filtered table — spec-pinned), not an
    * approximation of the unpruned train; encode paths should still
    * tokenize the FULL vocabulary with the learned merges. */
  def learn(words: DataFrame, numMerges: Int,
      collectCap: Long = 20000000L, checkpointEvery: Int = 16,
      minFreq: Long = 1L): Seq[Merge] =
    learnWithStats(words, numMerges, collectCap, checkpointEvery,
      minFreq).merges

  /** [[learn]]'s result plus the pruned-table row count its route
    * guard already computed — callers that go on to size-route a
    * vocab join ([[docTokenIdsLong]]/[[docTokenCounts]] `vocabRows`)
    * reuse the count instead of paying a second probe job over the
    * same table. `nWords` counts the table AFTER the minFreq prune,
    * so it only qualifies as a `vocabRows` hint when the learn ran
    * with minFreq = 1 (a pruned count under-states the vocabulary the
    * join tokenizes); −1 when the loop never ran (numMerges == 0) —
    * [[routeVocab]] treats negatives as unknown, never as "fits". */
  final case class Learned(merges: Seq[Merge], nWords: Long)

  def learnWithStats(words: DataFrame, numMerges: Int,
      collectCap: Long = 20000000L, checkpointEvery: Int = 16,
      minFreq: Long = 1L): Learned = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(minFreq >= 1, s"minFreq must be >= 1, got $minFreq")
    if (numMerges == 0) return Learned(Seq.empty, -1L)
    val pruned =
      if (minFreq > 1L) words.filter(col("freq") >= minFreq) else words
    // heap-headroom guard, LENGTH-AWARE: the driver trainer's working
    // set scales with symbols, not just words — per word ~24 bytes per
    // symbol (array slot + occurrence-index int + pair-count/heap share)
    // plus ~120 bytes fixed (headers, freq, map entries). A flat
    // per-word estimate under-counts corpora with long words
    // (unsegmented CJK, URLs-as-words) by an order of magnitude; one
    // cheap (count, avg length) aggregation prices them honestly. At
    // the calibration point (15.65M words, ~7-char averages ≈ 290
    // B/word) this reproduces the r14 probe's measured footprint in a
    // 48 GiB heap. A vocab past the budget under the default 8 GiB
    // driver falls back to the distributed loop instead of OOMing
    // mid-train. The route choice never changes RESULTS (both paths
    // are spec-pinned merge-for-merge equal) — only where the loop runs.
    val statsRow = pruned
      .agg(count(lit(1)), avg(length(col("word")))).head()
    val n = statsRow.getLong(0)
    if (n == 0L) return Learned(Seq.empty, 0L)
    val avgLen = statsRow.getDouble(1)
    val needBytes = (n * (120.0 + 24.0 * avgLen)).toLong
    val headroom = Runtime.getRuntime.maxMemory / 2
    if (n <= collectCap && needBytes <= headroom) {
      // Small vocabularies collect in ONE job: `toLocalIterator` runs
      // one Spark job PER PARTITION (its memory contract — only one
      // partition of Rows held at a time), which is exactly right for
      // the multi-GB production point but pays P job round-trips at
      // interactive scale, where the whole table is kilobytes (r15
      // measure-first finding: the 8-merge gates' learn wall was
      // dominated by these fetch jobs, not by merging). The cutoff
      // keeps the collect's transient Row array well under the same
      // heap budget the route guard already prices (collect ≈ 3× the
      // trainer's steady-state bytes while both are alive).
      val smallCollectBytes =
        java.lang.Long.getLong("graft.bpe.smallCollectBytes", 256L << 20)
      val it =
        if (needBytes * 3 <= headroom && needBytes <= smallCollectBytes)
          pruned.select(col("word"), col("freq").cast("long"))
            .collect().iterator
            .map(r => (r.getString(0), r.getLong(1)))
        else {
          import scala.jdk.CollectionConverters._
          pruned.select(col("word"), col("freq").cast("long"))
            .toLocalIterator().asScala
            .map(r => (r.getString(0), r.getLong(1)))
        }
      Learned(learnIncremental(it, numMerges), n)
    } else {
      if (n <= collectCap)
        System.err.println(f"[bpe] $n distinct words need ~${needBytes / 1e9}%.1f GB " +
          f"of driver heap (max ${Runtime.getRuntime.maxMemory / 1e9}%.1f GB) — " +
          "routing to the distributed merge loop; raise driver memory for " +
          "the fast incremental trainer (or prune the tail with minFreq)")
      Learned(learnDistributed(pruned, numMerges, checkpointEvery), n)
    }
  }

  /** Driver loop over an already-collected vocab (kept as the
    * array-input entry point; routes to the incremental trainer). */
  private[functions] def learnInMemory(wf: Array[(String, Long)],
      numMerges: Int): Seq[Merge] = learnIncremental(wf.iterator, numMerges)

  /** The NAIVE driver loop — reference-shaped BPE over symbol arrays
    * (full pair recount every merge, O(vocab·symbols) per merge).
    * Kept as the executable spec: BpeSpec pins [[learnIncremental]]
    * merge-for-merge equal to this on engineered and random corpora.
    * Never the production path — at a 10⁷-word vocab a full recount
    * per merge is hours for 32k merges. */
  private[functions] def learnRecount(wf: Array[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    var words: Array[(Array[String], Long)] =
      wf.map { case (w, f) => (splitChars(w), f) }
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val pc = new scala.collection.mutable.HashMap[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        // argmax with (count DESC, left, right ASC by CODE POINT) —
        // utf8Compare, not tuple/String order (see its scaladoc)
        var bl: String = null
        var br: String = null
        var bc = 0L
        pc.foreach { case ((l, r), c) =>
          val better = bl == null || c > bc || (c == bc && {
            val x = utf8Compare(l, bl)
            x < 0 || (x == 0 && utf8Compare(r, br) < 0)
          })
          if (better) { bl = l; br = r; bc = c }
        }
        val (l, r, cnt) = (bl, br, bc)
        merges += Merge(rank, l, r, cnt)
        words = words.map { case (syms, f) =>
          if (syms.length < 2) (syms, f)
          else (BpeMergeTable.applyMergeOnce(syms, l, r, l + r), f)
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** The FAST driver trainer: incremental pair-count maintenance.
    *
    * Invariants:
    *   - `counts(p)` is always the exact frequency-weighted count of
    *     adjacent pair p across the current symbol arrays, maintained
    *     by WINDOWED deltas: a word touched by a merge subtracts its
    *     old pairs and adds its new pairs only inside the window
    *     [firstSite−1, lastSite+2] around the merge sites — pairs
    *     outside it are token-identical before and after (merging
    *     never deletes a token, it concatenates two adjacent ones, so
    *     two non-merged tokens adjacent after were adjacent before);
    *   - per MERGE, all word deltas accumulate into ONE shared map and
    *     the counts/heap are updated once per distinct pair — the heap
    *     sees O(distinct touched pairs) pushes per merge, not O(touched
    *     words × word length) (the naive form measured ~2×10⁹ boxed
    *     pushes at a 15.65M-word vocab — GC-bound for tens of minutes);
    *   - the heap holds (count, l, r) snapshots, max by count with
    *     (l, r) ASC tie-break; every batched count UPDATE pushes a
    *     fresh snapshot, so the current value of every live pair is
    *     always present — stale snapshots are discarded on pop by
    *     comparing against `counts` (lazy invalidation, the classic
    *     heap-with-stale-entries trainer);
    *   - `where(p)` over-approximates the set of word indices
    *     containing p (entries go stale when a later merge removes the
    *     pair from a word; verified at use by re-scanning the word).
    *     A pair becomes NEWLY present in a word only through that
    *     round's merged token (any new adjacency involves `lr`), so
    *     the index append triggers exactly on window pairs touching
    *     `lr` — reference-equality on the interned token.
    *
    * Total work across ALL merges is O(Σ merge-site windows) ≈
    * O(initial corpus symbols): each merged occurrence shrinks its
    * word by one symbol, so the probe artifact's 32k merges over a
    * 10⁷-word vocab is minutes, not the hours of the recount loop
    * (0.35 s/merge measured at 262k words in r13 ⇒ ~3 h at 32k).
    * Token strings are interned so the 10⁸ symbol references share
    * one object per distinct token. Exactness vs the recount loop is
    * pinned by BpeSpec on engineered AND randomized corpora (small
    * alphabets force consecutive-site and tie-break cases). */
  private[functions] def learnIncremental(wf: Iterator[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    if (numMerges <= 0) return Seq.empty
    type Pair = (String, String)
    val intern = new java.util.HashMap[String, String]()
    def in(s: String): String = {
      val e = intern.get(s); if (e != null) e else { intern.put(s, s); s }
    }
    val wordsB = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val freqsB = scala.collection.mutable.ArrayBuffer.empty[Long]
    val counts = new scala.collection.mutable.HashMap[Pair, Long]
    val where = new scala.collection.mutable.HashMap[Pair, IntVec]
    // load + initial counts/index (one pass; where deduped per word)
    val seenInWord = new scala.collection.mutable.HashSet[Pair]
    wf.foreach { case (w, f) =>
      val syms = splitChars(w)
      var i = 0
      while (i < syms.length) { syms(i) = in(syms(i)); i += 1 }
      val idx = wordsB.length
      wordsB += syms; freqsB += f
      if (syms.length > 1) {
        seenInWord.clear()
        i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          if (seenInWord.add(p)) where.getOrElseUpdate(p, new IntVec).add(idx)
          i += 1
        }
      }
    }
    val words = wordsB.toArray
    val freqs = freqsB.toArray
    // max-heap by (count ASC→max, l DESC→min, r DESC→min): dequeue
    // yields highest count, smallest (l, r) — the recount loop's exact
    // argmax, with (l, r) compared by CODE POINT (utf8Compare) so the
    // driver trainers tie-break identically to the in-engine
    // UTF8String binary order of learnDistributed
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = utf8Compare(b._2, a._2)
          if (l != 0) l else utf8Compare(b._3, a._3)
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val merges = Seq.newBuilder[Merge]
    val mergeDelta = new scala.collection.mutable.HashMap[Pair, Long]
    // per-merge touched-word marker (reusable int array — a HashSet of
    // millions of boxed Ints per merge would dominate the loop)
    val mark = new Array[Int](words.length)
    val sites = new Array[Int](2) // reusable (firstSite, lastSite) out-param
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // pop to the first non-stale snapshot
      var top: (Long, String, String) = null
      while (top == null && heap.nonEmpty) {
        val t = heap.dequeue()
        if (counts.get((t._2, t._3)).contains(t._1)) top = t
      }
      if (top == null) done = true
      else {
        val (cnt, l, r) = top
        merges += Merge(rank, l, r, cnt)
        val lr = in(l + r)
        val occ = where.remove((l, r)).getOrElse(new IntVec)
        mergeDelta.clear()
        var oi = 0
        while (oi < occ.size) {
          val widx = occ(oi)
          if (mark(widx) != rank) {
            mark(widx) = rank
            val syms = words(widx)
            if (BpeMergeTable.containsPair(syms, l, r)) {
              val f = freqs(widx)
              val ns = BpeMergeTable.applyMergeSites(syms, l, r, lr, sites)
              val firstSite = sites(0)
              val lastSite = sites(1)
              val lo = math.max(0, firstSite - 1)
              val hiOld = math.min(syms.length - 1, lastSite + 2)
              val hiNew = hiOld - (syms.length - ns.length)
              var i = lo
              while (i < hiOld) {
                val p = (syms(i), syms(i + 1))
                mergeDelta.update(p, mergeDelta.getOrElse(p, 0L) - f)
                i += 1
              }
              i = lo
              while (i < hiNew) {
                val p = (ns(i), ns(i + 1))
                mergeDelta.update(p, mergeDelta.getOrElse(p, 0L) + f)
                // only adjacencies THROUGH the new token can be new
                if ((ns(i) eq lr) || (ns(i + 1) eq lr))
                  where.getOrElseUpdate(p, new IntVec).add(widx)
                i += 1
              }
              words(widx) = ns
            }
          }
          oi += 1
        }
        // batched counts/heap update: once per distinct touched pair
        mergeDelta.foreach { case (p, d) =>
          if (d != 0L) {
            val nc = counts.getOrElse(p, 0L) + d
            if (nc <= 0L) counts.remove(p)
            else {
              counts.update(p, nc)
              heap.enqueue((nc, p._1, p._2))
            }
          }
        }
        // the merged pair's count self-zeroes through the deltas; the
        // remove is defensive against a residue keeping a stale heap
        // snapshot alive
        counts.remove((l, r))
        rank += 1
      }
    }
    merges.result()
  }

  /** Growable primitive int buffer (the occurrence index holds ~10⁸
    * word indices at a 10⁷-word vocab — boxing them would triple the
    * trainer's footprint). */
  private[functions] final class IntVec {
    private var a = new Array[Int](8)
    private var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def apply(i: Int): Int = a(i)
    def size: Int = n
  }

  /** The distributed fallback loop — identical semantics on the
    * wrapped-string form, for vocabularies past `collectCap` (i.e.
    * genuinely beyond driver RAM). State is only ever the (sw, freq)
    * word table; cost is one small aggregation + 1-row collect PER
    * MERGE, which is serial-round-bound at production merge counts —
    * the streamed driver trainer is the production path. */
  private[functions] def learnDistributed(words: DataFrame, numMerges: Int,
      checkpointEvery: Int): Seq[Merge] = {
    var cur = words.select(wrapCol(col("word")).as("sw"),
      col("freq").cast("long").as("freq"))
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val syms = symbolsCol(col("sw"))
      val top = cur
        .select(explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (l, r) => struct(l.as("l"), r.as("r")))).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(rank, l, r, cnt)
        cur = cur.withColumn("sw",
          org.apache.spark.sql.functions.replace(col("sw"),
            lit(Sep + l + Sep2 + r + Sep), lit(Sep + l + r + Sep)))
        if (rank % checkpointEvery == 0) cur = cur.localCheckpoint(true)
        rank += 1
      }
    }
    merges.result()
  }
}
