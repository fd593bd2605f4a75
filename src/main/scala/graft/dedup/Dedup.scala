package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{TextFunctions => TF}

/** Document-deduplication operators for training-data pipelines.
  *
  * Not present in the reference (vector-io has only id-set algebra,
  * `scripts/get_id_list.py`); these are the beyond-parity operators the
  * rebuild adds (SURVEY §7.5), designed shuffle-consciously:
  *
  *  - exact:   one hash-groupBy (single shuffle on the fingerprint)
  *  - ngram:   inverted index on shingles with a document-frequency cap,
  *             so the self-join never explodes on stop-shingles — the
  *             standard trick that keeps candidate generation linear-ish
  *             at 100 TB instead of O(n²) pairwise
  *  - minhash: signature + banded LSH join (candidates only where a band
  *             collides), est. Jaccard from signature agreement
  *  - simhash: 64-bit fingerprint; near-dups = small Hamming distance
  *             within LSH buckets of the high bits
  */
object Dedup {

  /** Cut lineage and persist `df` lazily at the RDD level
    * (`localCheckpoint(false)`, the same move `exactCosinePairs` makes):
    * blocks are written when the first action computes the plan, every
    * later scan of the same DataFrame in that plan reads the blocks
    * instead of re-running the shingle/signature kernel, and the
    * ContextCleaner frees them once the plan is unreachable. Unlike the
    * DataFrame-level persist + eager-checkpoint this replaces, there is
    * no CacheManager entry to leak and no extra blocking
    * materialization job per call (which double-paid a full job at
    * local scale — the round-3 q_minhash_lsh/q_ngram_jaccard
    * regression).
    *
    * RELIABILITY trade-off: localCheckpoint blocks are NON-replicated
    * executor storage — on a 1000-executor cluster one lost executor
    * recomputes the whole kernel. Setting
    * `graft.dedup.checkpointDir` (session conf) switches to a
    * RELIABLE checkpoint into that fault-tolerant directory (HDFS/
    * object store at cluster scale): same lazy semantics, blocks
    * survive executor death, at the cost of writing through the
    * filesystem. Unset (the local[32] default) keeps the
    * executor-memory path. */
  // last `graft.dedup.checkpointDir` value actually applied, so a
  // mid-session conf change re-points the SparkContext instead of
  // being silently ignored (setCheckpointDir appends a UUID subdir,
  // so the raw conf value can't be recovered from getCheckpointDir)
  private[this] var appliedCheckpointDir: Option[String] = None

  private def materialized(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.dedup.checkpointDir")
      .map(_.trim).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        synchronized {
          if (sc.getCheckpointDir.isEmpty || !appliedCheckpointDir.contains(dir)) {
            sc.setCheckpointDir(dir)
            appliedCheckpointDir = Some(dir)
          }
        }
        // Persist BEFORE the reliable checkpoint: the checkpoint write
        // is a second job over the RDD, and without a cache that job
        // re-runs the whole kernel lineage (the classic double-compute).
        // Eager here so the cache can be dropped as soon as the
        // checkpoint files exist — the reliable path is the opt-in
        // cluster branch, where one extra cache-read job is noise next
        // to surviving executor loss.
        val cached = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cp = cached.checkpoint(true)
        cached.unpersist(blocking = false)
        cp
      case None => df.localCheckpoint(false)
    }

  /** Exact dedup: group by content fingerprint; keep the smallest id
    * (deterministic winner), count members. */
  def exactGroups(docs: DataFrame, idCol: String, fp: Column): DataFrame =
    docs.groupBy(fp.as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** THE tokenization every kernel in this file shares: the JVM form
    * of `QueriesCommon.toksExpr`, `TextFunctions.tokens(lower(text))`,
    * so the string, hashed, and positional-gram paths can never
    * drift. */
  private def wordTokens(text: String): Array[String] =
    graft.functions.TextFunctions.splitTokens(text.toLowerCase)

  /** The k-token window starting at `i`, joined with single spaces. */
  private def windowAt(toks: Array[String], i: Int, k: Int): String = {
    val sb = new java.lang.StringBuilder(toks(i))
    var j = i + 1
    while (j < i + k) { sb.append(' ').append(toks(j)); j += 1 }
    sb.toString
  }

  /** Distinct word k-shingles of one document; short docs yield the
    * whole text as one shingle. Used inside the per-partition kernels
    * below — semantically identical to `explode(TF.wordShingles)` but
    * ~100× cheaper (nested higher-order-function expressions evaluate
    * interpreted, ~0.8 ms/doc measured at sf0.1, while this flatMap is
    * plain compiled Scala). This is the one hot path where SURVEY
    * §2.10's "mapPartitions as a last resort" is warranted — the
    * kernel stays fully distributed and streams row-by-row. */
  private def shingleIter(text: String, k: Int): Iterator[String] = {
    val toks = wordTokens(text)
    if (toks.length < k) Iterator.single(toks.mkString(" "))
    else {
      val seen = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + k <= toks.length) {
        seen += windowAt(toks, i, k)
        i += 1
      }
      seen.iterator
    }
  }

  def shingleRows(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val in = docs.select(col(idCol).as("doc_id"), col(textCol).cast("string"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields.head.copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("sh",
        org.apache.spark.sql.types.StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    in.flatMap { r =>
      val id = r.get(0)
      val text = if (r.isNullAt(1)) "" else r.getString(1)
      shingleIter(text, k).map(s => org.apache.spark.sql.Row(id, s))
    }(enc)
  }

  /** Exploded (doc_id, h) rows: the same distinct word k-shingles as
    * `shingleRows` (shared `shingleIter`), but emitted as their 64-bit
    * hash (Spark's own XxHash64, seed 42 — identical to SQL
    * `xxhash64(shingle)`).
    *
    * Everything downstream of shingling (df-counts, inverted-index
    * joins, minhash aggregation) only needs shingle IDENTITY, not the
    * text, so hashing inside the kernel shrinks every shuffle row to 8
    * bytes and turns the 32 per-signature string hashes into long
    * hashes. Collisions merge two shingles corpus-wide at odds
    * ~n²/2⁶⁵ — immaterial next to the approximation the df-cap/LSH
    * already makes. */
  private[dedup] def shingleHashRows(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val in = docs.select(col(idCol).as("doc_id"), col(textCol).cast("string"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields.head.copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    in.flatMap { r =>
      val id = r.get(0)
      val text = if (r.isNullAt(1)) "" else r.getString(1)
      shingleIter(text, k).map { s =>
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(s),
            org.apache.spark.sql.types.StringType, 42L)
        org.apache.spark.sql.Row(id, h)
      }
    }(enc)
  }

  /** ALL positional word n-grams of one document (non-distinct, unlike
    * `shingleIter`; same `wordTokens`/`windowAt` building blocks): the
    * unit of exact-substring duplication. Docs shorter than n tokens
    * emit nothing. */
  private def gramIter(text: String, n: Int): Iterator[String] = {
    val toks = wordTokens(text)
    if (toks.length < n) Iterator.empty
    else (0 to toks.length - n).iterator.map(windowAt(toks, _, n))
  }

  /** Per-document exact repeated-substring statistics over positional
    * word n-grams (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22 — the per-doc signal behind
    * exact-substring dedup): how many of a doc's n-grams also occur in
    * at least one OTHER document.
    *
    * Gram text never leaves the map side — grams travel as xxhash64
    * longs (seed 42, bit-equal to SQL `xxhash64(gram)`, like
    * `shingleHashRows`). Two gram-keyed exchanges (distinct-holder
    * count, then the score join); nothing ever pairs documents, so no
    * stage is O(n²) in docs and work per gram bucket is bounded by that
    * gram's true frequency. Oracle-gated as `q_dup_spans` (DuckDB
    * groups on the raw gram text; collision odds ≈ g²/2⁶⁵). */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val in = docs.select(col(idCol).as("doc_id"), col(textCol).cast("string"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields.head.copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val grams = in.flatMap { r =>
      val id = r.get(0)
      val text = if (r.isNullAt(1)) "" else r.getString(1)
      gramIter(text, n).map { s =>
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(s),
            org.apache.spark.sql.types.StringType, 42L)
        org.apache.spark.sql.Row(id, h)
      }
    }(enc)
    // pre-aggregate to (doc_id, h, c) once and cache it: it feeds BOTH
    // the distinct-holder count and the score join, and without the
    // cache the gram kernel (the dominant cost) would run twice per
    // action — same move as minhashLshPairs' signature cache.
    val perDoc = materialized(
      grams.groupBy("doc_id", "h").agg(count(lit(1)).as("c")))
    val holders = perDoc.groupBy("h")
      .agg(count(lit(1)).as("nd")) // rows are distinct (doc, h) pairs
    perDoc.join(holders, "h")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6))
  }

  /** Exact-substring EXCISION (the removal half of Lee et al. ACL'22,
    * §4.1 ExactSubstr: "remove any substring appearing more than once
    * in the corpus", approximated at n-token gram granularity, the
    * standard practical relaxation): a token is removed iff some
    * duplicated n-gram covers it; the kept tokens, in order, are the
    * cleaned document.
    *
    * Shape: positional grams travel as (doc_id, pos, xxhash64) longs;
    * one gram-keyed count finds duplicated hashes (total occurrences
    * >= 2, INCLUDING same-doc repeats — corpus semantics, not
    * cross-doc-only like `dupSpanStats`); covered token indices come
    * from an explode of the (bounded, n-long) spans; the cleaned text
    * is a doc-keyed anti-join + ordered re-join of the token stream.
    * Every shuffle is gram- or doc-keyed, nothing pairs documents, and
    * per-gram work is bounded by that gram's true frequency — the
    * suffix-array sharding of the paper re-expressed as bounded
    * hash-bucket relational ops. Output: (doc_id, n_tokens, n_removed,
    * clean) with clean = ' '-joined kept tokens ('' when everything or
    * nothing was there). Oracle-gated as `q_dup_excise` (DuckDB mirrors
    * the construction on raw gram text). */
  def exciseDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val in = docs.select(col(idCol).as("doc_id"), col(textCol).cast("string").as("text"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields.head.copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val grams = materialized(in.flatMap { r =>
      val id = r.get(0)
      val text = if (r.isNullAt(1)) "" else r.getString(1)
      val toks = wordTokens(text)
      if (toks.length < n) Iterator.empty
      else (0 to toks.length - n).iterator.map { i =>
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String
            .fromString(windowAt(toks, i, n)),
            org.apache.spark.sql.types.StringType, 42L)
        org.apache.spark.sql.Row(id, i, h)
      }
    }(enc))
    val dupH = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val covered = grams.join(dupH, "h")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("t"))
      .distinct()
    val toks = in.select(col("doc_id"),
      posexplode(graft.QueriesCommon.toksExpr).as(Seq("t", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "t"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("t"), col("tok")))),
          x => x("tok")), " ").as("clean"))
    val removed = covered.groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    in.select("doc_id")
      .join(kept, Seq("doc_id"), "left")
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("n_kept"), lit(0L)) +
          coalesce(col("n_removed"), lit(0L))).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean"), lit("")).as("clean"))
  }

  /** Rare-shingle Jaccard candidate pairs via inverted index.
    *
    * Shingles with document frequency > dfCap are dropped before the
    * self-join (they carry no discriminative signal and quadratically
    * dominate join cost); Jaccard is computed over the kept shingles.
    * Output: (doc_a, doc_b, jac) for jac >= threshold.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, dfCap: Int, threshold: Double): DataFrame = {
    // sh is read by the df-frequency agg AND the kept join; cache it so
    // the shingle kernel runs once over the corpus. Shingles travel as
    // 64-bit hashes (shingleHashRows): identity-only downstream, so
    // every shuffle row is 8 bytes instead of the k-gram text.
    val sh = materialized(shingleHashRows(docs, idCol, textCol, k))
    val df = sh.groupBy("h").agg(count(lit(1)).as("c"))
    val kept = materialized(
      sh.join(df.filter(col("c") <= dfCap), "h").select("doc_id", "h"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = kept.toDF("da", "h")
    val b = kept.toDF("db", "h")
    // Shuffled-hash beats sort-merge for the inverted-index self-join
    // (measured 2.3 s → 1.8 s at sf0.1): both sides are identically
    // partitioned narrow rows, so hashing one side skips two sorts.
    // Safe HERE because the df-cap bounds every bucket (<= dfCap
    // rows per shingle) and shuffle.partitions is sized with the
    // data; the uncapped band/bucket joins below deliberately stay
    // sort-merge for spill robustness.
    val inter = a.join(b.hint("shuffle_hash"), Seq("h"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** MinHash signatures: (id, sig array<long>) from word shingles.
    *
    * Formulated as explode → hash-aggregate with sigLen min(xxhash64)
    * columns rather than a nested higher-order-function expression: the
    * aggregate runs in whole-stage codegen with map-side partial mins,
    * while nested HOFs evaluate interpreted (~100× slower here).
    * Signature element i is min over shingles of
    * `xxhash64(xxhash64(shingle), i)` — the shingle text is hashed ONCE
    * (in the kernel) and each signature position rehashes the 8-byte
    * base instead of the whole k-gram, which cuts per-shingle hashing
    * work ~k·sigLen-fold. Same values as the column-expression
    * formulation (`TextFunctions.minhashSignature`, asserted in
    * DedupSpec). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, sigLen: Int): DataFrame = {
    val sh = shingleHashRows(docs, idCol, textCol, shingleK)
    val aggs = (0 until sigLen).map(i => min(xxhash64(col("h"), lit(i))).as(s"h$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until sigLen).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Banded-LSH candidate pairs with estimated Jaccard = fraction of
    * agreeing signature positions. Pairs are generated only where at
    * least one band collides — the scan is linear in corpus size, and
    * the band join shuffles on (band, key), never on raw text. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, sigLen: Int, bands: Int, estThreshold: Double): DataFrame = {
    val rows = sigLen / bands
    // Materialize signatures before the self-join: the signature is an
    // expensive nested expression (per-shingle, per-position hashing),
    // and without a cache both join sides and every exploded band row
    // would recompute it. At cluster scale this is the stage you'd
    // checkpoint to storage; in-memory cache is the local analog.
    val sigs = materialized(
      minhashSignatures(docs, idCol, textCol, shingleK, sigLen))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(TF.lshBandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.toDF("da", "siga", "band", "key")
    val b = banded.toDF("db", "sigb", "band", "key")
    // deliberately NOT shuffle_hash: band-bucket sizes are uncapped
    // (boilerplate-heavy corpora put thousands of docs in one key),
    // and sort-merge spills where a hash build side would OOM
    a.join(b, Seq("band", "key"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        (size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          bool => bool)).cast("double") / lit(sigLen)).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("est_jaccard"))
  }

  /** Benchmark-contamination check: corpus documents sharing at least
    * `minShared` word k-shingles with any probe document (the standard
    * "is my training set contaminated with eval data" test). One
    * shuffle on the shingle; the probe side is tiny and broadcasts.
    * Returns (doc_id, probe_id, shared) pairs. */
  def contaminationPairs(docs: DataFrame, docId: String, docText: String,
      probes: DataFrame, probeId: String, probeText: String,
      k: Int, minShared: Long): DataFrame = {
    val d = shingleHashRows(docs, docId, docText, k)
    val p = shingleHashRows(probes, probeId, probeText, k)
      .toDF("probe_id", "h")
    d.join(broadcast(p), Seq("h"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** SimHash fingerprints: (id, simhash long).
    *
    * Computed by a compiled per-partition kernel that reproduces the
    * column formulation (`TextFunctions.simhash64`) bit-for-bit —
    * token hashes come from Spark's own XxHash64 with the same seed —
    * but without the 64-aggregate interpreted expression tree, which
    * is the difference between 0.5 s and minutes at larger corpora
    * (equality asserted in DedupSpec). */
  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashKernel(docs, idCol, textCol)

  private[dedup] def simhashKernel(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val in = docs.select(col(idCol).as("doc_id"), col(textCol).cast("string"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      in.schema.fields.head.copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("simhash",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    in.map { r =>
      val text = if (r.isNullAt(1)) "" else r.getString(1)
      val toks = wordTokens(text)
      val votes = new Array[Int](64)
      toks.foreach { tok =>
        // identical to the SQL xxhash64(tok): Spark's XxHash64, seed 42
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(tok),
            org.apache.spark.sql.types.StringType, 42L)
        var j = 0
        while (j < 64) {
          votes(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      var sig = 0L
      var j = 0
      while (j < 64) {
        if (votes(j) > 0) sig |= (1L << j)
        j += 1
      }
      org.apache.spark.sql.Row(r.get(0), sig)
    }(enc)
  }

  /** SimHash near-dup pairs: block on the top `blockBits` bits (docs
    * differing there can still be caught by a second rotated pass at
    * scale), then filter by Hamming distance <= maxHamming. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      blockBits: Int, maxHamming: Int): DataFrame = {
    val sh = simhashes(docs, idCol, textCol)
      .withColumn("blk", shiftrightunsigned(col("simhash"), 64 - blockBits))
    val a = sh.toDF("da", "ha", "blk")
    val b = sh.toDF("db", "hb", "blk")
    // sort-merge on purpose: blk bucket sizes are uncapped (see
    // minhashLshPairs note)
    a.join(b, Seq("blk")).filter(col("da") < col("db"))
      .withColumn("hamming", TF.hamming64(col("ha"), col("hb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("hamming"))
  }

  /** COMPLETE simhash near-dup pairs via the banded construction
    * (Manku, Jain & Das Sarma, WWW'07): the 64-bit fingerprint is cut
    * into `maxHamming + 1` disjoint bands, and by pigeonhole any pair
    * within `maxHamming` bits must agree EXACTLY on at least one band —
    * so the union of per-band bucket joins is a guaranteed candidate
    * superset, unlike `simhashPairs`' single high-bit block (which
    * misses pairs whose differing bits fall in the block). Replication
    * is maxHamming+1 rows per doc; each band key is ~64/(k+1) bits, so
    * buckets stay small and the join is a plain hash-partitioned
    * equi-join. Pairs colliding in several bands are emitted exactly
    * once — from the first agreeing band (see bandedHammingPairs). */
  def simhashPairsBanded(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    bandedHammingPairs(simhashes(docs, idCol, textCol),
      idCol, "simhash", maxHamming)

  /** The banded-join kernel over raw (id, fingerprint) rows: emits all
    * pairs with hamming(fp_a, fp_b) <= maxHamming, exactly once each.
    * Public so any fingerprint family (64-bit simhash, media
    * content_hash, the 16-bit oracle simhash) can reuse the complete
    * candidate generation. `hashBits` is the fingerprint's real width:
    * banding a narrow hash over 64 bits would put every row in the
    * same all-zero bucket for the high bands (3× a full cross join);
    * banding over the true width keeps buckets selective. */
  def bandedHammingPairs(fps: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, hashBits: Int = 64): DataFrame = {
    require(hashBits > 0 && hashBits <= 64, "hashBits in (0, 64]")
    require(maxHamming >= 0 && maxHamming < hashBits,
      "maxHamming in [0, hashBits)")
    val bands = maxHamming + 1
    val width = hashBits / bands
    // band i covers bits [hashBits - (i+1)*width, hashBits - i*width);
    // the last band absorbs the hashBits % bands remainder bits at the
    // low end
    def bandKey(c: Column, i: Int): Column = {
      val w = if (i == bands - 1) hashBits - i * width else width
      val shifted = shiftrightunsigned(c, hashBits - i * width - w)
      if (w == 64) shifted else shifted.bitwiseAND(lit((1L << w) - 1L))
    }
    val bandKeys = (0 until bands).map(i =>
      struct(lit(i).as("band"), bandKey(col(hashCol), i).as("key")))
    val keyed = fps.select(col(idCol).as("vid"), col(hashCol).as("fp"),
      explode(array(bandKeys: _*)).as("bk"))
      .select(col("vid"), col("fp"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = keyed.toDF("da", "ha", "band", "key")
    val b = keyed.toDF("db", "hb", "band", "key")
    // A pair within maxHamming collides in EVERY band its diff bits
    // miss — possibly several. Emitting only from the FIRST agreeing
    // band (computable from the two fingerprints in-row) dedupes
    // inline: no groupBy over the candidate stream, one less shuffle
    // at the pipeline's widest point.
    val firstAgree = (0 until bands).foldRight(lit(-1)) { (i, rest) =>
      when(bandKey(col("ha"), i) === bandKey(col("hb"), i), lit(i))
        .otherwise(rest)
    }
    a.join(b, Seq("band", "key")).filter(col("da") < col("db"))
      .filter(col("band") === firstAgree)
      .withColumn("hamming", TF.hamming64(col("ha"), col("hb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("hamming"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every word k-gram in positional order,
    * slide a window of `w` consecutive hashes, keep each window's
    * minimum; the DISTINCT kept hashes are the document's fingerprint
    * set. Guarantee: any verbatim match of ≥ w+k−1 tokens between two
    * documents contributes at least one SHARED fingerprint
    * (WinnowSpec property-tests it). One exchange on the doc id; the
    * ROWS-frame min streams, so cost is linear in tokens. Docs shorter
    * than k+w−1 tokens have no full window and yield no rows. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val gram = (0 until k).map(j => s"toks[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
    val grams = docs
      .select(col(idCol).as("doc_id"),
        expr(graft.QueriesCommon.toksSqlFor(textCol)).as("toks"))
      .filter(size(col("toks")) >= k + w - 1)
      // ng materializes BELOW the posexplode: co-selecting it with the
      // generator would make ExtractGenerator lift it above the
      // Generate with `toks` retained through the fan-out — the whole
      // token array copied once per gram row (the q_bm25 round-10
      // finding; here the generator then consumes toks and only the
      // 8-byte ng rides along)
      .select(col("doc_id"), (size(col("toks")) - (k - 1)).as("ng"),
        col("toks"))
      .select(col("doc_id"), col("ng"),
        posexplode(expr(
          s"transform(sequence(0, size(toks) - $k), i -> $gram)"))
          .as(Seq("pos", "gram")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .select(col("doc_id"), col("ng"), col("pos"),
        min(md5(col("gram"))).over(win).as("fp"))
      .filter(col("pos") <= col("ng") - w)
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs, LSH-blocked: vectors are
    * bucketed by the sign pattern of `planes` pseudo-random hyperplane
    * projections (deterministic, derived from xxhash64 of (plane, dim)),
    * and only same-bucket pairs are scored. */
  def embeddingNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, minCosine: Double): DataFrame = {
    import graft.similarity.Lsh
    val pm = Lsh.planeMatrix(vecs.sparkSession, planes,
      Lsh.probeDims(vecs, vecCol))
    val bucketed = vecs.select(col(idCol).as("vid"), col(vecCol).as("v"),
      Lsh.hyperplaneBucketFast(col(vecCol), pm).as("bucket"))
    val a = bucketed.toDF("da", "va", "bucket")
    val b = bucketed.toDF("db", "vb", "bucket")
    // sort-merge on purpose: hyperplane buckets are uncapped (see
    // minhashLshPairs note)
    a.join(b, Seq("bucket")).filter(col("da") < col("db"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosineSimilarity(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("da").as("id_a"), col("db").as("id_b"), col("cosine"))
  }

  /** EXACT embedding-cosine pairs — the oracle-gated baseline next to
    * the LSH-blocked `embeddingNearDupPairs`. All O(n²/2) pairs are
    * scored, but never on one machine and never via CartesianProduct /
    * BroadcastNestedLoop: vectors are hash-assigned to `blocks` blocks,
    * and every unordered block pair (i ≤ j) is one tile of a plain
    * hash-partitioned equi-join. The left row fans out to tiles
    * (blk, j ≥ blk), the right to tiles (i ≤ blk, blk), so each vector
    * pair meets in exactly ONE tile; diagonal tiles (i = j) keep the
    * id_a < id_b orientation only. Per-task work is one n_i × n_j tile
    * and per-task memory one tile's rows; replication is (blocks+1)
    * copies per row while per-tile work falls as 1/blocks² — scale
    * `blocks` with cluster parallelism. LSH stays the sub-quadratic
    * scale path; this kernel is for when exactness is required, and is
    * the recall oracle the approximate paths are judged against. */
  /** Block count so a corpus of `n` rows lands ~`tileRows` rows per
    * hash block: per-task memory and per-tile pair-work then stay
    * CONSTANT as the corpus grows (blocks ∝ n, tiles ∝ n²,
    * absorbed by cluster parallelism) — the sizing rule the 1×/10×
    * scale probe established. Size `blocks` with this, not with the
    * executor count. */
  def blocksForTileBudget(n: Long, tileRows: Long = 1000L): Int = {
    require(tileRows > 0, "tileRows must be positive")
    if (n <= 1) 1
    else math.min((n - 1) / tileRows + 1, Int.MaxValue).toInt
  }

  def exactCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, blocks: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions
    // Norms are computed ONCE per row, below the explode fan-out. The
    // Generate node is the barrier that keeps them precomputed:
    // CollapseProject cannot merge a projection through Generate, so
    // the norm aliases survive optimization and each pair costs exactly
    // one dot product plus one divide (verified: no SQRT above the
    // Generate in the executed plan). No lineage cut — a checkpoint
    // here would blind the planner's size stats (LogicalRDD defaults to
    // a huge estimate) and force a shuffle join even when one side fits
    // in a broadcast; with stats intact AQE broadcasts at small scale
    // and falls back to sort-merge at cluster scale.
    val v = vecs.select(col(idCol).as("vid"), col(vecCol).as("v"),
      VectorFunctions.l2Norm(col(vecCol)).as("nrm"),
      pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("blk"))
    val left = v
      .withColumn("tj", explode(expr(s"sequence(blk, ${blocks - 1})")))
      .select(col("vid").as("id_a"), col("v").as("va"), col("nrm").as("na"),
        col("blk").as("ti"), col("tj"))
    val right = v
      .withColumn("ti", explode(expr("sequence(0, blk)")))
      .select(col("vid").as("id_b"), col("v").as("vb"), col("nrm").as("nb"),
        col("ti"), col("blk").as("tj"))
    left.join(right, Seq("ti", "tj"))
      // equal ids never meet here: same id → same hash block → diagonal
      // tile, which the strict < already excludes — no extra id filter
      .filter(col("ti") =!= col("tj") || col("id_a") < col("id_b"))
      .withColumn("cosine",
        VectorFunctions.dotProduct(col("va"), col("vb")) /
          (col("na") * col("nb")))
      .filter(col("cosine") >= minCosine)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cosine"))
  }
}
