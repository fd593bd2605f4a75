package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.expressions.GraftExtensions

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * coarse-quantizer scale path next to hyperplane LSH (`Knn.lshTopK`).
  *
  * Build: k-means over (a sample of) the corpus learns `nlist`
  * centroids; every vector is assigned to its nearest centroid — one
  * narrow shuffle, and at rest the assignment is a partition column
  * (`.write.partitionBy("list_id")`), so a probe reads only the lists
  * it needs. Search: each query scores the centroid table (tiny,
  * broadcast), keeps its `nprobe` nearest lists, and scans only those
  * lists — the candidate set shrinks by ~nlist/nprobe versus a full
  * scan, which is the whole game at 100 TB.
  */
object Ivf {

  /** Assignment of every vector to its nearest centroid list. The id
    * and vector column NAMES ride along so `search` binds by name,
    * not position, regardless of the input column order. */
  final case class IvfIndex(
      centroids: Seq[(Int, Array[Float])],
      assigned: DataFrame, // input columns + list_id
      idCol: String,
      vecCol: String)

  /** K-means the corpus into `nlist` lists.
    *
    * Training runs on the driver over a bounded, deterministic sample
    * (`sampleFraction`, then the first `trainCap` rows by id): the
    * coarse quantizer needs only a sketch of the distribution — FAISS
    * trains IVF on a few hundred points per list — so at 100 TB the
    * train set stays KB-sized while ASSIGNMENT, the part that scales
    * with the corpus, stays distributed and fully codegen'd: per row,
    * `argmax_i (v·c_i − ‖c_i‖²/2)` (≡ nearest centroid in L2) built
    * from native `DotProduct` expressions — no ML-pipeline UDT
    * conversions, no per-iteration Spark jobs. Replaced a Spark-ML
    * KMeans fit whose ~8 scheduler rounds dominated the query (1.55 s
    * → see BENCH). Deterministic for a fixed seed: k-means++ init over
    * the id-ordered sample. */
  def build(vecs: DataFrame, idCol: String, vecCol: String, nlist: Int,
      seed: Long = 42L, sampleFraction: Double = 1.0,
      maxIter: Int = 20, trainCap: Int = 65536): IvfIndex = {
    // NOTE (r12): do NOT try to observe the corpus count on this
    // training pass — an Observation below a global sort double-counts
    // (the range partitioner's boundary-SAMPLING pass re-executes the
    // subtree; measured exactly 2× on a local relation where
    // EliminateLimits drops the top-k and the sort plans a range
    // exchange). IvfPq.build pays one explicit count job instead.
    val src = vecs.select(col(idCol), col(vecCol).cast("array<float>").as(vecCol))
      .filter(col(vecCol).isNotNull)
    val sampled =
      if (sampleFraction >= 1.0) src
      else src.sample(withReplacement = false, sampleFraction, seed)
    // TakeOrderedAndProject in seeded HASH order of the id: one pass,
    // deterministic, and unbiased — capping in id order would train
    // only on the head of the corpus whenever id order correlates with
    // content (time/topic-ordered ingest).
    val train: Array[Array[Float]] = sampled
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol)).limit(trainCap)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(train.length >= nlist, s"need at least $nlist training vectors")
    val centroids = lloyd(train, nlist, maxIter, seed)
    IvfIndex(centroids, assign(vecs, centroids, idCol, vecCol), idCol, vecCol)
  }

  /** Distributed assignment: argmax of `v·c − ‖c‖²/2` (≡ nearest
    * centroid in L2; ties → lowest list_id) over the centroid MATRIX,
    * as the single fused `NearestList` expression — one small
    * always-JIT'd loop. The pre-r13 array-of-dots formulation
    * (`array(dot−half, …)` + array_position-of-first-max) inlined
    * nlist dot loops into one generated method; past the JVM's
    * huge-method limit (~nlist ≥ 30ish at 64 dims) HotSpot stopped
    * JIT-compiling it and assignment ran interpreted — ~200× slower
    * at k=64 (caught by the retired KmeansProbe main, see the expression's
    * scaladoc).
    * Score math, tie-breaks, and null semantics are identical
    * (spec-pinned against the old formulation; the q_ann_* /
    * q_kmeans_* oracle gates re-prove it end-to-end). Centroids must
    * assign by the position in the Seq: list ids ARE indexes here.
    * Shared by the k-means and md5-seeded builds so the two can't
    * drift. */
  private def assign(vecs: DataFrame, centroids: Seq[(Int, Array[Float])],
      idCol: String, vecCol: String): DataFrame = {
    require(centroids.zipWithIndex.forall { case ((li, _), i) => li == i },
      "centroid list ids must be 0..k-1 in order")
    val assigned = vecs.withColumn("list_id",
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.expressions.NearestList(
          org.apache.spark.sql.graftbridge.Bridge.expression(col(vecCol)),
          centroids.map(_._2).toArray)))
    require(assigned.columns.contains(idCol) && assigned.columns.contains(vecCol),
      s"id/vector columns $idCol/$vecCol must exist in the input")
    assigned
  }

  /** Engine-neutral deterministic IVF build for oracle gating: the
    * coarse centroids are the `nlist` corpus vectors that rank FIRST by
    * `md5(CAST(id AS STRING))` (a seeded, unbiased sample any SQL
    * engine reproduces exactly — the same trick as `Knn.md5LshTopK`'s
    * integer planes), and assignment/search are the identical code
    * paths the k-means build uses. The production quantizer stays
    * `build` (k-means, recall-gated in IvfSpec); this exists so the
    * whole IVF route — seed choice, argmax-dot assignment, probe
    * ranking, in-list cosine top-k — is hash-match gated against the
    * DuckDB oracle (q_ann_ivf_oracle). */
  def buildMd5Seeded(vecs: DataFrame, idCol: String, vecCol: String,
      nlist: Int): IvfIndex = {
    val seeds: Array[Array[Float]] = vecs
      .select(col(idCol), col(vecCol).cast("array<float>").as(vecCol))
      .filter(col(vecCol).isNotNull)
      .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.length >= nlist, s"need at least $nlist seed vectors")
    val centroids = seeds.zipWithIndex.map { case (c, i) => i -> c }.toSeq
    IvfIndex(centroids, assign(vecs, centroids, idCol, vecCol), idCol, vecCol)
  }

  /** Seeded k-means++ init + Lloyd iterations, driver-side, L2. */
  private[similarity] def lloyd(train: Array[Array[Float]], k: Int,
      maxIter: Int, seed: Long): Seq[(Int, Array[Float])] = {
    val dim = train.head.length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding
    val cents = new Array[Array[Float]](k)
    cents(0) = train(rnd.nextInt(train.length)).clone()
    val best = Array.fill(train.length)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var i = 0
      while (i < train.length) {
        val d = d2(train(i), cents(c - 1))
        if (d < best(i)) best(i) = d
        i += 1
      }
      val total = best.sum
      var pick = rnd.nextDouble() * total
      var j = 0
      while (j < train.length - 1 && pick > best(j)) { pick -= best(j); j += 1 }
      cents(c) = train(j).clone()
      c += 1
    }
    // Lloyd
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var i = 0
      while (i < train.length) {
        val v = train(i)
        var bi = 0; var bd = Double.MaxValue; var ci = 0
        while (ci < k) {
          val d = d2(v, cents(ci)); if (d < bd) { bd = d; bi = ci }; ci += 1
        }
        counts(bi) += 1
        var j = 0
        while (j < dim) { sums(bi)(j) += v(j); j += 1 }
        i += 1
      }
      var ci = 0
      while (ci < k) {
        // empty list keeps its previous centroid (standard Lloyd choice)
        if (counts(ci) > 0) {
          val nc = new Array[Float](dim)
          var j = 0
          while (j < dim) { nc(j) = (sums(ci)(j) / counts(ci)).toFloat; j += 1 }
          cents(ci) = nc
        }
        ci += 1
      }
      iter += 1
    }
    cents.zipWithIndex.map { case (cv, i) => i -> cv }.toSeq
  }

  /** Materialize the index at rest: list-partitioned parquet, one
    * directory per coarse list. This is the layout the scaladoc's
    * 100 TB story depends on — probes become partition pruning, so a
    * search touches nprobe/nlist of the bytes no matter how large the
    * corpus grows. */
  def writeIndex(index: IvfIndex, path: String): Unit =
    index.assigned.write.mode("overwrite")
      .partitionBy("list_id").parquet(path)

  /** Re-open a materialized index (centroids are the driver-sized
    * artifact the caller persists alongside — e.g. in the VDF manifest
    * `index_config`). */
  def readIndex(spark: SparkSession, path: String,
      centroids: Seq[(Int, Array[Float])], idCol: String,
      vecCol: String): IvfIndex =
    IvfIndex(centroids, spark.read.parquet(path), idCol, vecCol)

  /** Single-vector search over a materialized index with a STATIC
    * probe filter: centroid ranking runs on the driver (the centroid
    * table is KB-sized by construction), and the chosen lists become
    * `list_id IN (...)` — on a `writeIndex` layout that is partition
    * pruning at the file listing, visible as PartitionFilters in the
    * scan (IvfSpec asserts it). The DataFrame-of-queries `search`
    * below keeps the broadcast-join form (dynamic pruning at scale). */
  def searchVector(index: IvfIndex, q: Array[Float], k: Int,
      nprobe: Int): DataFrame = {
    val probed = index.centroids.map { case (i, c) =>
      var dot = 0.0; var nrm = 0.0; var j = 0
      while (j < c.length) { dot += q(j).toDouble * c(j); nrm += c(j).toDouble * c(j); j += 1 }
      // zero-norm centroid: cosine distance is undefined — rank it
      // LAST explicitly (+∞) rather than let 0/0's NaN sort there by
      // accident of Ordering[Double]; the DataFrame `search` below
      // agrees via asc_nulls_last (Spark's divide yields null on a 0
      // divisor).
      (i, if (nrm == 0.0) Double.PositiveInfinity else -dot / math.sqrt(nrm))
    }.sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1)
    index.assigned
      .filter(col("list_id").isin(probed: _*))
      .withColumn("sim", graft.functions.VectorFunctions
        .cosineSimilarity(lit(q), col(index.vecCol)))
      .orderBy(col("sim").desc, col(index.idCol))
      .limit(k)
      .select(col(index.idCol), col("sim"), col("list_id"))
  }

  /** The assignment application, public for STREAMING ingest
    * (`StreamingOps.ivfIngest`): pure per-row codegen'd expressions —
    * no shuffle, no state — so the identical code path the batch
    * build uses runs unchanged inside a streaming micro-batch. */
  def assignTo(vecs: DataFrame, centroids: Seq[(Int, Array[Float])],
      idCol: String, vecCol: String): DataFrame =
    assign(vecs, centroids, idCol, vecCol)

  /** Metadata-filtered search — the filtered vector query every vector
    * DB serves (Pinecone `filter=`, Qdrant payload filters, Weaviate
    * `where`; the reference round-trips exactly these filter payloads,
    * `pinecone_export.py:190-213`). The predicate prunes CANDIDATES
    * before scoring (PRE-filtering): the top-k is taken among
    * qualifying vectors, where post-filtering an unfiltered top-k
    * would under-fill k whenever matches are sparse. On a `writeIndex`
    * layout the predicate rides the probed-list scan as a pushed
    * filter next to the list_id partition pruning, so selectivity
    * compounds with nprobe/nlist instead of costing a second pass. */
  def searchWhere(index: IvfIndex, queries: DataFrame, k: Int,
      nprobe: Int, predicate: Column): DataFrame =
    search(index.copy(assigned = index.assigned.filter(predicate)),
      queries, k, nprobe)

  /** Top-k cosine neighbors per query, scanning only the `nprobe`
    * nearest lists. queries: (q_id, q_vec). */
  def search(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = index.centroids.toDF("list_id", "centroid")
    // per-query centroid ranking — queries × nlist rows, centroid side broadcast
    // asc_nulls_last: a zero-norm centroid's cdist is null (0 divisor)
    // and must rank after every real distance, matching searchVector's
    // explicit +∞ — default asc would rank nulls FIRST and waste a
    // probe on a degenerate list.
    val probeW = Window.partitionBy("q_id")
      .orderBy(col("cdist").asc_nulls_last, col("list_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("cdist",
        -GraftExtensions.dot(col("q_vec"), col("centroid")) /
          sqrt(GraftExtensions.dot(col("centroid"), col("centroid"))))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("list_id"))
    // scan only the probed lists
    val idCol = index.idCol
    val vecCol = index.vecCol
    val scored = index.assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col(idCol))
      .withColumn("sim",
        graft.functions.VectorFunctions.cosineSimilarity(col("q_vec"), col(vecCol)))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col(idCol), col("sim"))
  }
}
