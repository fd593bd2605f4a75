package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField, StructType}

import graft.core.{Constants, NamespaceMeta, VdfMeta}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** VDF dataset source/sink — the spine of the engine (SURVEY §7.1 step 2).
  *
  * A VDF dataset is a directory of Parquet files plus a `VDF_META.json`
  * manifest (reference `meta_types.py:22-29`, `README.md:124-154`).
  * Reading uses Spark's native schema-merging parquet scan (replacing
  * the reference's `pa.unify_schemas` loop, `vdb_export_cls.py:88-93`);
  * writing uses `maxRecordsPerFile`-bounded parquet output (replacing
  * the manual 100 MB buffer flush, `constants.py:3`,
  * `pinecone_export.py:564-571`) with the manifest written on the
  * driver after the distributed write completes.
  *
  * FILESYSTEM BOUNDARY (deliberate): a VDF dataset DIRECTORY — the
  * manifest, the consolidate/write-new-then-SWAP lifecycle, version
  * bumps — is a local/shared-filesystem artifact, exactly like the
  * reference's (the Python tool writes local dirs; `java.nio` rename
  * semantics are what makes the swap atomic-adjacent). So its parquet
  * writes ([[writeParquet]]: `writeNamespace`'s plain branch,
  * `consolidate`, and `graft curate --out`) put `file:` paths through [[LocalFs]]: they fork no
  * `chmod` per file and directory and leave no `.crc` sidecars, like
  * the reference's pyarrow-written dirs. Vector columns
  * (`array<float>`/`array<double>`) are written PLAIN: random vector
  * doubles never dictionary-encode, so the attempt is skipped. The
  * QUERY and WAREHOUSE paths are filesystem-agnostic: parquet scans, the
  * `_bucketed` layouts and their sidecars/fingerprints, the IVF-PQ
  * index layouts, and the at-scale gate statistic all go through the
  * Hadoop FS API and accept `hdfs://`-style URIs. A 100 TB deployment
  * keeps datasets on the cluster filesystem and uses VDF dirs at the
  * import/export boundary, as the reference does.
  */
object VdfIO {

  /** S19: read + validate the manifest. */
  def readMeta(dir: String): VdfMeta = VdfMeta.read(dir)

  /** S1/S4: read one namespace's data — recursive parquet discovery
    * under the namespace data_path (`util.py:342-354`), schemas merged
    * across chunk files (`vdb_export_cls.py:88-93`). */
  def readNamespace(spark: SparkSession, dir: String, ns: NamespaceMeta): DataFrame =
    spark.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      // manifests (and other sidecars) may sit inside data_path when it
      // is "." (bootstrapped bare dirs); only parquet files are data
      .option("pathGlobFilter", "*.parquet")
      .parquet(Paths.get(dir, ns.data_path).toString)

  /** Typed view of a point table (SURVEY §1.1): id cast to string,
    * the vector column as float array, every other column stringified
    * into the open-world meta map (null values preserved as null map
    * entries). The inverse of `fromPoints` for the given meta keys. */
  def toPoints(df: DataFrame, idCol: String = Constants.IdColumn,
      vectorCol: String = "vector"): org.apache.spark.sql.Dataset[graft.core.VdfPoint] = {
    import df.sparkSession.implicits._
    val metaCols = df.columns.filter(c => c != idCol && c != vectorCol).sorted
    val metaMap =
      if (metaCols.isEmpty) map().cast("map<string,string>")
      else map(metaCols.flatMap(c =>
        Seq(lit(c), col(c).cast("string"))): _*)
    df.select(
      col(idCol).cast("string").as("id"),
      col(vectorCol).cast("array<float>").as("vector"),
      metaMap.as("meta"))
      .as[graft.core.VdfPoint]
  }

  /** Back to the columnar shape: one column per requested meta key
    * (strings — the typed boundary is stringly for metadata, like the
    * reference's dict-of-str rows). */
  def fromPoints(ds: org.apache.spark.sql.Dataset[graft.core.VdfPoint],
      metaKeys: Seq[String], idCol: String = Constants.IdColumn,
      vectorCol: String = "vector"): DataFrame =
    ds.select(
      (col("id").as(idCol) +: col("vector").as(vectorCol) +:
        metaKeys.map(k => col("meta").getItem(k).as(k))): _*)

  /** Read the whole dataset: (index, namespace) → DataFrame. */
  def readVdf(spark: SparkSession, dir: String): Map[(String, String), DataFrame] = {
    val meta = readMeta(dir)
    for {
      (index, nss) <- meta.indexes
      ns <- nss
    } yield (index, ns.namespace) -> readNamespace(spark, dir, ns)
  }

  /** S2/P10: column-checked projection read (`util.py:439-458`): if any
    * requested column is missing from the file schema, return an empty
    * relation with the expected schema instead of failing — the
    * reference's "column not found → empty DF" contract. */
  def readColumns(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(path)
    val present = df.columns.toSet
    if (cols.forall(present)) df.select(cols.map(col): _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cols.flatMap(c => df.schema.find(_.name == c))))
  }

  /** S3/L2: limited read — Catalyst pushes the limit into the scan
    * (replaces `ParquetFile.iter_batches` first-batch logic,
    * `util.py:461-469`). */
  def readLimited(spark: SparkSession, path: String, maxRows: Int): DataFrame =
    spark.read.parquet(path).limit(maxRows)

  /** K1: the reference's core relational op — vectors ⋈ metadata
    * full-outer on id, with colliding metadata columns renamed to
    * `metadata_<c>` first (`vdb_export_cls.py:67-99`). */
  def joinVectorsMetadata(vectors: DataFrame, metadata: DataFrame,
      idCol: String = Constants.IdColumn): DataFrame = {
    val collisions = metadata.columns.toSet
      .intersect(vectors.columns.toSet) - idCol
    val renamed = collisions.foldLeft(metadata) { (df, c) =>
      df.withColumnRenamed(c, s"metadata_$c")
    }
    vectors.join(renamed, Seq(idCol), "full_outer")
  }

  /** K1-K3: write one namespace of points as chunked Parquet + return
    * the NamespaceMeta describing it. File sizing is declarative
    * (`maxRecordsPerFile`) instead of the reference's manual byte
    * buffering; at cluster scale the writer parallelism is the
    * DataFrame's partitioning, untouched here. Without `bucketBy` the
    * files go through [[writeParquet]]: vector columns PLAIN-encoded,
    * and a local write forks nothing and leaves no `.crc` files.
    *
    * One pass over the source: the row count and the min and max
    * length of the non-null vectors ride the write action as an
    * `Observation`. When min = max that length IS the first non-null
    * vector's (F24), and no vector at all (all null, or no rows) gives
    * -1; only mixed lengths fall back to [[resolveDims]], a second
    * scan that picks the first non-null vector. */
  def writeNamespace(df: DataFrame, dir: String, indexName: String,
      namespace: String = "", maxRecordsPerFile: Long = 0L,
      vectorColumns: Seq[String] = Seq("vector"),
      metric: Option[String] = None,
      modelName: Option[String] = None,
      bucketBy: Option[(String, Int)] = None): NamespaceMeta = {
    val dataPath = if (namespace.isEmpty) indexName else s"$indexName/$namespace"
    val out = Paths.get(dir, dataPath).toString
    // count the rows IN the write pass (Observation piggybacks on the
    // write action, the CLI upsert counter's pattern) — the earlier
    // form re-read the namespace it had just written, a full
    // file-listing + footer pass per namespace that is a real second
    // pass at warehouse scale.
    val obs = org.apache.spark.sql.Observation()
    val vectorCol = vectorColumns.headOption.getOrElse("vector")
    val len = when(col(vectorCol).isNotNull, size(col(vectorCol)))
    val observed = df.observe(obs, count(lit(1)).as("rows"),
      (if (!df.columns.contains(vectorCol)) Nil
       else Seq(min(len).as("dims_min"), max(len).as("dims_max"))): _*)
    bucketBy match {
      case Some((key, buckets)) =>
        // warehouse layout at ingest: the namespace's files are
        // written bucketed by the id/join key (plus the sidecar
        // `ops/Scale.readBucketedDir` re-registers from), so every
        // later equi-join or group-by on that key — the K1
        // vectors⋈metadata spine, dedup's keyed aggregations — plans
        // with ZERO exchanges. The files stay plain parquet to any
        // reader that ignores the sidecar; bucketing only adds
        // information.
        require(df.columns.contains(key),
          s"bucketBy column '$key' is not in namespace '$dataPath' " +
            s"(columns: ${df.columns.mkString(", ")})")
        if (maxRecordsPerFile > 0)
          // file count = bucket count by construction under this
          // layout; say so instead of silently dropping the option
          System.err.println(s"[graft] writeNamespace($dataPath): " +
            s"maxRecordsPerFile=$maxRecordsPerFile has no effect under " +
            s"bucketBy — one file per bucket ($buckets)")
        graft.ops.Scale.writeBucketedDir(observed, out, key, buckets)
      case None => writeParquet(observed, out, maxRecordsPerFile)
    }
    val seen = obs.get
    val n = seen("rows").asInstanceOf[Long]
    val dims = (seen.getOrElse("dims_min", null),
        seen.getOrElse("dims_max", null)) match {
      case (null, _) => -1 // no vector column, or no non-null vector
      case (lo, hi) if lo == hi => lo.asInstanceOf[Int]
      case _ => resolveDims(df, vectorCol).getOrElse(-1)
    }
    NamespaceMeta(
      namespace = namespace,
      index_name = indexName,
      total_vector_count = n,
      exported_vector_count = n,
      dimensions = dims,
      model_name = modelName,
      vector_columns = vectorColumns.toList,
      data_path = dataPath,
      metric = metric,
      schema_dict_str = Some(df.schema.json))
  }

  /** The `array<float>` / `array<double>` columns: VDF's vector columns. */
  private def vectorFields(df: DataFrame): Seq[StructField] =
    df.schema.fields.toSeq.filter(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })

  /** The one local parquet write of VDF data files and `graft curate
    * --out` (overwrite `out`).
    *  - `parquet.enable.dictionary#<c>.list.element=false` per
    *    `array<float>`/`array<double>` column `c`: the dictionary
    *    writer hashes every double, then falls back to PLAIN anyway.
    *    Other columns (ids, payload, int8 `array<tinyint>` codes) keep
    *    parquet's default.
    *  - `fs.file.impl` = [[LocalFs]], uncached: only this write's
    *    Hadoop conf and only the `file:` scheme see it. */
  private[graft] def writeParquet(df: DataFrame, out: String,
      maxRecordsPerFile: Long = 0L): Unit = {
    val plainVectors = vectorFields(df).map(f =>
      s"parquet.enable.dictionary#${f.name}.list.element" -> "false")
    val writer = df.write.mode(SaveMode.Overwrite)
      .option("fs.file.impl", classOf[LocalFs].getName)
      .option("fs.file.impl.disable.cache", "true")
      .options(plainVectors.toMap)
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(out)
  }

  /** Write a whole dataset: every (index, namespace) frame + manifest.
    * The manifest is assembled and written once, on the driver, after
    * all distributed writes complete (K3, `vdb_export_cls.py:106-159`). */
  def writeVdf(frames: Map[(String, String), DataFrame], dir: String,
      author: String = "graft", exportedFrom: String = "mock",
      maxRecordsPerFile: Long = 0L, idColumn: String = Constants.IdColumn,
      metrics: Map[String, String] = Map.empty,
      bucketBy: Option[(String, Int)] = None): VdfMeta = {
    // validate the bucket column against EVERY frame before writing
    // anything — one namespace lacking it must not abort the export
    // midway after earlier namespaces already hit disk
    bucketBy.foreach { case (key, _) =>
      val missing = frames.collect {
        case ((ix, ns), f) if !f.columns.contains(key) =>
          if (ns.isEmpty) ix else s"$ix/$ns"
      }
      require(missing.isEmpty,
        s"bucketBy column '$key' is missing from namespace(s) " +
          s"${missing.mkString(", ")} — nothing was written")
    }
    val nss = frames.toSeq.map { case ((index, ns), df) =>
      index -> writeNamespace(df, dir, index, ns, maxRecordsPerFile,
        metric = metrics.get(index), bucketBy = bucketBy)
    }
    val meta = VdfMeta(
      version = "1.0",
      file_structure = listParquetFiles(dir).map(
        Paths.get(dir).relativize(_).toString).sorted.toList,
      author = author,
      exported_from = exportedFrom,
      indexes = nss.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toList },
      exported_at = java.time.Instant.now().toString,
      id_column = Some(idColumn))
    VdfMeta.write(meta, dir)
    meta
  }

  /** Manifest bootstrap for a bare Parquet directory with no
    * VDF_META.json (`reembed.py:258-347` handle_new_dataset, and the
    * HF-dataset import path `vdf_import_cls.py:40-108`): vector
    * columns are the float/double array fields, dimensions from the
    * first non-null vector, one index named after the directory. The
    * synthesized manifest is returned AND written, so downstream
    * tooling sees a normal VDF dataset. */
  def bootstrapMeta(spark: SparkSession, dir: String,
      indexName: String = ""): VdfMeta = {
    require(!VdfMeta.exists(dir), s"$dir already has a ${VdfMeta.FileName}")
    val name =
      if (indexName.nonEmpty) indexName
      else Paths.get(dir).getFileName.toString
    val df = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet").parquet(dir)
    val vecCols = vectorFields(df).map(_.name).toList
    val dims = vecCols.headOption.flatMap(resolveDims(df, _)).getOrElse(-1)
    val n = df.count()
    val ns = NamespaceMeta(
      namespace = "",
      index_name = name,
      total_vector_count = n,
      exported_vector_count = n,
      dimensions = dims,
      vector_columns = if (vecCols.nonEmpty) vecCols else List("vector"),
      data_path = ".",
      schema_dict_str = Some(df.schema.json))
    val meta = VdfMeta(
      version = "1.0",
      file_structure = listParquetFiles(dir).map(
        Paths.get(dir).relativize(_).toString).sorted.toList,
      author = "graft",
      exported_from = "bare-parquet",
      indexes = Map(name -> List(ns)),
      exported_at = java.time.Instant.now().toString,
      id_column = Some(Constants.IdColumn))
    VdfMeta.write(meta, dir)
    meta
  }

  /** F24 dims resolution (`vdf_import_cls.py:152-187`): length of the
    * first non-null vector. Catalyst stops the scan at the first row
    * (CollectLimit), mirroring the reference's short-circuit; it is
    * still a scan of its own, so `writeNamespace` calls it only as the
    * fallback for mixed vector lengths. */
  def resolveDims(df: DataFrame, vectorCol: String): Option[Int] =
    if (!df.columns.contains(vectorCol)) None
    else df.where(col(vectorCol).isNotNull)
      .select(size(col(vectorCol))).limit(1)
      .collect().headOption.map(_.getInt(0))

  /** S4 recursive discovery (`util.py:342-354`). */
  def listParquetFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq(root)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toVector
    finally s.close()
  }

  /** K14 consolidation (`scripts/consolidate_parquet.py:26-133`):
    * schema-merged read of all chunk files → repartition to the target
    * file count → rewrite compacted → patch manifest file_structure.
    * Never rewrites in place: writes to a fresh subdir then swaps the
    * manifest pointer (SURVEY §7.4 in-place-rewrite risk). */
  def consolidate(spark: SparkSession, dir: String, index: String,
      targetFileSizeBytes: Long = 500L * 1024 * 1024): VdfMeta = {
    val meta = readMeta(dir)
    val nss = meta.indexes(index)
    val updated = nss.map { ns =>
      val src = Paths.get(dir, ns.data_path).toString
      val df = spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet").parquet(src)
      val bytes = listParquetFiles(src).map(Files.size).sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileSizeBytes).toInt)
      val tmp = s"${ns.data_path}__compact"
      writeParquet(df.repartition(nFiles), Paths.get(dir, tmp).toString)
      swapDataPath(dir, ns.data_path, tmp)
      ns.copy(schema_dict_str = Some(df.schema.json)).withExtrasFrom(ns)
    }
    val newMeta = meta.copy(
      indexes = meta.indexes.updated(index, updated),
      file_structure = listParquetFiles(dir).map(
        Paths.get(dir).relativize(_).toString).sorted.toList)
      .withExtrasFrom(meta)
    VdfMeta.write(newMeta, dir)
    newMeta
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  private def isEmptyDir(p: Path): Boolean = Files.isDirectory(p) && {
    val s = Files.list(p)
    try !s.iterator().hasNext finally s.close()
  }

  /** Replace the data at `dataPath` (relative to `dir`) with the
    * contents of `tmpName` (also relative to `dir`). Safe for every
    * layout `bootstrapMeta` or `writeNamespace` can produce:
    *
    *  - `data_path "."` (a bootstrapped bare directory) resolves to
    *    the dataset ROOT — the naive delete-then-move would wipe the
    *    manifest, the fresh output, and every other namespace. Here
    *    the root branch deletes only root entries that are neither
    *    the manifest nor on the tmp output's path, then lifts tmp's
    *    contents into place.
    *  - a nested namespace data_path moves just that subtree and
    *    prunes the emptied tmp parent chain afterwards. */
  private[graft] def swapDataPath(dir: String, dataPath: String,
      tmpName: String): Unit = {
    val root = Paths.get(dir).toAbsolutePath.normalize()
    val tmp = root.resolve(tmpName).normalize()
    require(Files.exists(tmp), s"swap source $tmp does not exist")
    require(tmp != root, "swap source must be a subdirectory of the dataset")
    val dst = root.resolve(dataPath).normalize()
    if (dst == root) {
      val keep = Set(tmp, root.resolve(VdfMeta.FileName).normalize())
      val children = Files.list(root)
      try children.iterator().asScala.toVector
        .filterNot(c => keep.exists(_.startsWith(c.normalize())))
        .foreach(deleteRecursively)
      finally children.close()
      val tc = Files.list(tmp)
      try tc.iterator().asScala.toVector
        .foreach(c => Files.move(c, root.resolve(c.getFileName.toString)))
      finally tc.close()
      var p = tmp
      while (p != root && isEmptyDir(p)) {
        Files.delete(p)
        p = p.getParent.normalize()
      }
    } else {
      require(!tmp.startsWith(dst),
        s"swap source $tmp lies inside destination $dst; refusing")
      deleteRecursively(dst)
      if (dst.getParent != null) Files.createDirectories(dst.getParent)
      Files.move(tmp, dst)
      var p = tmp.getParent.normalize()
      while (p != root && isEmptyDir(p)) {
        Files.delete(p)
        p = p.getParent.normalize()
      }
    }
  }

  /** O3 schema union (`consolidate_parquet.py:68-91`): union frames with
    * differing schemas, null-padding missing columns. */
  def unionWithSchemaMerge(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** J2 multi-vector union-of-keys join (`qdrant_import.py:285-299`):
    * each input holds (id, one vector column); the result covers ids
    * present in ANY input, with absent vectors coalesced to the empty
    * array like the reference's `vectors.get(id, [])`. N-way full-outer
    * on the id key — Catalyst plans each as a hash join, and at scale
    * pre-bucketing all frames by id makes the joins shuffle-free. */
  def multiVectorJoin(frames: Seq[DataFrame], idCol: String = Constants.IdColumn): DataFrame = {
    val joined = frames.reduce(_.join(_, Seq(idCol), "full_outer"))
    val vecCols = joined.columns.filter(_ != idCol)
    joined.select(col(idCol) +: vecCols.map(c =>
      coalesce(col(c), array().cast(joined.schema(c).dataType)).as(c)): _*)
  }
}
