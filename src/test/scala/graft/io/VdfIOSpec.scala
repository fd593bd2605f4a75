package graft.io

import graft.SparkSpec
import graft.core.{Constants, VdfMeta}
import org.apache.spark.sql.functions._

class VdfIOSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vdfio").toString

  private def points(n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
      (i.toString, Array.tabulate(4)(j => (i + j).toFloat), s"title-$i"))
      .toDF("id", "vector", "title")
  }

  test("writeVdf(bucketBy) validates the bucket column on EVERY namespace before writing anything") {
    import spark.implicits._
    val dir = tmp()
    val good = points(10)
    val bad = (0 until 10).map(i => (i.toString, s"t$i")).toDF("id2", "title")
    val e = intercept[IllegalArgumentException] {
      VdfIO.writeVdf(Map(("a", "") -> good, ("b", "") -> bad), dir,
        bucketBy = Some(("id", 2)))
    }
    assert(e.getMessage.contains("b"))
    // fail-fast: namespace "a" must NOT have been written first
    assert(!new java.io.File(dir, "a").exists(),
      "earlier namespace hit disk before the bucket column was validated")
  }

  test("writeNamespace counts in the write pass: manifest counts exact, incl. the bucketed branch") {
    val dir = tmp()
    val df = points(137)
    val plain = VdfIO.writeNamespace(df, dir, "plain",
      maxRecordsPerFile = 50)
    assert(plain.total_vector_count == 137L)
    val bucketed = VdfIO.writeNamespace(df, dir, "bucketed",
      // composes-with-warning case: maxRecordsPerFile has no effect
      // under bucketBy but must not corrupt the write or the count
      maxRecordsPerFile = 50, bucketBy = Some(("id", 4)))
    assert(bucketed.total_vector_count == 137L)
    assert(spark.read.parquet(s"$dir/bucketed").count() == 137L)
  }

  test("write-side golden interop: a graft export's manifest carries the reference's field set (meta_types.py:1-29), so the Python tool could read it") {
    import scala.jdk.CollectionConverters._
    val dir = tmp()
    graft.io.VdfIO.writeVdf(Map(("idx1", "") -> points(10)), dir,
      metrics = Map("idx1" -> "Cosine"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(src: java.io.InputStream) = mapper
      .readValue(src, classOf[java.util.Map[String, Object]]).asScala.toMap
    val written = parse(new java.io.FileInputStream(
      new java.io.File(dir, "VDF_META.json")))
    val golden = parse(getClass.getResourceAsStream("/example-VDF_META.json"))
    // the reference's pydantic VDFMeta (meta_types.py:22-29): six
    // required fields + optional id_column. The golden example carries
    // exactly the required six (fixture self-check); a graft export
    // must carry all required ones and NOTHING the model doesn't
    // declare — pydantic v2 ignores extras, but an undeclared key
    // would mean the two sides drifted.
    val requiredTop = Set("version", "file_structure", "author",
      "exported_from", "indexes", "exported_at")
    val declaredTop = requiredTop + "id_column"
    assert(golden.keySet == requiredTop)
    assert(requiredTop.subsetOf(written.keySet), written.keySet)
    assert(written.keySet.subsetOf(declaredTop),
      s"graft-invented top-level keys: ${written.keySet -- declaredTop}")
    // required values present AND of the pydantic-declared JSON shape
    assert(written("version").isInstanceOf[String])
    assert(written("author").isInstanceOf[String])
    assert(written("exported_from").isInstanceOf[String])
    assert(written("exported_at").isInstanceOf[String])
    assert(written("file_structure").isInstanceOf[java.util.List[_]])
    assert(written("indexes").isInstanceOf[java.util.Map[_, _]])
    // per-namespace (meta_types.py:5-19): namespace/index_name/counts/
    // dimensions/data_path are REQUIRED (no pydantic default) — a
    // manifest missing index_name fails the Python model validation
    val requiredNs = Set("namespace", "index_name", "total_vector_count",
      "exported_vector_count", "dimensions", "data_path")
    val declaredNs = requiredNs ++ Set("model_name", "model_map",
      "vector_columns", "metric", "index_config", "schema_dict_str")
    val writtenNs = written("indexes").asInstanceOf[java.util.Map[String, Object]]
      .get("idx1").asInstanceOf[java.util.List[Object]]
      .get(0).asInstanceOf[java.util.Map[String, Object]].asScala.toMap
    val goldenNs = golden("indexes").asInstanceOf[java.util.Map[String, Object]]
      .values.asScala.head.asInstanceOf[java.util.List[Object]]
      .get(0).asInstanceOf[java.util.Map[String, Object]].asScala.toMap
    assert(goldenNs.keySet.subsetOf(declaredNs)) // fixture self-check
    assert(requiredNs.subsetOf(writtenNs.keySet),
      s"missing required namespace keys: ${requiredNs -- writtenNs.keySet}")
    assert(writtenNs.keySet.subsetOf(declaredNs),
      s"graft-invented namespace keys: ${writtenNs.keySet -- declaredNs}")
    assert(writtenNs("namespace").isInstanceOf[String])
    assert(writtenNs("index_name") == "idx1")
    assert(writtenNs("total_vector_count").isInstanceOf[Number])
    assert(writtenNs("exported_vector_count").isInstanceOf[Number])
    assert(writtenNs("dimensions").asInstanceOf[Number].intValue() == 4)
    assert(writtenNs("vector_columns").isInstanceOf[java.util.List[_]])
    // data_path/file_structure are RELATIVE like the golden example —
    // an absolute path would break the directory-relocatable contract
    val dp = writtenNs("data_path").asInstanceOf[String]
    assert(!dp.startsWith("/"), s"data_path must be relative, got $dp")
    val fsList = written("file_structure")
      .asInstanceOf[java.util.List[Object]].asScala.map(_.toString)
    assert(fsList.nonEmpty && fsList.forall(!_.startsWith("/")), fsList)
    assert(fsList.exists(_.endsWith(".parquet")), fsList)
  }

  test("writeVdf → readVdf round trip preserves rows and manifest shape") {
    val dir = tmp()
    val df = points(100)
    val meta = VdfIO.writeVdf(Map(("idx1", "") -> df), dir,
      author = "test", exportedFrom = "mock")
    assert(meta.indexes("idx1").head.total_vector_count == 100L)
    assert(meta.indexes("idx1").head.dimensions == 4)
    assert(meta.file_structure.nonEmpty)
    assert(meta.id_column.contains(Constants.IdColumn))
    val back = VdfIO.readVdf(spark, dir)(("idx1", ""))
    assert(back.count() == 100L)
    assert(back.columns.toSet == Set("id", "vector", "title"))
  }

  test("joinVectorsMetadata: full outer with collision rename (vdb_export_cls.py:74-84)") {
    import spark.implicits._
    val vec = Seq(("1", Array(1f)), ("2", Array(2f))).toDF("id", "vector")
    val meta = Seq(("2", "t2", "mv2"), ("3", "t3", "mv3"))
      .toDF("id", "title", "vector") // 'vector' collides
    val joined = VdfIO.joinVectorsMetadata(vec, meta)
    assert(joined.columns.toSet == Set("id", "vector", "title", "metadata_vector"))
    assert(joined.count() == 3) // full outer: ids 1,2,3
    val r1 = joined.filter(col("id") === "1").collect().head
    assert(r1.getAs[Any]("title") == null)
  }

  test("readColumns: missing column → empty relation with expected schema (util.py:449-458)") {
    val dir = tmp()
    points(5).write.parquet(s"$dir/data")
    val ok = VdfIO.readColumns(spark, s"$dir/data", Seq("id", "vector"))
    assert(ok.count() == 5 && ok.columns.toSeq == Seq("id", "vector"))
    val empty = VdfIO.readColumns(spark, s"$dir/data", Seq("id", "nope"))
    assert(empty.isEmpty)
  }

  test("readLimited pushes the limit (util.py:461-469)") {
    val dir = tmp()
    points(50).write.parquet(s"$dir/data")
    assert(VdfIO.readLimited(spark, s"$dir/data", 7).count() == 7)
  }

  test("resolveDims: first non-null vector length, short-circuit (F24)") {
    import spark.implicits._
    val df = Seq(
      ("1", null.asInstanceOf[Array[Float]]),
      ("2", Array(1f, 2f, 3f))).toDF("id", "vector")
    assert(VdfIO.resolveDims(df, "vector").contains(3))
    assert(VdfIO.resolveDims(df, "missing").isEmpty)
    val allNull = Seq(("1", null.asInstanceOf[Array[Float]])).toDF("id", "vector")
    assert(VdfIO.resolveDims(allNull, "vector").isEmpty)
  }

  test("writeNamespace records F24 dims from the write pass, equal to resolveDims") {
    import spark.implicits._
    val none = null.asInstanceOf[Array[Float]]
    // one partition, so "first" is the Seq's order for both paths
    def frame(vs: Array[Float]*) = vs.zipWithIndex
      .map { case (v, i) => (i.toString, v) }.toDF("id", "vector")
      .coalesce(1)
    val cases = Seq(
      "null first, then 3 dims" -> (frame(none, Array(1f, 2f, 3f)), 3),
      "all vectors null" -> (frame(none, none), -1),
      "empty frame" -> (frame(), -1),
      // min 2 / max 3 disagree: the fallback scan picks the FIRST
      // non-null vector (3), which neither bound alone would give
      "mixed 3 and 2 dims" ->
        (frame(none, Array(1f, 2f, 3f), Array(1f, 2f)), 3))
    val dir = tmp()
    cases.zipWithIndex.foreach { case ((name, (df, want)), i) =>
      val ns = VdfIO.writeNamespace(df, dir, s"ix$i")
      assert(ns.dimensions == want, name)
      assert(ns.dimensions == VdfIO.resolveDims(df, "vector").getOrElse(-1),
        name)
    }
    // no vector column at all: -1, as resolveDims' None
    val bare = VdfIO.writeNamespace(Seq(("1", "t")).toDF("id", "title"),
      dir, "bare")
    assert(bare.dimensions == -1 && bare.total_vector_count == 1L)
  }

  test("unionWithSchemaMerge null-pads missing columns (O3)") {
    import spark.implicits._
    val a = Seq(("1", "x")).toDF("id", "a")
    val b = Seq(("2", "y")).toDF("id", "b")
    val u = VdfIO.unionWithSchemaMerge(Seq(a, b))
    assert(u.columns.toSet == Set("id", "a", "b"))
    assert(u.count() == 2)
  }

  test("bootstrapMeta synthesizes a manifest for a bare parquet dir (reembed.py:258-347)") {
    val dir = tmp() + "/bare_ds"
    points(40).write.parquet(dir)
    val meta = VdfIO.bootstrapMeta(spark, dir)
    assert(VdfMeta.exists(dir))
    val ns = meta.indexes("bare_ds").head
    assert(ns.vector_columns == List("vector"))
    assert(ns.dimensions == 4)
    assert(ns.total_vector_count == 40)
    // now a normal VDF dataset: readable through the standard path
    val back = VdfIO.readNamespace(spark, dir, ns)
    assert(back.count() == 40)
    // refuses to clobber an existing manifest
    assertThrows[IllegalArgumentException](VdfIO.bootstrapMeta(spark, dir))
  }

  test("consolidate compacts chunk files and patches the manifest (K14)") {
    val dir = tmp()
    // write deliberately fragmented: 10 files for 100 rows, drifting schema
    val df1 = points(50)
    val df2 = points(50).withColumn("extra", lit("e"))
      .withColumn("id", concat(lit("b"), col("id")))
    df1.repartition(5).write.parquet(s"$dir/idx1")
    df2.repartition(5).write.mode("append").parquet(s"$dir/idx1")
    val ns = graft.core.NamespaceMeta(index_name = "idx1", data_path = "idx1",
      dimensions = 4, total_vector_count = 100, exported_vector_count = 100)
    VdfMeta.write(graft.core.VdfMeta(indexes = Map("idx1" -> List(ns))), dir)
    val before = VdfIO.listParquetFiles(s"$dir/idx1").size
    assert(before >= 10)
    val newMeta = VdfIO.consolidate(spark, dir, "idx1")
    val after = VdfIO.listParquetFiles(s"$dir/idx1").size
    assert(after < before)
    val back = spark.read.option("mergeSchema", "true").parquet(s"$dir/idx1")
    assert(back.count() == 100)
    assert(back.columns.toSet == Set("id", "vector", "title", "extra"))
    assert(newMeta.file_structure.exists(_.contains("idx1")))
  }

  test("toPoints/fromPoints typed round trip (open-world meta as string map)") {
    val df = points(10)
      .withColumn("views", col("id").cast("long") * 7)
      .withColumn("flag", col("id").cast("long") % 2 === 0)
      .withColumn("title", when(col("id") === "3", null).otherwise(col("title")))
    val ds = VdfIO.toPoints(df, "id", "vector")
    val pts = ds.collect().sortBy(_.id)
    assert(pts.length == 10)
    val p0 = pts.find(_.id == "0").get
    assert(p0.vector.toSeq == Seq(0f, 1f, 2f, 3f))
    assert(p0.meta("title") == "title-0" && p0.meta("views") == "0" &&
      p0.meta("flag") == "true")
    // null metadata survives as a null map value
    assert(pts.find(_.id == "3").get.meta("title") == null)
    // inverse restores the columnar shape (stringly, as at the boundary)
    val back = VdfIO.fromPoints(ds, Seq("title", "views", "flag"))
    assert(back.columns.toSeq == Seq("id", "vector", "title", "views", "flag"))
    assert(back.count() == 10)
    assert(back.filter(col("id") === "4").head().getAs[String]("views") == "28")
  }
}
