package graft.cli

import graft.SparkSpec
import graft.connectors.MockVdb
import graft.core.{Metric, VdfMeta}
import graft.io.VdfIO
import org.apache.spark.sql.functions._

class CliSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("cli").toString

  private def seedDb(root: String): Unit = {
    import spark.implicits._
    val db = new MockVdb(root)
    db.ensureIndex("idx1", 4, Metric.Cosine, createNew = false)
    db.upsert("idx1", (0 until 120).map(i =>
      (i.toString, Array.tabulate(4)(j => (i + j).toFloat), s"doc number $i"))
      .toDF("id", "vector", "title"))
  }

  test("export from a missing mock --db_root is a usage error and creates nothing") {
    val root = tmp() + "/no_such_root"
    val out = tmp() + "/vdf"
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val rc =
      try Cli.run(spark, Seq("export", "--db", "mock", "--db_root", root,
        "--out", out))
      finally System.setErr(saved)
    assert(rc == 2)
    assert(!new java.io.File(root).exists() && !new java.io.File(out).exists())
    val lines = err.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 1 && lines.head.contains(root), lines.mkString("\n"))
    // import still creates its target root
    val vdf = tmp() + "/vdf2"
    val src = tmp()
    seedDb(src)
    assert(Cli.run(spark, Seq("export", "--db", "mock", "--db_root", src,
      "--out", vdf)) == 0)
    assert(Cli.run(spark, Seq("import", "--db", "mock", "--db_root", root,
      "--dir", vdf)) == 0)
    assert(new MockVdb(root).indexNames == Seq("idx1"))
  }

  test("export → count → id-list → import round trip via CLI") {
    val dbRoot = tmp(); val vdf = tmp() + "/vdf"; val dst = tmp()
    seedDb(dbRoot)
    assert(Cli.run(spark, Seq("export", "--db", "mock",
      "--db_root", dbRoot, "--out", vdf)) == 0)
    assert(VdfMeta.exists(vdf))
    assert(Cli.run(spark, Seq("count", "--dir", vdf)) == 0)
    val idsOut = tmp() + "/ids"
    assert(Cli.run(spark, Seq("id-list", "--dir", vdf, "--out", idsOut)) == 0)
    assert(spark.read.csv(idsOut).count() == 120)

    assert(Cli.run(spark, Seq("import", "--db", "mock", "--db_root", dst,
      "--dir", vdf, "--id_range", "10:59", "--max_rows", "40")) == 0)
    val imported = new MockVdb(dst).scan(spark, "idx1")
    assert(imported.count() == 40)
    val ids = imported.select("id").collect().map(_.getString(0).toLong)
    assert(ids.forall(i => i >= 10 && i <= 59))
  }

  test("export --bucket_by writes a bucketed namespace: sidecar + co-located join + plain readers unchanged") {
    val dbRoot = tmp(); val vdf = tmp() + "/vdf_bkt"
    seedDb(dbRoot)
    assert(Cli.run(spark, Seq("export", "--db", "mock",
      "--db_root", dbRoot, "--out", vdf, "--bucket_by", "id:4")) == 0)
    // the namespace dir is a self-describing bucketed layout...
    val nsDir = s"$vdf/idx1"
    assert(new java.io.File(nsDir, graft.ops.Scale.BucketSidecar).isFile)
    val bkt = graft.ops.Scale.readBucketedDir(spark, nsDir).get
    assert(bkt.count() == 120)
    // ...whose self-join on the bucket key is exchange-free
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = bkt.select("id", "title")
        .join(graft.ops.Scale.readBucketedDir(spark, nsDir).get
          .select(org.apache.spark.sql.functions.col("id")), Seq("id"))
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(joined.count() == 120)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // ...and the ordinary VDF read path sees the identical rows
    // (bucketing only adds information; the manifest stays valid)
    val meta = VdfIO.readMeta(vdf)
    val ns = meta.indexes("idx1").head
    assert(ns.total_vector_count == 120)
    val plain = VdfIO.readNamespace(spark, vdf, ns)
    assert(plain.select("id").collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 120).map(_.toString).sorted)
  }

  test("reembed adds a vector column and updates the manifest in place-swapped files") {
    val dbRoot = tmp(); val vdf = tmp() + "/vdf"
    seedDb(dbRoot)
    Cli.run(spark, Seq("export", "--db", "mock", "--db_root", dbRoot, "--out", vdf))
    assert(Cli.run(spark, Seq("reembed", "--dir", vdf, "--index", "idx1",
      "--model", "hashing", "--text_column", "title", "--dims", "8")) == 0)
    val meta = VdfIO.readMeta(vdf)
    val ns = meta.indexes("idx1").head
    assert(ns.vector_columns.head == "vec_title_hashing_dim8")
    assert(ns.dimensions == 8)
    val df = VdfIO.readNamespace(spark, vdf, ns)
    assert(df.columns.contains("vec_title_hashing_dim8"))
    assert(df.count() == 120)
  }

  test("reembed of a non-empty namespace keeps the layout flat (no ns/ns nesting)") {
    import spark.implicits._
    val vdf = tmp() + "/vdf_ns"
    val df = (1L to 40L).map(i => (i.toString, Array(i.toFloat, 2f), s"t$i"))
      .toDF("id", "vector", "title")
    VdfIO.writeVdf(Map(("idxn", "nsA") -> df), vdf)
    assert(Cli.run(spark, Seq("reembed", "--dir", vdf, "--index", "idxn",
      "--model", "hashing", "--text_column", "title", "--dims", "4")) == 0)
    val meta = VdfIO.readMeta(vdf)
    val ns = meta.indexes("idxn").head
    assert(ns.data_path == "idxn/nsA")
    // the data must live directly under idxn/nsA — not idxn/nsA/nsA
    val nested = java.nio.file.Paths.get(vdf, "idxn", "nsA", "nsA")
    assert(!java.nio.file.Files.exists(nested), s"double nesting at $nested")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(vdf, "idxn__reembed")), "tmp dir left behind")
    val out = VdfIO.readNamespace(spark, vdf, ns)
    assert(out.count() == 40 && out.columns.contains("vec_title_hashing_dim4"))
    // a second reembed (new output column) must not deepen the layout
    assert(Cli.run(spark, Seq("reembed", "--dir", vdf, "--index", "idxn",
      "--model", "hashing", "--text_column", "title", "--dims", "8")) == 0)
    assert(!java.nio.file.Files.exists(nested))
  }

  test("consolidate shrinks file count via CLI") {
    val dbRoot = tmp(); val vdf = tmp() + "/vdf"
    seedDb(dbRoot)
    Cli.run(spark, Seq("export", "--db", "mock", "--db_root", dbRoot,
      "--out", vdf, "--max_file_rows", "10"))
    val before = VdfIO.listParquetFiles(vdf + "/idx1").size
    assert(before > 1)
    assert(Cli.run(spark, Seq("consolidate", "--dir", vdf, "--index", "idx1")) == 0)
    assert(VdfIO.listParquetFiles(vdf + "/idx1").size < before)
  }

  test("unknown command prints usage and fails") {
    assert(Cli.run(spark, Seq("bogus")) == 2)
  }

  test("the root span records argv with the --api_key value masked") {
    graft.telemetry.Spans.flush()
    assert(Cli.runTraced(spark,
      Seq("bogus", "--db", "qdrant", "--api_key", "s3cr3t")) == 2)
    val spans = graft.telemetry.Spans.flush()
    val root = spans.find(_.name == "graft_cli_main")
    assert(root.flatMap(_.attributes.get("argv"))
      .contains("bogus --db qdrant --api_key ***"))
    assert(!spans.exists(_.attributes.values.exists(_.contains("s3cr3t"))))
  }

  test("flag parser handles key-value and boolean flags") {
    val a = Cli.parseArgs(Seq("import", "--db", "mock", "--create_new", "--max_rows", "5"))
    assert(a.positional == List("import"))
    assert(a.flags == Map("db" -> "mock", "create_new" -> "true", "max_rows" -> "5"))
  }

  test("dedup refuses --out equal to or inside --in (would destroy input)") {
    import spark.implicits._
    val in = tmp() + "/docs"
    Seq((1L, "some text")).toDF("doc_id", "text").write.parquet(in)
    assert(Cli.run(spark, Seq("dedup", "--in", in, "--out", in)) == 2)
    assert(Cli.run(spark, Seq("dedup", "--in", in, "--out", s"$in/out")) == 2)
    // URI-scheme forms would dodge a purely syntactic compare
    assert(Cli.run(spark, Seq("dedup", "--in", in, "--out", s"file://$in")) == 2)
    // a symlinked alias of the input resolves to the same real path
    val link = tmp() + "/link"
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(link), java.nio.file.Paths.get(in))
    assert(Cli.run(spark, Seq("dedup", "--in", in, "--out", link)) == 2)
    // input untouched
    assert(spark.read.parquet(in).count() == 1)
  }

  test("dedup exact keeps one row per identical text; minhash collapses near-dups") {
    import spark.implicits._
    val in = tmp() + "/docs"; val outE = tmp() + "/exact"; val outM = tmp() + "/mh"
    // 3 distinct texts; ids 4,5 duplicate id 1's text verbatim
    val base = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (1L, base), (2L, "completely different words live here entirely"),
      (3L, "a third unrelated document body with its own tokens"),
      (4L, base), (5L, base))
      .toDF("doc_id", "text").write.parquet(in)
    assert(Cli.run(spark, Seq("dedup", "--in", in, "--out", outE)) == 0)
    val kept = spark.read.parquet(outE).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(1L, 2L, 3L)), s"kept ${kept.mkString(",")}")
    assert(Cli.run(spark, Seq("dedup", "--in", in, "--out", outM,
      "--method", "minhash", "--threshold", "0.9")) == 0)
    val keptM = spark.read.parquet(outM).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(keptM.sameElements(Array(1L, 2L, 3L)), s"kept ${keptM.mkString(",")}")
  }

  test("dedup excise rewrites duplicated spans out of the text, drops emptied docs") {
    import spark.implicits._
    val in = tmp() + "/docs"; val out = tmp() + "/excised"
    Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "other words alpha beta gamma delta trailing"),
      (3L, "wholly duplicated body"), (4L, "wholly duplicated body"))
      .toDF("doc_id", "text").write.parquet(in)
    assert(Cli.run(spark, Seq("dedup", "--in", in, "--out", out,
      "--method", "excise", "--gram", "3")) == 0)
    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // shared 3-gram span excised from both holders; fully-duplicated
    // docs clean to empty and are dropped
    assert(got == Map(1L -> "unique one", 2L -> "other words trailing"))
  }

  test("search: brute top-k, literal vector, and pre-filter via CLI") {
    import spark.implicits._
    val in = tmp() + "/vecs"
    // vectors along distinct directions: id i points mostly at axis i%4
    (0L until 40L).map { i =>
      (i, Array.tabulate(4)(j => if (j == (i % 4).toInt) 10f else 1f),
        (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label").write.parquet(in)
    def captured(args: String*): (Int, Seq[String]) = {
      val bos = new java.io.ByteArrayOutputStream()
      val rc = Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        Cli.run(spark, args)
      }
      (rc, bos.toString("UTF-8").linesIterator.toSeq)
    }
    // by query id: neighbors share the query's axis (ids ≡ 0 mod 4)
    val (rc1, out1) = captured("search", "--in", in, "--query_id", "0", "--k", "3")
    assert(rc1 == 0 && out1.last == "3 neighbor(s)")
    val ids1 = out1.dropRight(1).map(_.split("\t")(0).toLong)
    assert(ids1.forall(i => i % 4 == 0 && i != 0L), ids1.mkString(","))
    // literal vector along axis 2
    val (rc2, out2) = captured("search", "--in", in,
      "--vector", "0,0,10,0", "--k", "2")
    assert(rc2 == 0 &&
      out2.dropRight(1).map(_.split("\t")(0).toLong).forall(_ % 4 == 2))
    // pre-filter: only odd labels qualify, still k rows
    val (rc3, out3) = captured("search", "--in", in, "--query_id", "0",
      "--k", "3", "--filter", "label = 1")
    val ids3 = out3.dropRight(1).map(_.split("\t")(0).toLong)
    assert(rc3 == 0 && ids3.length == 3 && ids3.forall(_ % 2 == 1),
      ids3.mkString(","))
    // ivf route with filter returns only qualifying ids too
    val (rc4, out4) = captured("search", "--in", in, "--query_id", "0",
      "--k", "3", "--index", "ivf", "--nlist", "4", "--nprobe", "4",
      "--filter", "label = 1")
    val ids4 = out4.dropRight(1).map(_.split("\t")(0).toLong)
    assert(rc4 == 0 && ids4.nonEmpty && ids4.forall(_ % 2 == 1),
      ids4.mkString(","))
    // missing required flags → usage error
    assert(captured("search", "--in", in)._1 == 2)
  }

  test("curate: one-dataflow pipeline — library-equal output, observed stage counts monotone") {
    import spark.implicits._
    val in = tmp() + "/docs"
    // 120 docs: most 30 in-range tokens, some too short, a few exact
    // dups (same lowered text), custom column names to exercise the
    // renaming path
    (0L until 120L).map { i =>
      val text =
        if (i % 10 == 9) "too short"
        else if (i % 10 == 8) (0 until 30).map(j => s"dup$j").mkString(" ")
        else (0 until 30).map(j => s"t${i}x$j").mkString(" ")
      (i, s"src${i % 3}", text)
    }.toDF("id", "src", "body").write.parquet(in)
    val out = tmp() + "/curated"
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--id_column", "id", "--source_column", "src",
      "--text_column", "body", "--budget", "900", "--pack", "256")) == 0)
    val got = spark.read.parquet(out)
    assert(got.columns.toSet == Set("id", "src", "n_tok", "bin"))
    // library-equal: same doc set as composing the stages directly
    val docs = spark.read.parquet(in).select(col("id").as("doc_id"),
      col("body").as("text"), col("src").as("source"))
    val want = graft.pipeline.Curation.tokenBudgetWith(
        graft.pipeline.Curation.keepSplit(
          graft.pipeline.Curation.nearDedupLsh(
            graft.pipeline.Curation.exactDedup(
              graft.pipeline.Curation.qualityFilter(docs))), "train"),
        lit(900L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotIds = got.select("id").collect().map(_.getLong(0)).toSet
    assert(gotIds == want && gotIds.nonEmpty)
    // per-source budget respected
    val perSrc = got.groupBy("src").agg(sum("n_tok").as("t")).collect()
    assert(perSrc.forall(_.getAs[Long]("t") <= 900L))
    // bad flags fail fast
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--split", "nope")) == 2)
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--min_tokens", "50", "--max_tokens", "10")) == 2)
  }

  test("curate --out: VdfIO's local writer, no .crc sidecars, the library pipeline's rows") {
    import spark.implicits._
    val in = tmp() + "/docs"
    (0L until 60L).map { i =>
      val text =
        if (i % 10 == 8) (0 until 30).map(j => s"dup$j").mkString(" ")
        else (0 until 30).map(j => s"t${i}x$j").mkString(" ")
      (i, s"src${i % 3}", text)
    }.toDF("doc_id", "source", "text").write.parquet(in)
    val out = tmp() + "/curated"
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out)) == 0)
    val files = new java.io.File(out).list().toSeq
    assert(files.exists(_.endsWith(".parquet")), files.mkString(","))
    assert(!files.exists(_.endsWith(".crc")), files.mkString(","))
    val docs = spark.read.parquet(in)
    val want = graft.pipeline.Curation.keepSplit(
        graft.pipeline.Curation.nearDedupLsh(
          graft.pipeline.Curation.exactDedup(
            graft.pipeline.Curation.qualityFilter(docs))), "train")
      .select(col("doc_id"), col("source"), col("n_tok").cast("long"))
      .collect().toSet
    assert(spark.read.parquet(out).collect().toSet == want && want.nonEmpty)
  }

  test("curate --follow: incremental runs drain only new files; fp_index rejects prior-run fingerprints") {
    import spark.implicits._
    val in = tmp() + "/docs_follow"
    def text(i: Long) = (0 until 30).map(j => s"f${i}x$j").mkString(" ")
    // batch 1: docs 0-19, doc 19 an exact dup of doc 0
    (0L until 20L).map(i => (i, s"src${i % 3}",
      if (i == 19) text(0) else text(i)))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val out = tmp() + "/cur_follow"
    val ckpt = tmp() + "/ckpt_follow"
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--follow", "--split", "all", "--checkpoint", ckpt)) == 0)
    val got1 = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // 0 and 19 share a fingerprint AND a micro-batch, so the winner is
    // arbitrary — exactly one of the pair survives
    assert(got1.size == 19 && Set(0L, 19L).count(got1.contains) == 1,
      s"run 1 admitted $got1")
    // batch 2 lands: one dup of doc 1 (within the dedup horizon,
    // state restored from the checkpoint) + one novel doc
    Seq((100L, "src0", text(1)), (101L, "src0", text(100)))
      .toDF("doc_id", "source", "text")
      .write.mode("append").parquet(in)
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--follow", "--split", "all", "--checkpoint", ckpt)) == 0)
    val got2 = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got2 == got1 + 101L,
      s"run 2 must append ONLY the novel doc: $got2")
    // the appended output carries fp — usable directly as the NEXT
    // run's --fp_index: a fresh checkpoint re-reads everything, the
    // index rejects every already-curated fingerprint, and only a
    // genuinely new batch-3 doc lands
    Seq((200L, "src1", text(200)))
      .toDF("doc_id", "source", "text")
      .write.mode("append").parquet(in)
    val out3 = tmp() + "/cur_follow3"
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out3,
      "--follow", "--split", "all", "--fp_index", out)) == 0)
    val got3 = spark.read.parquet(out3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got3 == Set(200L), s"index run admitted $got3")
    // budget/pack are batch finishers — rejected with --follow
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--follow", "--budget", "900")) == 2)
    // sink/checkpoint coupling guards fail loud on every mismatch:
    // a used checkpoint with a fresh --out would silently OMIT the
    // already-processed files from the new corpus
    assert(Cli.run(spark, Seq("curate", "--in", in,
      "--out", tmp() + "/cur_fresh", "--follow", "--split", "all",
      "--checkpoint", ckpt)) == 2)
    // a URI-form checkpoint would break the java.io.File guards
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--follow", "--checkpoint", "file:///tmp/ck")) == 2)
  }

  test("curate --follow --bpe_file: the stream denominated in a persisted tokenizer") {
    import spark.implicits._
    val in = tmp() + "/docs_fbpe"
    def text(i: Long) = (0 until 30).map(j => s"f${i}x$j").mkString(" ")
    (0L until 10L).map(i => (i, s"src${i % 2}", text(i)))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val docs = spark.read.parquet(in)
    // persist a tokenizer learned from the same corpus
    val mergesFile = tmp() + "/fm.tsv"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "4",
      "--out_merges", mergesFile)) == 0)
    val out = tmp() + "/cur_fbpe"
    // bounds re-denominated: BPE counts exceed the 30-word whitespace
    // count, so default [20,80] would still pass — use wide bounds and
    // assert the UNIT, not the filter
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--follow", "--split", "all", "--min_tokens", "0",
      "--max_tokens", "100000", "--max_stopword_ratio", "1",
      "--bpe_file", mergesFile)) == 0)
    val words = graft.functions.Bpe.wordFreq(docs, "text")
    val merges = graft.functions.Bpe.learn(words, 4)
    val want = graft.functions.Bpe
      .docCounts(docs, "text", Seq("doc_id"), merges)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tok")).toMap
    assert(got.keySet == (0L until 10L).toSet)
    got.foreach { case (id, n) => assert(n == want(id), s"doc $id") }
    // learning under --follow stays rejected
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", tmp() + "/x",
      "--follow", "--bpe_merges", "4")) == 2)
  }

  test("mixture: weights downsample, budget caps, epochs upsample — library-equal") {
    import spark.implicits._
    val in = tmp() + "/docs"
    (0L until 200L).map { i =>
      (i, s"src${i % 4}", ("tok " * ((i % 7).toInt + 1)).trim)
    }.toDF("doc_id", "source", "text").write.parquet(in)
    val docs = spark.read.parquet(in)

    // weights: src0..src3 get 1..4; result must equal Mixture.resample
    val outW = tmp() + "/w"
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", outW,
      "--weights", "src0=1,src1=2,src2=3,src3=4")) == 0)
    val wCol = when(col("source") === "src0", 1)
      .when(col("source") === "src1", 2)
      .when(col("source") === "src2", 3).otherwise(4)
    val wantW = graft.ops.Mixture.resample(docs, "source", "doc_id", wCol)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotW = spark.read.parquet(outW)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotW == wantW && gotW.nonEmpty)

    // budget: tokens per source capped; totals within budget
    val outB = tmp() + "/b"
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", outB,
      "--budget", "30")) == 0)
    val totals = spark.read.parquet(outB)
      .withColumn("toks", size(split(trim(lower(col("text"))), "\\s+")))
      .groupBy("source").agg(sum("toks").as("t")).collect()
    assert(totals.nonEmpty && totals.forall(_.getAs[Long]("t") <= 30))

    // epochs: 2.0 epochs for src0 → every src0 doc exactly twice, rep column present
    val outE = tmp() + "/e"
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", outE,
      "--epochs", "src0=2.0")) == 0)
    val e = spark.read.parquet(outE)
    assert(e.columns.contains("rep"))
    val perDoc = e.filter(col("source") === "src0")
      .groupBy("doc_id").count().collect().map(_.getLong(1)).toSet
    assert(perDoc == Set(2L))
    assert(e.filter(col("source") =!= "src0")
      .groupBy("doc_id").count().filter(col("count") =!= 1).count() == 0)

    // shuffle: sharded files in name order replay the exact global md5 order
    val outS = tmp() + "/s"
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", outS,
      "--shuffle", "3")) == 0)
    val files = new java.io.File(outS).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).sorted
    assert(files.length == 3)
    val replayed = files.flatMap(f =>
      spark.read.parquet(f).select("doc_id").collect().map(_.getLong(0))).toSeq
    val want = docs.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(replayed == want)

    // guard: overlapping out, bad weights, bad pairs, bad budget → usage errors
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", in)) == 2)
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/x",
      "--weights", "src0=11")) == 2)
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/y",
      "--epochs", "src0")) == 2)
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/z",
      "--budget", "10k")) == 2)
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/z2",
      "--budget", "-5")) == 2)
    // epochs below the 1/256 quantization floor would round to e256=0
    // and silently drop the source — must be rejected, not accepted
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/z3",
      "--epochs", "src0=0.001")) == 2)
    // the floor itself (1/256 = 0.00390625) is valid
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/z4",
      "--epochs", "src0=0.0039063")) == 0)
  }

  test("mixture --temperature: library-equal count-derived resample; guards") {
    import spark.implicits._
    val in = tmp() + "/tdocs"
    // skewed sources so the derived weights actually downsample
    (0L until 300L).map { i =>
      val src = if (i < 200) "big" else if (i < 280) "mid" else "rare"
      (i, src, s"text $i")
    }.toDF("doc_id", "source", "text").write.parquet(in)
    val docs = spark.read.parquet(in)
    val out = tmp() + "/t"
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", out,
      "--temperature", "0.5")) == 0)
    val want = graft.ops.Mixture.temperature(docs, "source", "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    // rarest source kept whole; dominant source downsampled
    val bySrc = spark.read.parquet(out).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("rare") == 20L)
    assert(bySrc("big") < 200L)
    // guards: out-of-range alpha; --weights/--default_weight conflict
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/t1",
      "--temperature", "0")) == 2)
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/t2",
      "--temperature", "1.5")) == 2)
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/t3",
      "--temperature", "0.5", "--weights", "big=1")) == 2)
    assert(Cli.run(spark, Seq("mixture", "--in", in, "--out", tmp() + "/t4",
      "--temperature", "0.5", "--default_weight", "2")) == 2)
  }

  test("curate --bpe_merges: every stage re-denominated in learned-BPE units") {
    import spark.implicits._
    val in = tmp() + "/docs"
    (0L until 40L).map { i =>
      (i, s"src${i % 2}", (s"alpha$i beta gamma delta " * 3).trim)
    }.toDF("doc_id", "source", "text").write.parquet(in)
    val docs = spark.read.parquet(in)

    val out = tmp() + "/bpe"
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out,
      "--min_tokens", "0", "--max_tokens", "100000",
      "--max_stopword_ratio", "1", "--split", "all",
      "--bpe_merges", "5")) == 0)
    // n_tok in the output is the BPE count (learned on the raw corpus),
    // not the whitespace count
    val words = graft.functions.Bpe.wordFreq(docs, "text")
    val merges = graft.functions.Bpe.learn(words, 5)
    val want = graft.functions.Bpe
      .docCounts(docs, "text", Seq("doc_id"), merges)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tok")).toMap
    // the pipeline's dedup stages drop near-identical docs, so the
    // output is a survivor subset — every survivor must carry the
    // BPE count the library computes for it
    assert(got.nonEmpty && got.keySet.subsetOf(want.keySet))
    got.foreach { case (id, n) => assert(n == want(id), s"doc $id") }
    val wsCount = docs.filter(col("doc_id") === 0L)
      .select(size(split(trim(col("text")), "\\s+"))).collect().head.getInt(0)
    assert(got(0L) > wsCount, "BPE subword counts must exceed word counts here")

    // --bpe_file reload path agrees with the in-line learn
    val mergesFile = tmp() + "/m.tsv"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "5",
      "--out_merges", mergesFile)) == 0)
    val out2 = tmp() + "/bpe2"
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", out2,
      "--min_tokens", "0", "--max_tokens", "100000",
      "--max_stopword_ratio", "1", "--split", "all",
      "--bpe_file", mergesFile)) == 0)
    val got2 = spark.read.parquet(out2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tok")).toMap
    assert(got2 == got)

    // guards: exclusive flags, bad count, batch-only under --follow
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", tmp() + "/x",
      "--bpe_merges", "3", "--bpe_file", mergesFile)) == 2)
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", tmp() + "/y",
      "--bpe_merges", "nope")) == 2)
    assert(Cli.run(spark, Seq("curate", "--in", in, "--out", tmp() + "/z",
      "--bpe_merges", "3", "--follow")) == 2)
  }

  test("tokenize --out and --out_ids write one row per input document") {
    import spark.implicits._
    val in = tmp() + "/docs"
    Seq((1L, "abab abc"), (2L, ""), (3L, " \t\n "),
      (4L, null.asInstanceOf[String]), (5L, "xa b" + graft.functions.Bpe.Sep + "x"),
      (6L, "cab abab b"), (7L, "abab abc"), (8L, "b"))
      .toDF("doc_id", "text").write.parquet(in)
    val out = tmp() + "/counts"
    val ids = tmp() + "/ids"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "5",
      "--out", out, "--out_ids", ids)) == 0)
    val counts = spark.read.parquet(out).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens")))).toMap
    val idDocs = spark.read.parquet(ids).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(counts.keySet == (1L to 8L).toSet)
    assert(idDocs.keySet == counts.keySet)
    // token-less docs (empty, whitespace-only, null) count zero; the
    // SEP word of doc 5 is skipped, as in wordFreq
    Seq(2L, 3L, 4L).foreach(d => assert(counts(d) == ((0L, 0L)), s"doc $d"))
    assert(counts(5L)._1 == 1L)
    counts.foreach { case (d, (_, n)) => assert(n == idDocs(d), s"doc $d") }
  }

  test("tokenize: learn → persist TSV → reload → apply, library-equal") {
    import spark.implicits._
    val in = tmp() + "/docs"
    Seq((1L, "s0", "abab abc aaa"), (2L, "s0", "abab b cab"),
      (3L, "s1", "xa bx xabx abab"))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val docs = spark.read.parquet(in)

    // learn + both sinks
    val mergesFile = tmp() + "/merges.tsv"
    val out = tmp() + "/counts"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "4",
      "--out_merges", mergesFile, "--out", out)) == 0)

    // the persisted table equals the library's learn on the same corpus
    val words = graft.functions.Bpe.wordFreq(docs, "text")
    val want = graft.functions.Bpe.learn(words, 4)
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(mergesFile)).trim.split("\n").toSeq
    assert(lines == want.map(m => s"${m.rank}\t${m.left}\t${m.right}\t${m.freq}"))

    // per-doc counts equal the library path
    val got = spark.read.parquet(out)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"))).toMap
    val ref = graft.functions.Bpe
      .docCounts(docs, "text", Seq("doc_id"), want)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == ref && got.keySet == Set(1L, 2L, 3L))

    // reload path: applying the TSV to the same corpus reproduces counts
    val out2 = tmp() + "/counts2"
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", mergesFile, "--out", out2)) == 0)
    val got2 = spark.read.parquet(out2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"))).toMap
    assert(got2 == got)

    // --out_ids: per-doc token-ID sequences equal the library path;
    // --out_vocab: the id table TSV in id order
    val idsOut = tmp() + "/ids"
    val vocabF = tmp() + "/vocab.tsv"
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", mergesFile, "--out_ids", idsOut,
      "--out_vocab", vocabF)) == 0)
    val gotIds = spark.read.parquet(idsOut)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Seq[Long]]("token_ids").toList).toMap
    val refIdRows = graft.functions.Bpe.vocabIds(words, want)
      .orderBy("token_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val refIds = graft.functions.Bpe
      .docTokenIdsFast(docs, "text", Seq("doc_id"), want, refIdRows)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toList).toMap
    assert(gotIds == refIds && gotIds.keySet == Set(1L, 2L, 3L))
    val vocabLines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(vocabF)).trim.split("\n").toSeq
    val refVocab = refIdRows.map { case (t, id) => s"$id\t$t" }
    assert(vocabLines == refVocab)
    // ids are consecutive from 0 and the file is in id order
    assert(vocabLines.zipWithIndex.forall { case (l, i) =>
      l.startsWith(s"$i\t") })
    // out_ids gets the same path guard as out
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--out_ids", in)) == 2)

    // --vocab_file pins ids across corpora (the portability contract):
    // corpus B contains a char corpus A never saw ('z') — without the
    // pin B's alphabet would shift every id; with it, known tokens
    // keep A's ids and unknown tokens emit -1 (UNK)
    val inB = tmp() + "/docsB"
    Seq((9L, "s0", "abz")).toDF("doc_id", "source", "text")
      .write.parquet(inB)
    val idsB = tmp() + "/idsB"
    assert(Cli.run(spark, Seq("tokenize", "--in", inB,
      "--merges_file", mergesFile, "--vocab_file", vocabF,
      "--out_ids", idsB)) == 0)
    val vocabIdsA = vocabLines.map { l =>
      val Array(id, tok) = l.split("\t"); tok -> id.toLong }.toMap
    val seqB = spark.read.parquet(idsB)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Seq[Long]]("token_ids").toList).toMap
    // tokenize "abz" under A's merges, map through A's vocab, z -> -1
    val expB = new graft.functions.BpeMergeTable(want.toArray).tokenize("abz")
      .map(t => vocabIdsA.getOrElse(t, -1L)).toList
    assert(seqB == Map(9L -> expB), s"got $seqB want $expB")
    assert(expB.contains(-1L), "fixture must exercise the UNK path")
    // malformed / duplicate vocab files fail loudly
    val badV = tmp() + "/badv.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(badV), "junk\n")
    assert(Cli.run(spark, Seq("tokenize", "--in", inB,
      "--merges_file", mergesFile, "--vocab_file", badV,
      "--out_ids", tmp() + "/xx")) == 2)
    val dupV = tmp() + "/dupv.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dupV),
      "0\ta\n1\ta\n")
    assert(Cli.run(spark, Seq("tokenize", "--in", inB,
      "--merges_file", mergesFile, "--vocab_file", dupV,
      "--out_ids", tmp() + "/yy")) == 2)

    // guards: both/neither merge sources, bad count, malformed TSV,
    // overlapping --out
    assert(Cli.run(spark, Seq("tokenize", "--in", in)) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--merges_file", mergesFile)) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "abc")) == 2)
    val bad = tmp() + "/bad.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad), "oops\n")
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", bad, "--out", tmp() + "/x")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--out", in)) == 2)
  }

  test("tokenize: rank validation, pinned out_vocab, min_freq (r14 advice)") {
    import spark.implicits._
    val in = tmp() + "/docs"
    Seq((1L, "s0", "abab abc aaa"), (2L, "s0", "abab b cab"),
      (3L, "s1", "xa bx xabx abab"))
      .toDF("doc_id", "source", "text").write.parquet(in)

    // duplicate merge RANKS fail loudly: the fast kernel dedupes
    // candidates by rank, so accepting the file would silently drop a
    // merge there while the replace tower applied both
    val dupRank = tmp() + "/dup_rank.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dupRank),
      "1\ta\tb\t9\n1\tb\tc\t8\n")
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", dupRank, "--out", tmp() + "/d1")) == 2)
    val zeroRank = tmp() + "/zero_rank.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(zeroRank),
      "0\ta\tb\t9\n")
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", zeroRank, "--out", tmp() + "/d2")) == 2)

    // a pinned vocab with a NEGATIVE id is rejected (-1 is the UNK
    // sentinel in --out_ids output — a pinned -1 would be ambiguous)
    val mergesFile = tmp() + "/m.tsv"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--out_merges", mergesFile)) == 0)
    val negV = tmp() + "/negv.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(negV),
      "-1\ta\n0\tb\n")
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", mergesFile, "--vocab_file", negV,
      "--out_ids", tmp() + "/n1")) == 2)

    // --out_vocab alongside --vocab_file re-emits the PINNED table (the
    // id space --out_ids actually used), not the corpus-derived one
    val pinV = tmp() + "/pin.tsv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(pinV),
      "7\ta\n9\tb\n12\tab\n")
    val outV = tmp() + "/outv.tsv"
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", mergesFile, "--vocab_file", pinV,
      "--out_ids", tmp() + "/ids_pin", "--out_vocab", outV)) == 0)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(outV))
      == "7\ta\n9\tb\n12\tab\n")

    // --min_freq: learned merges equal the library's pruned learn;
    // misuse (with --merges_file, or non-positive) exits 2
    val mfFile = tmp() + "/mf.tsv"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "3",
      "--min_freq", "2", "--out_merges", mfFile)) == 0)
    val docs = spark.read.parquet(in)
    val words = graft.functions.Bpe.wordFreq(docs, "text")
    val want = graft.functions.Bpe.learn(words, 3, minFreq = 2L)
    val lines = java.nio.file.Files.readString(
      java.nio.file.Paths.get(mfFile)).trim.split("\n").toSeq
    assert(lines == want.map(m => s"${m.rank}\t${m.left}\t${m.right}\t${m.freq}"))
    assert(Cli.run(spark, Seq("tokenize", "--in", in,
      "--merges_file", mergesFile, "--min_freq", "2",
      "--out", tmp() + "/mf2")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "3",
      "--min_freq", "0")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "3",
      "--min_freq", "nope")) == 2)
  }

  test("tokenize --out_packed: shards equal the library composition; guards") {
    import spark.implicits._
    val in = tmp() + "/docs"
    Seq((1L, "s0", "abab abc aaa"), (2L, "s0", "abab b cab"),
      (3L, "s1", "xa bx xabx abab"))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val docs = spark.read.parquet(in)
    val out = tmp() + "/packed"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "4",
      "--out_packed", out, "--seq_len", "4")) == 0)
    val words = graft.functions.Bpe.wordFreq(docs, "text")
    val merges = graft.functions.Bpe.learn(words, 4)
    val idRows = graft.functions.Bpe.vocabIds(words, merges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val eos = idRows.map(_._2).max + 1L // the CLI default
    val want = graft.functions.Bpe.packTokenIds(
        graft.functions.Bpe.docTokenIdsFast(
          docs, "text", Seq("source", "doc_id"), merges, idRows),
        "source", "doc_id", 4, eos)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getSeq[Long](3).toList).toMap
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getSeq[Long](3).toList).toMap
    assert(got == want && got.nonEmpty)
    // every id stream ends in EOS per source; shard lengths == 4 except tails
    assert(got.values.forall(_.size <= 4))
    assert(got.values.flatten.toSet.contains(eos))
    // guards: seq_len/eos_id without out_packed; eos_id = -1; collision;
    // missing source column
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--seq_len", "8")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--out_packed", tmp() + "/p1", "--eos_id", "-1")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--out_packed", tmp() + "/p2", "--eos_id", "0")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--out_packed", tmp() + "/p3", "--seq_len", "0")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--out_packed", tmp() + "/p4", "--source_column", "nope")) == 2)
    // --shuffle_seed: plumbs the epoch permutation to the library;
    // guard without --out_packed
    // seed "ep3" verifiably INVERTS s0's two-doc order
    // (md5("ep3:2") < md5("ep3:1")), so the shuffled layout must differ
    val outS = tmp() + "/packedS"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "4",
      "--out_packed", outS, "--seq_len", "4", "--shuffle_seed", "ep3")) == 0)
    val wantS = graft.functions.Bpe.packTokenIds(
        graft.functions.Bpe.docTokenIdsFast(
          docs, "text", Seq("source", "doc_id"), merges, idRows),
        "source", "doc_id", 4, eos, shuffleSeed = Some("ep3"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getSeq[Long](3).toList).toMap
    val gotS = spark.read.parquet(outS)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getSeq[Long](3).toList).toMap
    assert(gotS == wantS && gotS != got)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "2",
      "--shuffle_seed", "ep1")) == 2)
  }

  test("tokenize --follow: per-drain id emission equals the batch kernel") {
    import spark.implicits._
    val in = tmp() + "/sdocs"
    Seq((1L, "abab abc"), (2L, "b aaa"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    // pin the tokenizer from wave 1 (the artifacts a --follow consumer ships)
    val mergesF = tmp() + "/m.tsv"
    val vocabF = tmp() + "/v.tsv"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "4",
      "--out_merges", mergesF, "--out_vocab", vocabF)) == 0)
    val out = tmp() + "/ids_stream"
    val follow = Seq("tokenize", "--in", in, "--merges_file", mergesF,
      "--vocab_file", vocabF, "--out_ids", out, "--follow")
    assert(Cli.run(spark, follow) == 0)
    assert(spark.read.parquet(out).count() == 2)
    // wave 2 lands (with an out-of-vocab word -> UNK); drain again
    Seq((3L, "zz abab")).toDF("doc_id", "text").write.mode("append").parquet(in)
    assert(Cli.run(spark, follow) == 0)
    // a drain with nothing new emits nothing
    assert(Cli.run(spark, follow) == 0)
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toList).toMap
    // accumulated stream == one batch pass over the whole corpus with
    // the same pinned vocab
    val outB = tmp() + "/ids_batch"
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges_file", mergesF,
      "--vocab_file", vocabF, "--out_ids", outB)) == 0)
    val want = spark.read.parquet(outB).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).toList).toMap
    assert(got == want && got.size == 3)
    assert(got(3L).contains(-1L), "wave-2 OOV word must emit UNK")
    // guards: learning / missing vocab / missing out_ids / batch sink /
    // stray --follow value / appending into a non-stream dir
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges", "4",
      "--vocab_file", vocabF, "--out_ids", tmp() + "/x1", "--follow")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges_file", mergesF,
      "--out_ids", tmp() + "/x2", "--follow")) == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges_file", mergesF,
      "--vocab_file", vocabF, "--follow")) == 2)
    assert(Cli.run(spark, follow ++ Seq("--out_packed", tmp() + "/x3")) == 2)
    assert(Cli.run(spark, follow :+ "oops") == 2)
    assert(Cli.run(spark, Seq("tokenize", "--in", in, "--merges_file", mergesF,
      "--vocab_file", vocabF, "--out_ids", outB, "--follow")) == 2)
  }

  test("pca: fit/project, model-file round trip, rotate_pq, usage errors") {
    import spark.implicits._
    val in = tmp() + "/vecs"
    // anisotropic on purpose: decaying per-dim scale so k=3 is meaningful
    (0 until 200).map(i => (i.toLong,
      Array.tabulate(8)(j => (math.sin(i * 0.3 + j) * (8 - j)).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(in)
    val out = tmp() + "/proj"; val modelF = tmp() + "/model.json"
    assert(Cli.run(spark, Seq("pca", "--in", in, "--k", "3",
      "--out", out, "--out_model", modelF)) == 0)
    val proj = spark.read.parquet(out)
    assert(proj.columns.toSeq == Seq("vec_id", "embedding"))
    assert(proj.count() == 200)
    assert(proj.select(size(col("embedding")).as("d")).distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(3))
    // a reloaded model projects bit-identically
    val out2 = tmp() + "/proj2"
    assert(Cli.run(spark, Seq("pca", "--in", in,
      "--model_file", modelF, "--out", out2)) == 0)
    def vecsOf(dir: String) = spark.read.parquet(dir).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).toSeq).toSeq
    assert(vecsOf(out) == vecsOf(out2))
    // the PQ rotation keeps the dimensionality (it permutes, not truncates)
    val out3 = tmp() + "/rot"
    assert(Cli.run(spark, Seq("pca", "--in", in,
      "--rotate_pq", "4", "--out", out3)) == 0)
    assert(spark.read.parquet(out3)
      .select(size(col("embedding")).as("d")).head().getInt(0) == 8)
    // usage errors: no sink; two basis sources; a truncated model can't
    // rotate; a subspace count that doesn't divide the dimension
    assert(Cli.run(spark, Seq("pca", "--in", in)) == 2)
    assert(Cli.run(spark, Seq("pca", "--in", in, "--k", "3",
      "--model_file", modelF, "--out", tmp() + "/x")) == 2)
    assert(Cli.run(spark, Seq("pca", "--in", in, "--model_file", modelF,
      "--rotate_pq", "4", "--out", tmp() + "/y")) == 2)
    assert(Cli.run(spark, Seq("pca", "--in", in,
      "--rotate_pq", "3", "--out", tmp() + "/z")) == 2)
    // model/data dim mismatch: fail fast, not a file of nulls
    val in16 = tmp() + "/vecs16"
    (0 until 50).map(i => (i.toLong,
      Array.tabulate(16)(j => (i + j).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(in16)
    assert(Cli.run(spark, Seq("pca", "--in", in16,
      "--model_file", modelF, "--out", tmp() + "/w")) == 2)
  }
}
