package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {

  test("saltedAgg produces the same totals as a direct groupBy") {
    import spark.implicits._
    // heavy skew: 90% of rows share one key
    val df = (0 until 10000).map(i =>
      (if (i % 10 == 0) s"k${i % 7}" else "HOT", i.toLong)).toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val salted = Scale.saltedAgg(df, col("k"), saltBuckets = 8,
        partial = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
        finals = Seq(sum("ps").as("s"), sum("pn").as("n")))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(salted == direct)
  }

  test("saltedJoin matches a plain join on skewed data") {
    import spark.implicits._
    val fact = (0 until 5000).map(i =>
      (if (i % 5 == 0) i % 23 else 7, i.toLong)).toDF("key", "v") // key 7 is hot
    val dim = (0 until 23).map(k => (k, s"name$k")).toDF("key", "name")
    val plain = fact.join(dim, Seq("key")).agg(count(lit(1)), sum("v"))
      .collect().head
    val salted = Scale.saltedJoin(fact, dim, "key", saltBuckets = 8)
      .agg(count(lit(1)), sum("v")).collect().head
    assert(plain.getLong(0) == salted.getLong(0))
    assert(plain.getLong(1) == salted.getLong(1))
  }

  test("skewProfile surfaces the hot key first") {
    import spark.implicits._
    val df = (0 until 1000).map(i =>
      (if (i % 4 == 0) s"k$i" else "HOT", i)).toDF("k", "v")
    val top = Scale.skewProfile(df, col("k"), topN = 1).collect().head
    assert(top.getString(0) == "HOT")
    assert(top.getLong(1) == 750L)
  }

  test("writeBucketedDir → readBucketedDir: sidecar re-registers; join is exchange-free; plain readers see the same rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bktdir").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (0 until 3000).map(i => (i.toLong, s"a$i")).toDF("id", "a")
      val b = (0 until 3000).map(i => (i.toLong, s"b$i")).toDF("id", "b")
      Scale.writeBucketedDir(a, s"$dir/a", "id", buckets = 4)
      Scale.writeBucketedDir(b, s"$dir/b", "id", buckets = 4)
      assert(new java.io.File(s"$dir/a", Scale.BucketSidecar).isFile)
      val ra = Scale.readBucketedDir(spark, s"$dir/a").get
      val rb = Scale.readBucketedDir(spark, s"$dir/b").get
      val joined = ra.join(rb, Seq("id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-registered bucketed join still shuffles:\n$plan")
      assert(joined.count() == 3000)
      // a reader that ignores the sidecar gets the identical rows as
      // plain parquet (bucketing only ADDS information)
      val plain = spark.read.parquet(s"$dir/a")
      assert(plain.collect().map(_.toString).sorted.toSeq ==
        a.collect().map(_.toString).sorted.toSeq)
      // a sidecar-less directory is not a bucketed layout
      assert(Scale.readBucketedDir(spark, s"$dir/nope").isEmpty)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("shipped spine queries route over a bucketed layout: identical rows, zero join-key exchanges") {
    // a miniature testdata dir: symlink the sf0.001 tables the three
    // spine queries read, then write the ingest layout next to them
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("bktsf").toString
    for (tbl <- Seq("lineitem", "orders", "customer", "nation"))
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$tbl.parquet"),
        java.nio.file.Paths.get(s"$sf/$tbl.parquet"))
    val spine = Seq("q_join_agg", "q_semi_idlist", "q_anti_missing",
      "q_except_ids", "q_intersect_ids")
    // keep the spine joins real even at this tiny scale: the branch
    // sessions fork from the caller's session and copy its conf, so a
    // fresh session with broadcast joins off plans every spine query
    // under that setting (the branch cache is keyed by the session)
    val noBroadcast = spark.newSession()
    noBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def run(q: String) = graft.SparkEntry.queries(q)(noBroadcast, dir)
    val before = spine.map(q => q -> run(q).collect().map(_.toString).toSeq)
    graft.tools.BucketIngest.write(spark, dir, buckets = 4)
    for ((q, plainRows) <- before) {
      val routed = run(q)
      val plan = routed.queryExecution.executedPlan.toString
      // the layout carries the bucket metadata into the plan...
      assert(plan.contains("SelectedBucketsCount") ||
        plan.contains("Bucketed: true"), s"$q not reading buckets:\n$plan")
      // ...and the join key never exchanges on the bucketed route
      // `id` is the EXCEPT/INTERSECT spine's alias of the bucket key
      val exchanges = "Exchange hashpartitioning\\((l_orderkey|o_orderkey|id)"
        .r.findAllIn(plan).size
      assert(exchanges == 0, s"$q exchanges on the bucketed route:\n$plan")
      assert(routed.collect().map(_.toString).toSeq == plainRows,
        s"$q diverged between plain and bucketed routes")
    }
  }

  test("bucketed join plans without a shuffle (co-located)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (0 until 2000).map(i => (i.toLong, s"a$i")).toDF("id", "a")
      val b = (0 until 2000).map(i => (i.toLong, s"b$i")).toDF("id", "b")
      Scale.writeBucketed(a, "bucketed_a", "id", buckets = 4)
      Scale.writeBucketed(b, "bucketed_b", "id", buckets = 4)
      val joined = Scale.bucketedJoin(spark, "bucketed_a", "bucketed_b", "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 2000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("the layout machinery works through filesystem URIs (Hadoop FS, not java.io)") {
    import spark.implicits._
    // file:// is the in-sandbox stand-in for hdfs://-style storage: a
    // java.io.File of this string is NOT a valid local path, so every
    // assert below fails unless the sidecar write/read, fingerprint,
    // and LOCATION all go through the Hadoop filesystem API
    val local = java.nio.file.Files.createTempDirectory("bkturi")
    val dir = "file://" + local.resolve("layout").toString
    val src = "file://" + local.resolve("src.parquet").toString
    val df = (0 until 300).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.write.parquet(src)
    val fp = Scale.sourceFingerprint(src)
    assert(fp.nonEmpty && fp == Scale.sourceFingerprint(src)) // stable
    Scale.writeBucketedDir(spark.read.parquet(src), dir, "id", buckets = 2,
      sourceFp = Some(fp))
    assert(Scale.hasSidecar(dir))
    assert(Scale.sidecarSourceFp(dir).contains(fp))
    spark.sql(s"DROP TABLE IF EXISTS ${Scale.bucketTableName(dir)}")
    val back = Scale.readBucketedDir(spark, dir).get
    assert(back.count() == 300)
    // and the URI path did not absolutize into a bogus local path
    assert(Scale.canonicalPath(dir) == dir)
  }

  test("readBucketedDir registers a LOCATION containing a single quote") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("bktq")
    val dir = base.resolve("o'brien data").toString
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Scale.writeBucketedDir(df, dir, "id", buckets = 2)
    // force the CREATE TABLE ... LOCATION path (the write already
    // registered the table; drop it so the sidecar re-registration —
    // the quoted-SQL branch — actually runs)
    spark.sql(s"DROP TABLE IF EXISTS ${Scale.bucketTableName(dir)}")
    val back = Scale.readBucketedDir(spark, dir).get
    assert(back.count() == 100)
  }

  test("bucketedTable falls back to the plain route when the source was rewritten (sidecar fingerprint)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bktfp").toString
    val src = s"$dir/lineitem.parquet"
    (0 until 500).map(i => (i.toLong, i * 2.0)).toDF("l_orderkey", "x")
      .write.parquet(src)
    Scale.writeBucketedDir(
      spark.read.parquet(src), s"$dir/_bucketed/lineitem", "l_orderkey", 2,
      sourceFp = Some(Scale.sourceFingerprint(src)))
    // matching source: the layout is routed
    assert(graft.QueriesCommon.bucketedTable(spark, dir, "lineitem").isDefined)
    // regenerate the source (different rows → different file sizes):
    // the stale layout must NOT be served
    (0 until 600).map(i => (i.toLong, i * 3.0)).toDF("l_orderkey", "x")
      .write.mode("overwrite").parquet(src)
    assert(graft.QueriesCommon.bucketedTable(spark, dir, "lineitem").isEmpty,
      "stale bucketed layout was routed after a source rewrite")
    // a sidecar WITHOUT a fingerprint (pre-round-11 ingest, or a
    // layout that IS the primary copy) keeps routing
    Scale.writeBucketedDir(
      spark.read.parquet(src), s"$dir/_bucketed/orders", "l_orderkey", 2)
    assert(graft.QueriesCommon.bucketedTable(spark, dir, "orders").isDefined)
  }

  test("sourceFingerprint memoizes the walk on the root's shallow listing (one walk per change, not per query)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fpmemo").toString
    val src = s"$dir/t.parquet"
    (0 until 200).map(i => (i.toLong, i * 2.0)).toDF("id", "x")
      .write.parquet(src)
    Scale.invalidateFingerprints()
    val w0 = Scale.fingerprintWalks.get()
    val fp1 = Scale.sourceFingerprint(src)
    assert(Scale.fingerprintWalks.get() == w0 + 1)
    // repeated calls (the per-query freshness check) serve the cache:
    // one O(1) non-recursive root listing each, ZERO recursive walks
    (1 to 5).foreach(_ => assert(Scale.sourceFingerprint(src) == fp1))
    assert(Scale.fingerprintWalks.get() == w0 + 1,
      "every freshness check re-walked the source — the memoization is dead")
    // a regeneration (delete + recreate, what Spark overwrite does)
    // updates the root dir status → exactly one more walk, new
    // fingerprint. Bump the dir mtime explicitly so the test can't
    // flake on same-millisecond rewrites (real regens take >1ms).
    (0 until 300).map(i => (i.toLong, i * 3.0)).toDF("id", "x")
      .write.mode("overwrite").parquet(src)
    new java.io.File(src).setLastModified(System.currentTimeMillis() + 5000)
    val fp2 = Scale.sourceFingerprint(src)
    assert(fp2 != fp1, "regenerated source kept its fingerprint")
    assert(Scale.fingerprintWalks.get() == w0 + 2)
    // and the mid-session regeneration still flips the ROUTE: a layout
    // fingerprinted against the old source must fall back
    Scale.writeBucketedDir(spark.read.parquet(src),
      s"$dir/_bucketed/t", "id", 2, sourceFp = Some(fp1))
    assert(graft.QueriesCommon.bucketedTable(spark, dir, "t").isEmpty,
      "stale layout routed from the memoized fingerprint path")
  }

  test("fingerprint memo invalidates on a child change even when the root directory's own status is synthetic (object-store shape)") {
    // object stores (s3a) synthesize directory statuses with mtime 0,
    // so a memo keyed on the root's OWN status would be a constant
    // there and could never invalidate. Simulate the synthetic shape
    // by pinning the root mtime to 0: the key must fall back to the
    // shallow listing and see the child mutation.
    val dir = java.nio.file.Files.createTempDirectory("fpshallow")
    val child = dir.resolve("data.parquet")
    java.nio.file.Files.write(child, Array.fill[Byte](64)(1))
    assert(dir.toFile.setLastModified(0L),
      "cannot pin dir mtime on this filesystem")
    Scale.invalidateFingerprints()
    val w0 = Scale.fingerprintWalks.get()
    val fp1 = Scale.sourceFingerprint(dir.toString)
    assert(Scale.fingerprintWalks.get() == w0 + 1)
    // cached while nothing changes (the listing key is stable)
    assert(Scale.sourceFingerprint(dir.toString) == fp1)
    assert(Scale.fingerprintWalks.get() == w0 + 1)
    // in-place rewrite of the child: same name, same length, new
    // mtime; root dir mtime pinned back to the synthetic 0
    java.nio.file.Files.write(child, Array.fill[Byte](64)(2))
    assert(child.toFile.setLastModified(
      System.currentTimeMillis() + 5000))
    assert(dir.toFile.setLastModified(0L))
    val fp2 = Scale.sourceFingerprint(dir.toString)
    assert(Scale.fingerprintWalks.get() == w0 + 2,
      "child mutation invisible: the memo key ignores the root's immediate children")
    assert(fp2 != fp1, "regenerated child kept its fingerprint")
  }

  test("sidecar/fingerprint/size reads resolve their filesystem with the SESSION Hadoop conf (session FS settings reach reads, not just writes)") {
    import spark.implicits._
    // a scheme that exists ONLY in the session conf: resolvable iff the
    // read path consults the session's `newHadoopConf()` (which folds
    // runtime-set Hadoop keys in), exactly like s3a credentials or a
    // custom FS impl supplied per session on a real deployment
    spark.conf.set("fs.graftprobe.impl", classOf[GraftProbeFs].getName)
    val local = java.nio.file.Files.createTempDirectory("fsconf")
    val srcLocal = local.resolve("t.parquet").toString
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.parquet(srcLocal)
    val probeSrc = "graftprobe://" + srcLocal
    // a bare Configuration (the pre-r13 read path) cannot resolve it
    intercept[java.io.IOException] {
      new org.apache.hadoop.fs.Path(probeSrc)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
    }
    // fingerprint: resolves through the session conf, and the
    // descriptor (relative paths) is identical to the local walk
    Scale.invalidateFingerprints()
    assert(Scale.sourceFingerprint(probeSrc) ==
      Scale.sourceFingerprint(srcLocal))
    // sidecar read trio: write locally, read through the scheme
    val layoutLocal = local.resolve("layout").toString
    Scale.writeBucketedDir(spark.read.parquet(srcLocal), layoutLocal,
      "id", 2, sourceFp = Some(Scale.sourceFingerprint(srcLocal)))
    val probeLayout = "graftprobe://" + layoutLocal
    assert(Scale.hasSidecar(probeLayout))
    assert(Scale.sidecarSourceFp(probeLayout) ==
      Scale.sidecarSourceFp(layoutLocal))
    // the at-scale gate's byte stat resolves the same way
    assert(graft.QueriesCommon.tableBytes("graftprobe://" + local, "t") > 0L)
  }
}

/** RawLocalFileSystem under a private scheme — the in-sandbox stand-in
  * for "an FS whose wiring lives only in `spark.hadoop.*`" (s3a with
  * session credentials, a custom FS impl). */
class GraftProbeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftprobe"
  override def getUri: java.net.URI = java.net.URI.create("graftprobe:///")
}
