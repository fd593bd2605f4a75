package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.Scale

/** One-time warehouse layout for a testdata directory: write the join
  * SPINE tables (lineitem, orders) bucketed by orderkey under
  * `<dir>/_bucketed/…`, the layout `QueriesCommon.bucketedTable` routes
  * the shipped q_join_agg / q_semi_idlist / q_anti_missing over. This
  * is the productized form of round-9's BucketSpineProbe (a probe main
  * since retired): the probes
  * established that the whole single-JVM residue of those spines at
  * 15.7 GiB is the orderkey exchange itself (zero spill, shuffle at its
  * semantic minimum), and a cluster removes that exchange by LAYOUT —
  * bucket the fact tables once at ingest, join shuffle-free forever
  * after (`vdb_export_cls.py:67-99` is the ingest moment the reference
  * has for the same decision).
  *
  * Columns: the spine layouts carry the union of what the three spine
  * queries read — every other query keeps the plain parquet route, and
  * parquet column pruning means the shared layout costs neither tail
  * anything at read time.
  *
  * Usage: runMain graft.tools.BucketIngest <dir> [buckets]
  */
object BucketIngest {
  /** The spine layout (li + orders) under `<dir>/_bucketed`. */
  def write(spark: SparkSession, dir: String, buckets: Int): Unit = {
    // record the source fingerprint so a later source regen makes
    // bucketedTable fall back to the plain route instead of silently
    // serving the stale layout
    Scale.writeBucketedDir(
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice", "l_discount",
          "l_returnflag", "l_quantity"),
      s"$dir/_bucketed/lineitem", "l_orderkey", buckets,
      sourceFp = Some(Scale.sourceFingerprint(s"$dir/lineitem.parquet")))
    Scale.writeBucketedDir(
      spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderpriority",
          "o_orderstatus"),
      s"$dir/_bucketed/orders", "o_orderkey", buckets,
      sourceFp = Some(Scale.sourceFingerprint(s"$dir/orders.parquet")))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error(
      "usage: BucketIngest <dir> [buckets]"))
    val buckets = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    write(spark, dir, buckets)
    println(f"# bucketed spine layout written under $dir/_bucketed " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      "(one-time; a warehouse pays this at ingest)")
    spark.stop()
  }
}
