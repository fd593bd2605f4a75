package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cli.Cli
import graft.functions.{Bpe, TextFunctions => TF}
import graft.pipeline.Curation

/** `graft curate --bpe_merges 200 --pack 512` over a generated corpus,
  * into a fresh output directory per iteration.  Every iteration must
  * reproduce the first one's stage counts and output digest. */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark

  private val corpus = ctx.opts.inputs
  private val Merges = 200
  private val Pack = 512
  private var docs = 0L
  private var first: Option[(Seq[(String, Long)], String)] = None
  private var iters, bad = 0L
  private val OracleQueries = Seq("q_curation_docs", "q_curation_pipeline")
  private val walls = scala.collection.mutable.ArrayBuffer[Double]()

  def minIters: Int = 4
  def warmIters: Int = 4

  def prepare(): Unit =
    docs = spark.read.parquet(corpus).count()

  private def stageCounts(out: String): Seq[(String, Long)] =
    "([a-z_]+)=([0-9]+)".r.findAllMatchIn(out)
      .map(m => m.group(1) -> m.group(2).toLong).toSeq

  private def digest(df: DataFrame): String = df.select(count(lit(1)),
    sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
    .head().mkString(":")

  def iteration(i: Int, traced: Boolean): Iter = {
    val out = ctx.freshDir(s"curated-${i + 1}")
    val sink = new java.io.ByteArrayOutputStream()
    val (rc, m) = ctx.timed(traced) {
      Trace.span("cli.curate", "docs" -> docs) {
        Console.withOut(sink)(Cli.run(spark, Seq("curate", "--in", corpus,
          "--out", out, "--bpe_merges", Merges.toString,
          "--pack", Pack.toString)))
      }
    }
    // no persisted relation may survive into the next iteration
    spark.catalog.clearCache()
    val ok = rc == 0 && {
      val counts = stageCounts(sink.toString("UTF-8"))
      val d = digest(spark.read.parquet(out))
      first match {
        case None =>
          first = Some((counts, d))
          counts.nonEmpty && invariantsHold(out)
        case Some((c0, d0)) => counts == c0 && d == d0
      }
    }
    Fs.deleteTree(java.nio.file.Paths.get(out))
    iters += 1
    if (!ok) bad += 1
    if (i >= 0 && !traced) walls += m.wallS
    Iter(m, ok, Map("cli.curate_s" -> m.wallS))
  }

  /** Output ids are input ids; fingerprints are unique; token counts
    * lie in the quality window; bins are assigned by start offset, so
    * the tokens of a bin before its last document stay under --pack. */
  private def invariantsHold(out: String): Boolean = {
    val o = spark.read.parquet(out)
    val in = spark.read.parquet(corpus).select("doc_id", "text")
    val joined = o.join(in, Seq("doc_id"), "left_outer")
    val r = joined.agg(
      count(lit(1)),
      count(col("text")),
      countDistinct(md5(trim(lower(col("text"))))),
      min(col("n_tok")), max(col("n_tok"))).head()
    val bins = o.groupBy("source", "bin").agg(
      (sum(col("n_tok")) - max_by(col("n_tok"), col("doc_id"))).as("before_last"))
      .agg(max(col("before_last"))).head()
    val n = r.getLong(0)
    n > 0 && r.getLong(1) == n && r.getLong(2) == n &&
      r.getLong(3) >= 20 && r.getLong(4) <= 80 && bins.getLong(0) < Pack
  }

  def finish(traced: Boolean): Map[String, Double] = {
    // once per run: the curation queries over the same corpus, dumped
    // for the DuckDB oracle comparison in run.py
    OracleDump.write(ctx, corpus, OracleQueries)
    if (traced) probes() else Map.empty
  }

  /** Each stage's public function on a persisted, counted input. */
  private def probes(): Map[String, Double] = {
    def persisted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); (p, p.count())
    }
    def timedNoop(name: String)(df: => DataFrame): Double =
      Trace.span(name)(ctx.secs(ctx.noop(df)))
    val scanS = timedNoop("io.scan_docs")(
      spark.read.parquet(corpus).select("doc_id", "text", "source"))
    val (raw, n) = persisted(
      spark.read.parquet(corpus).select("doc_id", "text", "source"))
    var merges: Seq[Bpe.Merge] = Nil
    val learnS = Trace.span("functions.bpe_learn")(
      ctx.secs { merges = Bpe.learn(Bpe.wordFreq(raw, "text"), Merges) })
    val bpeCount = () => Bpe.docTokenCountFastCol(col("text"), merges)
    val countS = timedNoop("functions.bpe_count")(raw.select(bpeCount()))
    val statsS = timedNoop("functions.token_stats")(raw.select(
      TF.tokenCount(col("text")), TF.stopwordRatio(col("text"))))
    val qualityS = timedNoop("pipeline.quality")(
      Curation.qualityFilter(raw, 20, 80, 0.2, nTokCol = bpeCount()))
    val (q, qn) = persisted(
      Curation.qualityFilter(raw, 20, 80, 0.2, nTokCol = bpeCount()))
    val exactS = timedNoop("pipeline.exact_dedup")(Curation.exactDedup(q))
    val (e, en) = persisted(Curation.exactDedup(q))
    val lshS = timedNoop("dedup.lsh")(Curation.nearDedupLsh(e))
    val (l, ln) = persisted(Curation.nearDedupLsh(e))
    val splitS = timedNoop("pipeline.split")(Curation.keepSplit(l, "train"))
    val (s, _) = persisted(Curation.keepSplit(l, "train"))
    val packS = timedNoop("pipeline.pack")(Curation.packAssign(
      s.select(col("doc_id"), col("source"), col("n_tok").cast("long")), Pack))
    spark.catalog.clearCache()
    Map(
      "io.scan_docs_s" -> scanS,
      "functions.bpe_learn_s" -> learnS,
      "functions.bpe_count_s" -> countS,
      "functions.token_stats_s" -> statsS,
      "pipeline.quality_s" -> qualityS,
      "pipeline.exact_dedup_s" -> exactS,
      "dedup.lsh_s" -> lshS,
      "pipeline.split_s" -> splitS,
      "pipeline.pack_s" -> packS,
      "pipeline.quality_in" -> n.toDouble,
      "pipeline.quality_keep" -> qn.toDouble / n,
      "pipeline.exact_in" -> qn.toDouble,
      "pipeline.exact_keep" -> en.toDouble / math.max(qn, 1L),
      "dedup.lsh_in" -> en.toDouble,
      "dedup.lsh_keep" -> ln.toDouble / math.max(en, 1L))
  }

  def attempted: Long = iters + OracleQueries.size
  def failed: Long = bad

  def details: Map[String, Double] = Map(
    "docs" -> docs.toDouble,
    "docs_per_s" -> docs / Stats.median(walls.toSeq)) ++
    first.toSeq.flatMap(_._1).map { case (k, v) => s"stage.$k" -> v.toDouble }

  def close(): Unit = ()
}
