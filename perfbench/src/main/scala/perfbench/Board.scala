package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** Query results dumped as parquet next to their DuckDB oracle SQL,
  * for perfbench/oracle.py to compare. */
object OracleDump {
  def dir(ctx: Ctx): String = Paths.get(ctx.opts.work, "oracle").toString

  /** Dump each named query over `data`; returns the ones that threw. */
  def write(ctx: Ctx, data: String, names: Seq[String]): Seq[String] = {
    val out = dir(ctx)
    Files.createDirectories(Paths.get(out))
    val failed = mutable.ArrayBuffer[String]()
    names.foreach { n =>
      ctx.spark.catalog.clearCache()
      try org.apache.spark.sql.perfbench.SamePlan
        .rows(SparkEntry.queries(n)(ctx.spark, data))
        .write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        failed += n
      }
    }
    ctx.spark.catalog.clearCache()
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json.value(sql).getBytes(StandardCharsets.UTF_8))
    failed.toSeq
  }
}

/** The board queries (see [[Board.Families]]) over the fixed board
  * tables, in an order permuted by the seed.  One iteration is one
  * pass; each result is consumed by a fold over
  * `queryExecution.toRdd`, which computes every output value (a
  * `count()` would let Catalyst prune them). */
final class Board(ctx: Ctx) extends Workload {
  import ctx.spark

  private val data = ctx.opts.inputs
  private val order: Seq[String] =
    new scala.util.Random(ctx.opts.seed).shuffle(Board.Families.flatMap(_._2))

  private val familyOf: Map[String, String] =
    Board.Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  private val queryS = mutable.ArrayBuffer[Double]()
  private val rows = mutable.Map[String, Long]()
  private val threw = mutable.Set[String]()
  private var attemptedQ = 0L
  private val passWalls = mutable.ArrayBuffer[Double]()

  def minIters: Int = 3
  def warmIters: Int = 1

  def prepare(): Unit = ()

  /** The first warm-up pass dumps every result for the oracle
    * comparison, through the plans the timed sink runs (see
    * `SamePlan`); the second is an untimed pass like the timed ones
    * (the first pass after the dump still runs ~20% slower). */
  override def warmup(): Seq[Double] =
    ctx.secs(threw ++= OracleDump.write(ctx, data, order)) +: super.warmup()

  private def fold(df: DataFrame): Long =
    df.queryExecution.toRdd.map(_ => 1L).fold(0L)(_ + _)

  def iteration(i: Int, traced: Boolean): Iter = {
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    val jobs = mutable.ArrayBuffer[Double]()
    var ok = true
    val (_, m) = ctx.timed(traced) {
      order.foreach { q =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          val fn = SparkEntry.queries(q)
          val n = if (!traced) fold(fn(spark, data)) else {
            val (r, c) = ctx.counters.get.measure(resetPeak = false) {
              Trace.span("board.query", "query" -> q) {
                val (df, b) = timedS(Trace.span("board.build")(fn(spark, data)))
                val (_, p) = timedS(Trace.span("board.plan")(df.queryExecution.executedPlan))
                val (n, e) = timedS(Trace.span("board.exec")(fold(df)))
                layer("board.build_s") += b
                layer("board.plan_s") += p
                layer("board.exec_s") += e
                familyOf.get(q).foreach(f => layer(s"board.${f}_s") += e)
                n
              }
            }
            jobs += c.jobs.toDouble
            r
          }
          if (rows.get(q).exists(_ != n)) { ok = false; threw += q }
          rows(q) = n
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
          ok = false; threw += q
        }
        if (i >= 0 && !traced) queryS += (System.nanoTime() - t0) / 1e9
        attemptedQ += 1
      }
    }
    spark.catalog.clearCache()
    if (i >= 0 && !traced) passWalls += m.wallS
    if (traced) layer("board.jobs_per_query") = Stats.median(jobs.toSeq)
    Iter(m, ok, layer.toMap)
  }

  private def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def finish(traced: Boolean): Map[String, Double] = {
    // the timed passes' row counts, for the check against the dump
    Files.write(Paths.get(OracleDump.dir(ctx), "timed_rows.json"),
      Json.value(rows.toMap).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(OracleDump.dir(ctx), "threw.json"),
      Json.value(threw.toSeq.sorted).getBytes(StandardCharsets.UTF_8))
    if (!traced) Map.empty else Map(
      "board.query_s_p50" -> Stats.pct(queryS.toSeq, 0.5),
      "board.query_s_p90" -> Stats.pct(queryS.toSeq, 0.9))
  }

  def attempted: Long = attemptedQ
  def failed: Long = threw.size.toLong

  def details: Map[String, Double] = Map(
    "queries" -> order.size.toDouble,
    "query_s_p50" -> Stats.pct(queryS.toSeq, 0.5),
    "query_s_p90" -> Stats.pct(queryS.toSeq, 0.9),
    "query_samples" -> queryS.size.toDouble,
    "queries_per_s" -> order.size / Stats.median(passWalls.toSeq))

  def close(): Unit = ()
}

object Board {
  /** The board's queries, one or two per family.  The full 143-query
    * set does not fit one benchmark run: at local[4] its cold pass
    * alone takes ~97 s (Janino-compiling every plan) and a warm pass
    * ~50 s, and pass times keep falling for three passes.  Each family
    * keeps one slow case of the ROADMAP's weak set (q_kcenter,
    * q_dup_clusters, q_bloom_semi) and, where the run has room, one
    * common operator; q_minhash_lsh is approximate and is checked by
    * row count.  q_ann_ivf and q_tfidf were left out to keep a run
    * under 45 s: their cold passes cost ~3 s and ~5 s. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "similarity" -> Seq("q_kcenter"),
    "dedup" -> Seq("q_minhash_lsh", "q_dup_clusters"),
    "text" -> Seq("q_bpe_encode"),
    "idset" -> Seq("q_semi_idlist", "q_bloom_semi"),
    "spine" -> Seq("q1_agg", "q_join_agg"))
}
