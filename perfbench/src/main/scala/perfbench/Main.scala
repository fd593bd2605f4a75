package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, inputs: String, work: String,
    result: String, plant: Option[String])

/** One timed block: wall and process-CPU seconds, and the Spark
  * counters it moved (traced runs only). */
final case class Measure(wallS: Double, cpuS: Double,
    counters: Option[SparkCounters])

final case class Iter(m: Measure, ok: Boolean, layers: Map[String, Double])

final class Ctx(val spark: SparkSession, val opts: Opts,
    val counters: Option[Counters]) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Time `body`; with `traced` also record its Spark counter deltas. */
  def timed[T](traced: Boolean)(body: => T): (T, Measure) = {
    def run(): (T, Double, Double) = {
      val c0 = cpuNs
      val t0 = System.nanoTime()
      val r = body
      ((r, (System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9))
    }
    counters.filter(_ => traced) match {
      case Some(c) =>
        val ((r, w, cpu), d) = c.measure()(run())
        (r, Measure(w, cpu, Some(d)))
      case None =>
        val (r, w, cpu) = run()
        (r, Measure(w, cpu, None))
    }
  }

  /** Wall seconds of `body` (for set-up and isolated layer calls). */
  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** A fresh directory under the run's work dir. */
  def freshDir(name: String): String = {
    val p = Paths.get(opts.work, name)
    Fs.deleteTree(p)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Consume every value of `df` (no column pruning, unlike count()). */
  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** A closed-loop workload with one client: the next iteration starts
  * when the previous one (including its correctness check) is done. */
trait Workload {
  /** Smallest number of timed iterations in an untraced run. */
  def minIters: Int
  /** Untimed iterations before the first timed one.  Iteration times
    * fall for the first few iterations of a fresh JVM (JIT tiers, and
    * Spark's codegen cache filling); these are set-up. */
  def warmIters: Int
  /** The repeatable part of set-up.  A traced run repeats it twice
    * more, for the median of a layer metric that times it; set-up time
    * counts the first run only. */
  def prepare(): Unit
  def warmup(): Seq[Double] =
    (1 to warmIters).map(k => iteration(-k, traced = false).m.wallS)
  def iteration(i: Int, traced: Boolean): Iter
  /** Once-per-run checks, and the isolated layer calls when traced. */
  def finish(traced: Boolean): Map[String, Double]
  /** Operations attempted and failed (rows, iterations or queries). */
  def attempted: Long
  def failed: Long
  /** Workload-specific end-to-end figures for the summary line. */
  def details: Map[String, Double]
  def close(): Unit
}

object Fs {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def sizeAndFiles(dir: String, suffix: String): (Long, Int) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      (fs.map(Files.size).sum, fs.length)
    } finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --cores C --inputs DIR --work DIR --result FILE`.
  * Writes a JSON result file that perfbench/run.py turns into the
  * contract line; the spans of a traced run go next to it. */
object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cores").toInt, m("inputs"),
      m("work"), m("result"), m.get("plant"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(opts.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(opts.work, "warehouse").toString)
      // the 143 board plans overflow the default 100-entry codegen cache
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runId = s"${opts.workload}-${opts.seed}-${jvmStartMs}"
    Trace.enable(false)
    val counters = if (opts.trace) Some(new Counters(spark)) else None
    val ctx = new Ctx(spark, opts, counters)
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val wl: Workload = opts.workload match {
      case "migrate" => new Migrate(ctx)
      case "curate" => new Curate(ctx)
      case "board" => new Board(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    var code = 0
    try {
      val prepS = (1 to (if (opts.trace) 3 else 1)).map(_ => ctx.secs(wl.prepare()))
      var warmWalls = Seq.empty[Double]
      val warmS = ctx.secs { warmWalls = wl.warmup() }
      // set-up as one process pays it: JVM start to the first timed
      // iteration, the repeated set-up counted once
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - prepS.tail.sum

      // a traced run interleaves untraced and traced iterations in the
      // order U T T U U T T U ..., so that both sides sit equally early
      // and late (a fresh JVM keeps speeding up over many iterations)
      // and the tracing overhead is a difference at equal warmth
      val minIters =
        if (opts.trace) 4 * math.max(1, (wl.minIters + 3) / 4) else wl.minIters
      val all = scala.collection.mutable.ArrayBuffer[(Iter, Boolean)]()
      val t0 = System.nanoTime()
      while (all.size < minIters || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
        val traced = opts.trace && (all.size % 4 == 1 || all.size % 4 == 2)
        Trace.enable(traced)
        all += ((Trace.span("iteration", "i" -> all.size)(
          wl.iteration(all.size, traced)), traced))
      }
      val plain = all.collect { case (i, false) => i }.toSeq
      val traced = all.collect { case (i, true) => i }.toSeq
      Trace.enable(opts.trace)
      var finish = Map.empty[String, Double]
      val finishS = ctx.secs { finish = Trace.span("finish")(wl.finish(opts.trace)) }

      val walls = plain.map(_.m.wallS)
      val layers = if (!opts.trace) Map.empty[String, Double] else {
        val med = (f: Iter => Double) => Stats.median(traced.map(f))
        def c(f: SparkCounters => Double) = med(i => f(i.m.counters.get))
        val mb = 1024.0 * 1024.0
        val tw = med(_.m.wallS)
        val spark = Map(
          "spark.jobs" -> c(_.jobs.toDouble),
          "spark.stages" -> c(_.stages.toDouble),
          "spark.tasks" -> c(_.tasks.toDouble),
          "spark.executor_cpu_s" -> c(_.executorCpuNs / 1e9),
          "spark.executor_run_s" -> c(_.executorRunMs / 1e3),
          "spark.gc_s" -> c(_.gcMs / 1e3),
          "spark.shuffle_write_mb" -> c(_.shuffleWriteBytes / mb),
          "spark.shuffle_read_mb" -> c(_.shuffleReadBytes / mb),
          "spark.spill_mb" -> c(_.spillBytes / mb),
          "spark.input_mb" -> c(_.inputBytes / mb),
          "spark.output_mb" -> c(_.outputBytes / mb),
          "spark.peak_exec_mem_mb" ->
            traced.map(_.m.counters.get.peakExecMem / mb).max,
          "spark.scheduler_wait_s" -> c(_.schedulerWaitMs / 1e3),
          "spark.sql_executions" -> c(_.sqlExecutions.toDouble),
          "spark.busy_share" -> med(i =>
            i.m.counters.get.executorRunMs / 1e3 / (i.m.wallS * opts.cores)),
          "trace.untraced_wall_s" -> Stats.median(walls),
          "trace.traced_wall_s" -> tw,
          "trace.overhead_s" -> (tw - Stats.median(walls)))
        val perIter = traced.flatMap(_.layers.keys).distinct
          .map(k => k -> med(_.layers.getOrElse(k, Double.NaN))).toMap
        spark ++ perIter ++ finish
      }
      val result = Json.obj(Seq(
        "workload" -> opts.workload,
        "seed" -> opts.seed,
        "cores" -> opts.cores,
        "setup_s" -> setupS,
        "boot_s" -> bootS,
        "prepare_s" -> prepS,
        "warmup_s" -> warmS,
        "warmup_walls" -> warmWalls,
        "finish_s" -> finishS,
        "wall_s" -> walls,
        "cpu_s" -> plain.map(_.m.cpuS),
        "iterations" -> all.size,
        "iterations_failed" -> all.count(!_._1.ok),
        "attempted" -> wl.attempted,
        "failed" -> wl.failed,
        "peak_rss_mb" -> vmHwmMb(),
        "details" -> wl.details,
        "layers" -> layers))
      Files.write(Paths.get(opts.result), result.getBytes(StandardCharsets.UTF_8))
      if (opts.trace)
        Files.write(Paths.get(opts.result + ".spans.json"),
          Trace.sidecar(runId).getBytes(StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${opts.workload} failed: $e")
        e.printStackTrace()
        code = 1
    } finally {
      try wl.close() finally spark.stop()
    }
    if (code != 0) sys.exit(code)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
