package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Per-job / per-stage wall-time breakdown of one named query: which
  * job is the expensive one, and what its stages spend. Runs the
  * board's session shape (local[$SPARK_GRAFT_CPUS], shuffle.partitions
  * = cpus, as Bench/Verify/PlanFiles) — the branch fan-out derives
  * from the session's shuffle partitions, so stage and task counts
  * only match the board's under the same core count.
  *
  * Usage: tools/run_main.sh graft.tools.JobProbe <dataDir> <q1,q2,...> */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q_tfidf_pairs"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobStart = mutable.Map[Int, Long]()
    val lines = mutable.ArrayBuffer[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lines += f"job ${e.jobId}%3d  ${(e.time - jobStart.getOrElse(e.jobId, e.time)) / 1e3}%.2f s"
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val dt = (for {a <- si.completionTime; b <- si.submissionTime}
          yield (a - b) / 1e3).getOrElse(-1.0)
        lines += f"  stage ${si.stageId}%3d ${si.numTasks}%4d tasks  $dt%.2f s  ${si.name.take(60)}"
      }
    })
    for (n <- name.split(",").map(_.trim).filter(_.nonEmpty)) {
      val fn = graft.SparkEntry.queries(n)
      fn(spark, dir).count() // warm
      // match Bench's cold-pass semantics: drop persisted relations so
      // the timed pass re-pays its materialization fills (r16 — before
      // this, a query with a persist barrier probed with the fill jobs
      // already warm, under-counting its bench-visible jobs)
      spark.catalog.clearCache()
      Bridge.drainListenerBus(spark.sparkContext); lines.clear()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      val total = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(spark.sparkContext)
      lines.foreach(println)
      println(f"TOTAL $n $total%.2f s")
    }
    spark.stop()
  }
}
