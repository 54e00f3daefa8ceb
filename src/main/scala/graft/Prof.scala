package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query cost report, a development tool outside the driver contract:
  *
  *   SPARK_GRAFT_ONLY=q_a,q_b sbt "runMain graft.Prof <sfDir>"
  *
  * For each query `Session.selected` picks, runs the noop write Bench
  * times and prints one line: wall time, then the jobs, stages, tasks and
  * shuffle-write MB of that run, construction-time actions included. Wall
  * time swings with host load; the counts do not. The formatted plan goes
  * to `target/plans/<q>.txt`. */
object Prof {
  final case class Report(query: String, seconds: Double, jobs: Long,
      stages: Long, tasks: Long, shuffleBytes: Long, plan: Path) {
    def line: String = f"[prof] $query: $seconds%.2f s jobs=$jobs " +
      f"stages=$stages tasks=$tasks shuffleMB=${shuffleBytes / 1e6}%.1f " +
      s"plan=$plan"
  }

  private final class Counts extends SparkListener {
    val jobs, stages, tasks, shuffleBytes = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      shuffleBytes.addAndGet(
        s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }

  def report(spark: SparkSession, sfDir: String, query: String,
             planDir: Path = Paths.get("target/plans")): Report = {
    val fn = SparkEntry.queries(query)
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    // the listener must see every event of this query and none of an
    // earlier one, so the bus is drained on both sides of the run
    GraftListenerBus.drain(sc)
    val counts = new Counts
    sc.addSparkListener(counts)
    try {
      sc.setJobDescription(query)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.mode("overwrite").format("noop").save()
      val seconds = (System.nanoTime() - t0) / 1e9
      GraftListenerBus.drain(sc)
      Files.createDirectories(planDir)
      val plan = Files.writeString(planDir.resolve(s"$query.txt"),
        df.queryExecution.explainString(FormattedMode))
      Report(query, seconds, counts.jobs.get, counts.stages.get,
        counts.tasks.get, counts.shuffleBytes.get, plan)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(counts)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir) = args
    val spark = Session.local()
    try Session.selected().keys.toSeq.sorted
      .foreach(q => println(report(spark, sfDir, q).line))
    finally spark.stop()
  }
}
