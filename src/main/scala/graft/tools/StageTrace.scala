package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Diagnostic aid: run one gate query (Bench's exact measurement — noop
  * write of the top-Sort-stripped plan) and print per-stage wall time,
  * summed task time, shuffle read/write bytes and record counts, so the
  * expensive exchange/stage of a slow gate can be pinpointed without the
  * Spark UI. Usage: runMain graft.tools.StageTrace <name> <sfDir> [reps]
  */
object StageTrace {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          s <- si.submissionTime; e <- si.completionTime
        } yield (e - s) / 1e3).getOrElse(-1.0)
        println(f"[stage] ${si.stageId}%4d wall=$wall%6.2fs " +
          f"task=${m.executorRunTime / 1e3}%7.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%7.2fs " +
          f"gc=${m.jvmGCTime / 1e3}%6.2fs " +
          f"in=${m.inputMetrics.recordsRead}%9d " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1024}%8dKB/${m.shuffleReadMetrics.recordsRead}%9d " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten / 1024}%8dKB/${m.shuffleWriteMetrics.recordsWritten}%9d " +
          f"tasks=${si.numTasks}%4d  ${si.name.takeWhile(_ != '\n').take(60)}")
      }
    })
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      println(s"[stagetrace] ---- $name rep $i ----")
      val t0 = System.nanoTime()
      Bench.stripTopSort(spark, fn(spark, sfDir))
        .write.mode("overwrite").format("noop").save()
      Thread.sleep(500) // listener bus is async
      println(f"[stagetrace] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
