package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed specs (one JVM-wide session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `body` on a fresh directory under `java.io.tmpdir` whose name
    * starts with `prefix`, and deletes it with everything below it when
    * `body` returns or throws.
    */
  protected def tempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }
  }

  /** Jobs `body` starts and shuffle-map stages it runs (stages that write
    * shuffle output), counted by a SparkListener on the job group `body`
    * runs in. The listener bus is asynchronous but delivers in order, so
    * once a later marker job's end is seen, every event of `body` has been
    * too.
    */
  protected def traced(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"traced-${java.util.UUID.randomUUID()}"
    val (jobs, shuffleStages, markerJob) =
      (new AtomicInteger, new AtomicInteger, new AtomicInteger(-1))
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new CountDownLatch(1)
    def groupOf(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-marker" => markerJob.set(e.jobId)
          case _ =>
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId) &&
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
    } finally sc.removeSparkListener(listener)
    (jobs.get, shuffleStages.get)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
