package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** What a block of code ran, as a `SparkListener` saw it: the number of
  * jobs, the records read by each stage whose lineage holds a `JDBCRDD`
  * (a read of the source database), and the number of stages that wrote
  * shuffle records (a stage whose shuffle output is reused is skipped and
  * not counted). */
final case class JobTrace(jobs: Int, jdbcStageRecords: Seq[Long],
                          shuffleWriteStages: Int)

object JobTrace {
  private val Marker = "graft.JobTrace.marker"

  /** Runs `body` and traces it. Listener events arrive asynchronously but in
    * order, so a marker job run after `body` flushes them: once its end is
    * seen, every earlier event has been delivered. */
  def of[T](spark: SparkSession)(body: => T): (T, JobTrace) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val jdbc = new ConcurrentLinkedQueue[Long]
    val shuffleWrites = new AtomicInteger
    val markerId = new AtomicInteger(-1)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker))
          markerId.set(e.jobId)
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId.get) flushed.countDown()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val metrics = e.stageInfo.taskMetrics
        if (e.stageInfo.rddInfos.exists(_.name == "JDBCRDD"))
          jdbc.add(metrics.inputMetrics.recordsRead)
        if (metrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleWrites.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, JobTrace(jobs.get, jdbc.asScala.toSeq, shuffleWrites.get))
    } finally sc.removeSparkListener(listener)
  }
}
