package graft.betfair

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession

/** The Spark work one block of code caused: the jobs it started, the stages
  * it ran, and the local-filesystem bytes it read.
  */
final case class SparkWork(jobs: Int, stages: Seq[StageInfo], bytesRead: Long) {

  /** Stages that computed an RDD created in the named source file. */
  def stagesFrom(sourceFile: String): Seq[StageInfo] =
    stages.filter(_.rddInfos.exists(_.callSite.contains(sourceFile)))
}

object SparkWork {
  private def bytesRead: Long = FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file").map(_.getBytesRead).sum

  def of[T](spark: SparkSession)(body: => T): (T, SparkWork) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = ArrayBuffer.empty[StageInfo]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized(stages += e.stageInfo)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val read0 = bytesRead
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, SparkWork(jobs.get, stages.synchronized(stages.toSeq), bytesRead - read0))
    } finally sc.removeSparkListener(listener)
  }
}
