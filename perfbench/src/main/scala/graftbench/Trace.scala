package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative Spark work counters, fed by the listener bus. */
final class CountingListener extends SparkListener {
  val jobs, stages, tasks, shuffleBytes, spillBytes, inputRecords,
    outputBytes, gcMs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "shuffle_bytes" -> shuffleBytes.get, "spill_bytes" -> spillBytes.get,
    "input_records" -> inputRecords.get, "output_bytes" -> outputBytes.get,
    "gc_ms" -> gcMs.get,
    "fs_bytes_read" -> Trace.fsBytesRead(),
    "fs_bytes_written" -> Trace.fsBytesWritten()
  ).map { case (k, v) => k -> v.toDouble }
}

/** One layer call: name, interval, the span that caused it, the benchmark
  * operation it belongs to, and the Spark/FS counts it accrued.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into the engine's layers. In a traced run the
  * listener is registered; while `active`, `span` drains the listener bus at
  * both ends of its body and records the counter deltas, otherwise it only
  * runs the body. Spans stay in memory until the run writes them out.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = new CountingListener
  if (enabled) spark.sparkContext.addSparkListener(listener)
  var active: Boolean = enabled
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextOp = 0
  private var nextSpan = 0

  /** A fresh operation id; spans opened under it share it. */
  def newOp(): Int = { nextOp += 1; nextOp }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!active) body
    else {
      ListenerBusAccess.drain(spark.sparkContext)
      val before = listener.snapshot()
      nextSpan += 1
      val id = nextSpan
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        ListenerBusAccess.drain(spark.sparkContext)
        val after = listener.snapshot()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1,
          after.map { case (k, v) => k -> (v - before(k)) })
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Trace {
  private def fileStats = FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file")

  def fsBytesRead(): Long = fileStats.map(_.getBytesRead).sum
  def fsBytesWritten(): Long = fileStats.map(_.getBytesWritten).sum

  def sum(spans: Seq[Span], key: String): Double =
    spans.map(_.counts.getOrElse(key, 0.0)).sum
  def seconds(spans: Seq[Span]): Double = spans.map(_.seconds).sum
}

/** The live heap at the run's checkpoints: collect twice (so objects
  * Spark's ContextCleaner releases after the first collection are gone
  * too), then read the heap in use. Checkpoints sit between timed
  * operations, so the collections they force are never timed. A peak read
  * between collections would depend on when the collector last ran, and
  * the largest checkpoint on whether an asynchronous unpersist had
  * finished; the median of the checkpoints depends on neither.
  */
object LiveHeap {
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]

  def checkpoint(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    samples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Median over the checkpoints, in MiB. */
  def megabytes: Double = Layers.median(samples.toSeq)
}
