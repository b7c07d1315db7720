package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** In-memory span recorder. A span is (name, start, end, parent, op):
  * `op` is the unit of work (report set, refresh) the span belongs to.
  * Disabled, `apply` only evaluates its body. Spans are kept in memory
  * and written out once, when the run ends. Driver-thread only. */
final class Trace(var enabled: Boolean) {
  private final case class Span(id: Int, name: String, start: Long, end: Long,
                                parent: Int, op: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private val epoch = System.nanoTime()
  var op: Long = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0 - epoch, System.nanoTime() - epoch, parent, op)
      }
    }

  def size: Int = spans.size

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        f""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

/** Task, stage and job counters from the listener bus. Read them only
  * after [[Counters.drain]], since the bus delivers asynchronously. */
final class Counters extends SparkListener {
  val cpuNs, gcMs, shuffleWrite, spill, jobs, stages, tasks = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  def snapshot: Map[String, Long] = Map(
    "fs_read" -> Counters.fsBytesRead, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get, "jobs" -> jobs.get,
    "stages" -> stages.get, "tasks" -> tasks.get)
}

object Counters {
  /** Bytes read through Hadoop's local filesystem by every thread of
    * this JVM (executors run in-process): the raw input bytes, whatever
    * the reader reports to Spark's task metrics. */
  def fsBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a(k)) }

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}
