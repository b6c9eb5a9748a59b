package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the harness's calls into the program, and the
  * scheduler events of a benchmark-registered listener. Everything stays in
  * memory until the run ends. With tracing off, `span` only runs its body
  * and no listener is registered.
  *
  * All times are epoch nanoseconds, the base the listener events carry
  * (they are stamped in epoch milliseconds when Spark posts them).
  */
final class Trace(val enabled: Boolean) {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()

  private val ids = new AtomicInteger(0)
  private val spans = ArrayBuffer.empty[Seq[Any]]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  // spans opened on Spark's stream thread hang under the op the harness
  // thread has open at that moment (a loop tick)
  @volatile private var currentOp = 0
  // spans and events count from the timed phase on (set-up is not traced)
  @volatile private var active = false

  /** Time `body` as a span named `name`, child of the innermost open span
    * on this thread (or of the open op). */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled || !active) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get().headOption.getOrElse(currentOp)
      open.set(id :: open.get())
      val t0 = now()
      try body
      finally {
        val t1 = now()
        open.set(open.get().tail)
        spans.synchronized { spans += Seq(id, parent, name, tag, t0, t1) }
      }
    }

  /** An op span: the unit the end-to-end timings count. */
  def op[T](name: String, tag: String)(body: => T): T =
    if (!enabled || !active) body
    else span(name, tag) {
      currentOp = open.get().head
      try body finally currentOp = 0
    }

  private val jobs = ArrayBuffer.empty[Seq[Any]]
  private val stages = ArrayBuffer.empty[Seq[Any]]
  private val tasks = ArrayBuffer.empty[Seq[Any]]
  private val blocks = ArrayBuffer.empty[Seq[Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  @volatile private var listenerNs = 0L

  private object Listener extends SparkListener {
    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      synchronized(f)
      listenerNs += System.nanoTime() - t0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      timed(jobStart(e.jobId) = e.time * 1000000L)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobStart.remove(e.jobId).foreach(s => jobs += Seq(e.jobId, s, e.time * 1000000L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = e.stageInfo
      stages += Seq(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(0L) * 1000000L,
        s.completionTime.getOrElse(0L) * 1000000L, s.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val i = e.taskInfo
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      if (m == null)
        tasks += Seq(e.stageId, i.launchTime * 1000000L, i.duration, 0, 0, 0, 0, 0, 0, i.attemptNumber, ok)
      else
        tasks += Seq(e.stageId, i.launchTime * 1000000L, i.duration,
          m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, i.attemptNumber, ok)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blocks += Seq(System.currentTimeMillis() * 1000000L, b.memSize + b.diskSize)
    }
  }

  /** Register the listener and start recording: the start of the timed
    * phase. */
  def start(sc: SparkContext): Unit = if (enabled) {
    sc.addSparkListener(Listener)
    active = true
  }

  /** JVM collection time so far, in ms. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Drain the listener bus so every event of the run has been seen. */
  def drain(sc: SparkContext): Unit =
    if (enabled) org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)

  def record: Map[String, Any] =
    if (!enabled) Map.empty
    else Listener.synchronized {
      Map("spans" -> spans.toSeq, "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
        "tasks" -> tasks.toSeq, "blocks" -> blocks.toSeq, "listener_ns" -> listenerNs)
    }
}
