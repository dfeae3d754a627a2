package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's own calls into each layer. Kept in
  * memory; the run writes them out when it ends. Off in untraced runs, where
  * `apply` is a plain call. */
object Spans {
  final case class Span(id: Int, name: String, parent: Int, op: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  @volatile var on = false
  var op = ""
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        done += Span(id, name, parent, op, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** Jobs, stages, tasks, shuffle and spill from a SparkListener, plus the
  * bytes held in RDD blocks (checkpoints and persisted frames). */
final class ExecListener extends SparkListener {
  var jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill = 0L
  var blockBytes, blockPeak = 0L
  private val jobStart = mutable.Map[Int, Long]()
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val blocks = mutable.Map[String, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }
  def resetPeak(): Unit = synchronized { blockPeak = blockBytes }
}

/** Catalyst phase times and plan size of every executed query. */
final class PlanListener extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs, planNodes = 0L
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(phase: String): Long = p.get(phase).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    planNodes += qe.optimizedPlan.collectWithSubqueries { case n => n }.size
  }
}

/** Counts ERROR events and events carrying an exception, whatever the
  * logger, without changing what the program logs. */
object ErrorLog {
  val count = new AtomicLong()
  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val appender = new AbstractAppender("perfbench-error-count", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR) || e.getThrown != null)
          count.incrementAndGet()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }
}

/** JVM-wide figures: GC and JIT time, and the peak heap in use right after a
  * collection (the live set plus what that collection left behind). */
object Jvm {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  val heapAfterGcPeak = new AtomicLong()

  def install(): Unit = {
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          heapAfterGcPeak.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
}
