package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftShim

/** One timed interval of the run. Kinds form the tree
  * workload > pass > op > phase (build / plan / action, or
  * probe / append / compact) > job > stage; each span names its parent
  * and carries the counters measured inside it. */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v
}

/** JVM-wide counters read through the MX beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def cpuS: Double = os.getProcessCpuTime / 1e9
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peaks since the last reset (an upper bound
    * on the heap's peak: pools may peak at different moments). */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Generated classes Spark has compiled in this JVM. */
  def codegenCompiles: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  /** Heap in use right after a full collection, in MB: the memory the
    * program still holds, whatever heap size the collector chose. The
    * listener bus is drained first, so no queued event holds a plan.
    * A collection makes Spark's ContextCleaner release the broadcast,
    * shuffle and RDD blocks of unreachable objects, on its own thread:
    * the heap is read after a second collection, once the cleaner has
    * taken every reference the first one cleared. */
  def liveHeapMb(spark: SparkSession): Double = {
    GraftShim.drainListenerBus(spark, 120000L)
    System.gc()
    awaitCleaner(spark, 120000L)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Polls until no reference the ContextCleaner tracks has been cleared
    * without being cleaned. The cleaner is `private[spark]`; it is
    * reached by reflection. */
  private def awaitCleaner(spark: SparkSession, timeoutMs: Long): Unit = {
    val sc = spark.sparkContext
    val cleaner = sc.getClass.getMethod("cleaner").invoke(sc).asInstanceOf[Option[AnyRef]]
    cleaner.foreach { c =>
      val f = c.getClass.getDeclaredField("referenceBuffer")
      f.setAccessible(true)
      val refs = f.get(c).asInstanceOf[java.util.Set[java.lang.ref.Reference[_]]]
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (refs.asScala.exists(_.get == null)) {
        if (System.nanoTime() > deadline) sys.error("ContextCleaner did not catch up")
        Thread.sleep(5)
      }
    }
  }
}

/** Keeps every span of the run in memory; [[spans]] is read once at
  * the end. Phase spans open and close on the driver thread. In a
  * traced run an [[EngineProbe]] adds job and stage spans from the
  * listener bus, and each phase boundary drains that bus, so every
  * event of a phase is counted before the phase is read. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var top: Span = _
  private val jobs = mutable.HashMap.empty[Int, Span]
  private val stageParent = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[(Int, Int), Span]
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val snapshots = mutable.HashMap.empty[Int, Array[Double]]

  def spans: Seq[Span] = synchronized(all.toList)

  def span[T](kind: String, name: String)(body: => T): T = {
    val s = open(kind, name)
    try body finally close(s)
  }

  /** Adds to the innermost open span (driver thread). */
  def add(key: String, v: Double): Unit = synchronized(stack.head.add(key, v))

  private def drain(): Unit = if (traced) GraftShim.drainListenerBus(spark, 120000L)

  private def jvmNow(): Array[Double] =
    Array(Jvm.cpuS, Jvm.jitS, Jvm.gcS, Jvm.codegenCompiles)

  private def open(kind: String, name: String): Span = {
    drain()
    val s = synchronized {
      val sp = new Span(all.size, stack.headOption.map(_.id).getOrElse(-1),
        kind, name, System.nanoTime())
      all += sp
      stack = sp :: stack
      top = sp
      sp
    }
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
    if (kind == "pass") Jvm.resetHeapPeaks()
    if (traced || kind == "pass") snapshots(s.id) = jvmNow()
    s
  }

  private def close(s: Span): Unit = {
    drain()
    val end = System.nanoTime()
    snapshots.remove(s.id).foreach { before =>
      val now = jvmNow()
      Seq("jvm.cpu_s", "jvm.jit_s", "jvm.gc_s", "codegen_compiles").zipWithIndex
        .foreach { case (k, i) => s.add(k, now(i) - before(i)) }
      if (s.kind == "pass") s.add("jvm.heap_peak_mb", Jvm.heapPeakMb)
    }
    if (s.kind != "phase")
      System.err.println(f"[perfbench] ${s.kind} ${s.name}: ${(end - s.startNs) / 1e9}%.3f s")
    synchronized {
      s.endNs = end
      stack = stack.tail
      top = stack.headOption.orNull
    }
    spark.sparkContext.setLocalProperty(Tracer.SpanKey,
      stack.headOption.map(_.id.toString).orNull)
  }

  private def msToNs(ms: Long): Long = ms * 1000000L + nsOffset

  private[perfbench] def jobStarted(jobId: Int, parent: Option[Int], timeMs: Long,
      stageIds: Seq[Int]): Unit = synchronized {
    val p = parent.getOrElse(Option(top).map(_.id).getOrElse(-1))
    val s = new Span(all.size, p, "job", s"job $jobId", msToNs(timeMs))
    s.add("jobs", 1)
    all += s
    jobs(jobId) = s
    stageIds.foreach(stageParent(_) = s.id)
  }

  private[perfbench] def jobEnded(jobId: Int, timeMs: Long, ok: Boolean): Unit =
    synchronized {
      jobs.remove(jobId).foreach { s =>
        s.endNs = msToNs(timeMs)
        if (!ok) s.add("failed_jobs", 1)
      }
    }

  private def stageSpan(info: StageInfo): Span =
    stages.getOrElseUpdate((info.stageId, info.attemptNumber()), {
      val s = new Span(all.size, stageParent.getOrElse(info.stageId, -1),
        "stage", s"stage ${info.stageId}.${info.attemptNumber()}",
        info.submissionTime.map(msToNs).getOrElse(System.nanoTime()))
      s.add("stages", 1)
      all += s
      s
    })

  private[perfbench] def stageStarted(info: StageInfo): Unit =
    synchronized(stageSpan(info))

  private[perfbench] def stageEnded(info: StageInfo): Unit = synchronized {
    val s = stageSpan(info)
    s.endNs = info.completionTime.map(msToNs).getOrElse(System.nanoTime())
    stages.remove((info.stageId, info.attemptNumber()))
  }

  private[perfbench] def taskEnded(stageId: Int, attempt: Int,
      reason: TaskEndReason, m: TaskMetrics): Unit = synchronized {
    val s = stages.getOrElse((stageId, attempt), return)
    s.add("tasks", 1)
    s.add("failed_tasks", if (reason == Success) 0 else 1)
    if (m != null) {
      s.add("task_run_s", m.executorRunTime / 1e3)
      s.add("task_cpu_s", m.executorCpuTime / 1e9)
      s.add("task_gc_s", m.jvmGCTime / 1e3)
      s.add("shuffle_read_b",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      s.add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      s.add("input_b", m.inputMetrics.bytesRead)
      s.add("input_rows", m.inputMetrics.recordsRead)
      s.add("output_b", m.outputMetrics.bytesWritten)
    }
  }

  private[perfbench] def blockStored(bytes: Long): Unit = synchronized {
    Option(top).foreach { s =>
      s.add("mat_blocks", 1)
      s.add("mat_b", bytes)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Engine counts from outside the program: jobs, stages, task
  * metrics and materialized RDD blocks, each attributed to the span
  * whose driver thread submitted the job. */
final class EngineProbe(t: Tracer) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    t.jobStarted(e.jobId,
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .map(_.toInt),
      e.time, e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    t.jobEnded(e.jobId, e.time, e.jobResult == JobSucceeded)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    t.stageStarted(e.stageInfo)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    t.stageEnded(e.stageInfo)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    t.taskEnded(e.stageId, e.stageAttemptId, e.reason, e.taskMetrics)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) t.blockStored(b.memSize + b.diskSize)
  }
}
