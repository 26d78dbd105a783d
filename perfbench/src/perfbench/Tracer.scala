package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace tree: an op (a query or a table verb), a phase
  * inside it (build, exec, clear, or a verb's call), or a Spark job inside
  * a phase. `parent` links job → phase → op; `pass` is -1 for the
  * untimed verify pass. Times are wall-clock epoch milliseconds, the
  * clock Spark stamps its listener events with. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Long, endMs: Long, pass: Int) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Work Spark reports for one phase. */
final class Counts {
  var jobs, stagesRun, stagesListed, tasks = 0L
  var jobMs, runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, outBytes = 0L
}

/** What the executed physical plans of one op scanned and exchanged. */
final class PlanCounts {
  var scanBytes, scanRows, exchanges, broadcastBytes = 0L
}

/** The per-layer probe: a Spark listener (jobs, stages, tasks, shuffle,
  * block updates) plus a QueryExecutionListener (scans and exchanges of
  * every executed plan), attributed to phases through a thread-local job
  * property, and the JVM's collection notifications (heap left after each
  * full collection). Spans are kept in memory and written out when the
  * run ends. Every read of listener state is preceded by a drain of the
  * listener bus, so no tail event is lost. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  private val sc = spark.sparkContext
  /** op and phase spans, appended by the client thread only */
  val spans = mutable.ArrayBuffer.empty[Span]
  val planByOp = mutable.HashMap.empty[String, PlanCounts]

  // listener-thread state, guarded by `this`
  private val byPhase = mutable.HashMap.empty[String, Counts]
  private val jobPhase = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]
  private val blockSize = mutable.HashMap.empty[String, Long]
  private var blockBytes, blockPeak, blockPuts = 0L
  private var heapPeak = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val onCollection = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          Tracer.this.synchronized { heapPeak = math.max(heapPeak, used) }
        }
      }
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
  collectors.foreach(_.addNotificationListener(onCollection, null, null))

  def drain(): Unit = PerfbenchBus.drain(sc)

  def close(): Unit = {
    drain()
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
    collectors.foreach(_.removeNotificationListener(onCollection))
  }

  /** Run `body` as phase `kind` of op `opId`: jobs it submits carry the
    * phase id as a local property. */
  def phase[T](opId: String, kind: String, pass: Int)(body: => T): T = {
    val id = s"$opId/$kind"
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      sc.setLocalProperty(Key, prev)
      spans += Span(id, opId, "phase", kind, t0, System.currentTimeMillis(), pass)
    }
  }

  /** Close an op: drain the bus, then fold the plans it executed into
    * its scan and exchange counts. */
  def endOp(op: Span): Unit = {
    spans += op
    drain()
    val pc = planByOp.getOrElseUpdate(op.id, new PlanCounts)
    val qes = synchronized { val q = executions.toList; executions.clear(); q }
    qes.foreach { qe =>
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec =>
          pc.scanBytes += metric(s.metrics, "filesSize")
          pc.scanRows += metric(s.metrics, "numOutputRows")
        case b: BroadcastExchangeExec =>
          pc.exchanges += 1
          pc.broadcastBytes += metric(b.metrics, "dataSize")
        case _: Exchange => pc.exchanges += 1
      }
    }
  }

  private def metric(ms: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
      name: String): Long = ms.get(name).map(_.value).getOrElse(0L)

  /** RDD block puts so far and the peak of live RDD block bytes since
    * the last [[resetBlockPeak]] (call after a drain). */
  def blockStats: (Long, Long) = synchronized((blockPuts, blockPeak))
  def resetBlockPeak(): Unit = synchronized { blockPeak = blockBytes }

  /** Peak heap occupancy right after a full collection, in bytes, since
    * the last [[resetHeapPeak]]: the data the program kept live, apart
    * from how the heap is sized. A full collection precedes every timed
    * pass. */
  def heapAfterGcPeak: Long = synchronized(heapPeak)
  def resetHeapPeak(): Unit = synchronized { heapPeak = 0L }

  def phaseCounts(id: String): Counts = synchronized(byPhase.getOrElse(id, new Counts))
  def jobs: Seq[Span] = synchronized(jobSpans.toList)

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Key))).getOrElse(Unattributed)
  private def counts(phase: String): Counts = byPhase.getOrElseUpdate(phase, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ph = phaseOf(e.properties)
    jobPhase(e.jobId) = ph
    jobStartMs(e.jobId) = e.time
    val c = counts(ph)
    c.jobs += 1
    c.stagesListed += e.stageIds.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val ph = jobPhase.getOrElse(e.jobId, Unattributed)
    val t0 = jobStartMs.getOrElse(e.jobId, e.time)
    counts(ph).jobMs += e.time - t0
    jobSpans += Span(s"job${e.jobId}", ph, "job", e.jobId.toString, t0, e.time, 0)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val ph = phaseOf(e.properties)
    stagePhase(e.stageInfo.stageId) = ph
    counts(ph).stagesRun += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stagePhase.getOrElse(e.stageId, Unattributed))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
      c.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val key = i.blockId.name
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val before = blockSize.getOrElse(key, 0L)
      if (now > 0 && before == 0) blockPuts += 1
      if (now > 0) blockSize(key) = now else blockSize.remove(key)
      blockBytes += now - before
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { executions += qe }
}

object Tracer {
  val Key = "perfbench.phase"
  val Unattributed = "unattributed"

  /** Length of the union of `intervals` clipped to [lo, hi], in ms. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var total = 0L
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
