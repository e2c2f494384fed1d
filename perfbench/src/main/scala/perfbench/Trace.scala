package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional for
  * spans the benchmark opens itself); `op` is the operation id shared
  * by every span of one operation (the Spark job group of its jobs).
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      op: String, start: Double, end: Double)

/** Spans and counters at each layer boundary the benchmark crosses:
  * run → operation → build / plan / action → job → stage, observed
  * through Spark's public listener interfaces. Everything is kept in
  * memory and written out when the run ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  def nextId(): Long = ids.incrementAndGet()
  def add(k: String, v: Double): Unit = { counters.merge(k, v, _ + _); () }
  private def touch(): Unit = lastEvent.set(System.currentTimeMillis())

  // job id -> (span id, start, group, phase); stage id -> parent job span
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  // block id -> bytes held, for the block-manager peak
  private val blocks = mutable.Map.empty[String, Long]
  private var held = 0L
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("stream")
    val id = nextId()
    jobs.put(e.jobId, (id, e.time, group, phase))
    e.stageIds.foreach(s => stageJob.put(s, id))
    add("exec.jobs", 1)
    if (phase == "build") add("queries.build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobs.remove(e.jobId)).foreach { case (id, start, group, phase) =>
      spans.add(Span(id, -1, "job", s"job ${e.jobId} $phase", group, start.toDouble, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    touch()
    stageStart.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val si = e.stageInfo
    val start = Option(stageStart.remove(si.stageId)).map(_.toLong)
      .orElse(si.submissionTime).getOrElse(System.currentTimeMillis())
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    val parent = Option(stageJob.get(si.stageId)).map(_.toLong).getOrElse(-1L)
    spans.add(Span(nextId(), parent, "stage", s"stage ${si.stageId}", "", start.toDouble, end.toDouble))
    add("exec.stages", 1)
    val m = si.taskMetrics
    if (m != null && (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0)) {
      add("scan.stages", 1)
      add("scan.tasks", si.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("executor.deserialize_s", m.executorDeserializeTime / 1e3)
      add("scan.input_mb", m.inputMetrics.bytesRead / Tracer.MB)
      add("scan.input_rows", m.inputMetrics.recordsRead)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Tracer.MB)
      add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / Tracer.MB)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.disk_mb", m.diskBytesSpilled / Tracer.MB)
      add("spill.memory_mb", m.memoryBytesSpilled / Tracer.MB)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    touch()
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val before = blocks.getOrElse(id, 0L)
    if (info.blockId.isRDD && bytes > 0 && before == 0) {
      add("cache.blocks_written", 1)
      add("cache.written_mb", bytes / Tracer.MB)
    }
    if (bytes > 0) blocks(id) = bytes else blocks.remove(id)
    held += bytes - before
    peak = math.max(peak, held)
  }

  def storagePeakMb: Double = synchronized(peak / Tracer.MB)
  def resetPeak(): Unit = synchronized { peak = held }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    touch()
    val phases = qe.tracker.phases
    for ((k, metric) <- Seq("analysis" -> "plans.analysis_s",
        "optimization" -> "plans.optimizer_s", "planning" -> "plans.physical_s")) {
      phases.get(k).foreach { p =>
        add(metric, p.durationMs / 1e3)
        spans.add(Span(nextId(), -1, "plan", s"$funcName $k", "",
          p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    val plan = qe.executedPlan
    add("plans.exchanges", collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
    }.size)
    add("plans.graft_nodes", collectWithSubqueries(plan) {
      case p: SparkPlan if p.getClass.getName.startsWith("graft.") => 1
    }.size)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  /** Listener events arrive asynchronously: wait until none has arrived
    * for a quiet interval so the totals are complete. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() - lastEvent.get() < quietMs &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def snapshot(): Map[String, Double] = counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  val MB = 1024.0 * 1024.0

  /** Self time per layer: a span's duration minus the part of it that
    * its children cover. Job and plan spans are attached to the
    * innermost benchmark span (build/action) whose interval holds
    * their start; stage spans carry their job parent already.
    */
  def selfTimes(all: Seq[Span]): (Seq[Span], Map[String, Double]) = {
    val (own, engine) = all.partition(s => s.layer == "op" || s.layer == "build" || s.layer == "action" || s.layer == "run")
    val inner = own.filter(s => s.layer == "build" || s.layer == "action").sortBy(_.start)
    val starts = inner.map(_.start).toArray
    def enclosing(t: Double): Long = {
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      while (i >= 0 && inner(i).end < t) i -= 1
      if (i >= 0) inner(i).id else {
        own.find(s => s.layer == "op" && s.start <= t && t <= s.end).map(_.id).getOrElse(-1L)
      }
    }
    val fixed = engine.map { s =>
      if (s.parent >= 0) s
      else s.copy(parent = enclosing(s.start))
    }
    val spansOut = own ++ fixed
    val children = spansOut.groupBy(_.parent)
    def covered(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) total += curE - curS
      total
    }
    val self = spansOut.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.end - s.start) - covered(s)).sum / 1e3
    }
    (spansOut, self)
  }
}
