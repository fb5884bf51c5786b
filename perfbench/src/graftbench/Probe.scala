package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of one traced op (a request, a curation batch or a chain
  * batch). Seconds are summed over the op's tasks or phases.
  */
final class OpStats(val id: String, val name: String) {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    Seq("build_s", "analysis_s", "optimizer_s", "physical_s", "actions",
      "jobs", "stages", "tasks", "single_task_stages",
      "task_s", "cpu_s", "gc_s", "deser_s",
      "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
      "input_bytes", "input_records", "inmem_scans",
      "sink_files", "sink_bytes", "sink_rows").map(_ -> 0.0): _*)
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var wallS = 0.0

  def add(k: String, v: Double): Unit = c(k) = c(k) + v

  /** Seconds during which at least one of the op's jobs was running. */
  def jobBusyS: Double = {
    var busy = 0L; var curS = -1L; var curE = -1L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy / 1e3
  }
}

/** One span of the in-memory trace; every span of an op carries the
  * op's id as its trace id. Times are epoch milliseconds.
  */
final case class Span(trace: String, id: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double)

/** The traced run's probe: a SparkListener for jobs, stages and tasks,
  * a QueryExecutionListener for planning phases, executed-plan cache
  * scans and write-command metrics, plus a storage-status sample after
  * each op. Events are attributed to the op that is current while the
  * bus delivers them; [[begin]] and [[end]] drain the bus so no event
  * crosses an op boundary.
  */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  @volatile private var current: OpStats = _
  @volatile private var rootSpan = 0
  private val jobSpan = mutable.Map[Int, (Int, Long)]()
  private val stageJob = mutable.Map[Int, Int]()
  private var nextId = 1
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  val ops: mutable.ArrayBuffer[OpStats] = mutable.ArrayBuffer[OpStats]()
  /** Nanoseconds spent inside this probe's callbacks and samples. */
  val overheadNs = new java.util.concurrent.atomic.AtomicLong()
  var cacheRddsPeak = 0L
  var cacheMemPeak = 0L
  var cacheDiskPeak = 0L

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def newSpan(): Int = synchronized { val i = nextId; nextId += 1; i }

  private def charged[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  def span(parent: Int, name: String, startMs: Double, endMs: Double): Unit = {
    val op = current
    if (op != null) synchronized { spans += Span(op.id, newSpan(), parent, name, startMs, endMs) }
  }

  def begin(id: String, name: String): OpStats = {
    org.apache.spark.BenchBus.drain(sc)
    val op = new OpStats(id, name)
    rootSpan = newSpan()
    current = op
    op
  }

  def end(op: OpStats, startMs: Double, endMs: Double): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized { spans += Span(op.id, rootSpan, 0, op.name, startMs, endMs) }
    charged {
      val infos = sc.getRDDStorageInfo
      cacheRddsPeak = math.max(cacheRddsPeak, infos.count(_.numCachedPartitions > 0).toLong)
      cacheMemPeak = math.max(cacheMemPeak, infos.map(_.memSize).sum)
      cacheDiskPeak = math.max(cacheDiskPeak, infos.map(_.diskSize).sum)
    }
    current = null
    ops += op
  }

  def root: Int = rootSpan

  override def onJobStart(e: SparkListenerJobStart): Unit = charged {
    val op = current
    if (op != null) {
      op.add("jobs", 1)
      jobSpan(e.jobId) = (newSpan(), e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = charged {
    val op = current
    jobSpan.remove(e.jobId).foreach { case (id, start) =>
      if (op != null) {
        op.jobIntervals += ((start, e.time))
        synchronized { spans += Span(op.id, id, rootSpan, s"job ${e.jobId}", start.toDouble, e.time.toDouble) }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = charged {
    val op = current
    val info = e.stageInfo
    val job = stageJob.remove(info.stageId)
    if (op != null) {
      op.add("stages", 1)
      if (info.numTasks == 1) op.add("single_task_stages", 1)
      for (s <- info.submissionTime; t <- info.completionTime) {
        val parent = job.flatMap(j => jobSpan.get(j).map(_._1)).getOrElse(rootSpan)
        span(parent, s"stage ${info.stageId}", s.toDouble, t.toDouble)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
    val op = current
    val m = e.taskMetrics
    if (op != null && m != null) {
      op.add("tasks", 1)
      op.add("task_s", m.executorRunTime / 1e3)
      op.add("cpu_s", m.executorCpuTime / 1e9)
      op.add("gc_s", m.jvmGCTime / 1e3)
      op.add("deser_s", m.executorDeserializeTime / 1e3)
      op.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      op.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      op.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      op.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      op.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      op.add("input_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  private def onQuery(qe: QueryExecution): Unit = charged {
    val op = current
    if (op != null) {
      op.add("actions", 1)
      val phases = qe.tracker.phases
      Seq("analysis" -> "analysis_s", "optimization" -> "optimizer_s",
        "planning" -> "physical_s").foreach { case (phase, key) =>
        phases.get(phase).foreach { p =>
          op.add(key, (p.endTimeMs - p.startTimeMs) / 1e3)
          span(rootSpan, phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
      val plan = qe.executedPlan
      op.add("inmem_scans", collectWithSubqueries(plan) {
        case s: InMemoryTableScanExec => s }.size.toDouble)
      collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }.foreach { w =>
        val m = w.cmd.metrics
        def v(k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
        op.add("sink_files", v("numFiles"))
        op.add("sink_bytes", v("numOutputBytes"))
        op.add("sink_rows", v("numOutputRows"))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)

  def close(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
