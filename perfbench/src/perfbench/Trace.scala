package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark job as seen by the listener bus. `queryId`/`batchId`
  * are the streaming micro-batch the job ran for (local properties set by
  * MicroBatchExecution and inherited by `foreachBatch` jobs); `group` is the
  * job group the query mix sets per query.
  */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, group: String,
    queryId: String, batchId: String)

/** One completed stage with its summed task metrics. */
final case class StageRec(id: Int, jobId: Int, startMs: Long, endMs: Long, tasks: Int,
    runMs: Long, cpuMs: Double, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long)

/** One QueryExecution (an action through the Dataset API) and its planning
  * phases from `qe.tracker`.
  */
final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** One streaming micro-batch from `StreamingQueryProgress`. */
final case class BatchRec(queryName: String, queryId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], rows: Long)

/** A closed interval of work in the traced run. */
final case class Span(id: Int, parent: Int, name: String, kind: String, startMs: Long,
    endMs: Long, var selfMs: Long = 0L)

/** Listener-based recorder for the traced run. Everything stays in memory;
  * [[Tracer.summarize]] builds the workload → batch/query → job → stage tree
  * at the end. Nothing here touches the program under test beyond the public
  * listener hooks.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val qeStart = mutable.HashMap.empty[Long, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, prop("spark.jobGroup.id"),
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId"))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stages += StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1),
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { qeStart(s.executionId) = s.time }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(f: String, qe: QueryExecution): Unit = {
      def phase(n: String) = qe.tracker.phases.get(n).map(p => p.endTimeMs - p.startTimeMs)
        .getOrElse(0L)
      Tracer.this.synchronized {
        qes += QeRec(qeStart.getOrElse(qe.id, System.currentTimeMillis()),
          phase("analysis"), phase("optimization"), phase("planning"))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(f, qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(f, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Tracer.this.synchronized {
        batches += BatchRec(p.name, p.id.toString, p.batchId, start,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Blocks until the listeners have received every event of the work done
    * so far, or throws after `timeoutMs`. The job, stage and QueryExecution
    * listeners share one in-order queue, so the end of a marker job run now
    * arrives after every earlier event there; every job recorded must then
    * have ended. Each streaming query's last progress must be recorded too
    * (progress events travel on a queue of their own).
    */
  def awaitEvents(queries: Seq[StreamingQuery], timeoutMs: Long = 30000L): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.BarrierGroup, "listener barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val last = queries.flatMap(q => Option(q.lastProgress)).map(p => (p.id.toString, p.batchId))
    def missing: Seq[String] = synchronized {
      val barrier = jobs.values.exists(j => j.group == Tracer.BarrierGroup && j.endMs >= 0)
      val open = jobs.values.filter(_.endMs < 0).map(j => s"end of job ${j.id}")
      val progress = last.filterNot { case (id, b) =>
        batches.exists(x => x.queryId == id && x.batchId == b)
      }.map { case (id, b) => s"progress of query $id batch $b" }
      (if (barrier) Nil else Seq("marker job end")) ++ open ++ progress
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (missing.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(10)
    val m = missing
    if (m.nonEmpty) throw new IllegalStateException(
      s"listener events still missing after $timeoutMs ms: ${m.take(10).mkString(", ")}")
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    val ids = js.map(_.id).toSet
    stages.filter(s => ids.contains(s.jobId)).toSeq
  }

  def qesIn(fromMs: Long, toMs: Long): Seq[QeRec] = synchronized {
    qes.filter(q => q.startMs >= fromMs && q.startMs <= toMs).toSeq
  }

  def batchesIn(fromMs: Long, toMs: Long): Seq[BatchRec] = synchronized {
    batches.filter(b => b.startMs >= fromMs && b.startMs <= toMs).toSeq
  }

  /** Layer counters over the jobs, stages and QueryExecutions that started in
    * [fromMs, toMs], plus the span tree: the workload, its units of work
    * (micro-batches or queries), their jobs and the jobs' stages. A job
    * belongs to the first unit whose `owns` accepts it, else to the
    * workload. Each span's self time is its wall time minus the union of
    * its children's intervals.
    */
  def summarize(workload: String, fromMs: Long, toMs: Long,
      units: Seq[WorkUnit]): (Seq[(String, Double)], Seq[Span]) = {
    val js = jobsIn(fromMs, toMs)
    val ss = stagesOf(js)
    val qs = qesIn(fromMs, toMs)
    val busy = Tracer.unionMs(ss.map(s => (s.startMs, s.endMs)))
    val spans = mutable.ArrayBuffer(Span(0, -1, workload, "workload", fromMs, toMs))
    val unitSpans = units.map { u =>
      val sp = Span(spans.size, 0, u.name, u.kind, u.startMs, u.endMs); spans += sp; sp
    }
    val jobsOf = mutable.HashMap.empty[Int, mutable.ArrayBuffer[JobRec]]
    val jobSpan = mutable.HashMap.empty[Int, Span]
    js.sortBy(_.startMs).foreach { j =>
      val owner = units.indexWhere(_.owns(j))
      val parent = if (owner >= 0) unitSpans(owner).id else 0
      if (owner >= 0) jobsOf.getOrElseUpdate(owner, mutable.ArrayBuffer.empty) += j
      val sp = Span(spans.size, parent, s"job ${j.id}", "job", j.startMs, math.max(j.startMs, j.endMs))
      spans += sp
      jobSpan(j.id) = sp
    }
    ss.foreach { s =>
      val parent = jobSpan.get(s.jobId).map(_.id).getOrElse(0)
      spans += Span(spans.size, parent, s"stage ${s.id}", "stage", s.startMs, s.endMs)
    }
    val children = spans.groupBy(_.parent)
    spans.foreach { sp =>
      val kids = children.getOrElse(sp.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      sp.selfMs = (sp.endMs - sp.startMs) - Tracer.unionMs(kids)
    }
    val unitMs = unitSpans.map(s => (s.endMs - s.startMs).toDouble)
    val unitSelf = unitSpans.map(_.selfMs.toDouble)
    val perUnitJobs = units.indices.map(i => jobsOf.get(i).map(_.size).getOrElse(0).toDouble)
    val perUnitTasks = units.indices.map { i =>
      stagesOf(jobsOf.get(i).map(_.toSeq).getOrElse(Nil)).map(_.tasks).sum.toDouble
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val m = Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.task_run_ms" -> ss.map(_.runMs).sum.toDouble,
      "spark.task_cpu_ms" -> ss.map(_.cpuMs).sum,
      "spark.task_gc_ms" -> ss.map(_.gcMs).sum.toDouble,
      "spark.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "spark.stage_busy_ms" -> busy.toDouble,
      "spark.sched_gap_ms" -> ((toMs - fromMs) - busy).toDouble,
      "qe.count" -> qs.size.toDouble,
      "qe.analysis_ms" -> qs.map(_.analysisMs).sum.toDouble,
      "qe.optimization_ms" -> qs.map(_.optimizationMs).sum.toDouble,
      "qe.planning_ms" -> qs.map(_.planningMs).sum.toDouble,
      "work.units" -> units.size.toDouble,
      "work.unit_ms_p50" -> Tracer.median(unitMs),
      "work.unit_self_ms_p50" -> Tracer.median(unitSelf),
      "work.jobs_per_unit" -> mean(perUnitJobs),
      "work.tasks_per_unit" -> mean(perUnitTasks))
    (m, spans.toSeq)
  }
}

/** A unit of work in a traced workload: one micro-batch or one query. */
final case class WorkUnit(name: String, kind: String, startMs: Long, endMs: Long,
    owns: JobRec => Boolean)

object Tracer {

  /** Job group of the marker job [[Tracer.awaitEvents]] runs. */
  val BarrierGroup = "perfbench:barrier"

  /** Length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Sum of collection time over all GC MXBeans. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
