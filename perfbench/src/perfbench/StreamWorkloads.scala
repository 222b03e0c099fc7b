package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.app.Topology
import graft.connector.shardedlog.{ShardedLog, ShardedLogSource, ShardedLogWriter}
import graft.etl.SessionEtl

/** The topology workload. It drives the program only through its public
  * entry points (`ShardedLog`, `Topology.startEtlConsumer`/`startFirehose`,
  * the sharded-log data source, `SessionEtl.transform`,
  * `ShardedLogWriter.write`) and observes delivery from outside, through the
  * Firehose file sink's commit log.
  *
  * One topology runs two phases. The steady phase is an open loop: a
  * generator appends on a fixed schedule and every record's delivery latency
  * is timed from when it was due. Micro-batches are small, so per-batch
  * fixed cost dominates. The backlog phase is a closed drain: a preloaded
  * backlog is drained by a restarted ETL consumer in one uncapped
  * micro-batch and then by both Firehoses, so per-record work dominates.
  */
object StreamWorkloads {

  val Rate = 500           // records/s offered in the steady phase
  val TickMs = 20          // generator schedule granularity
  val WarmupS = 2          // steady load before the measured window
  val DeliverWithinMs = 10000L
  val BacklogPerSecond = 5000 // backlog records preloaded per measured second
  val Reps = 3             // set-up repetitions; setup_s reports their median

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"timed out: $what")
      Thread.sleep(10)
    }
  }

  private def stopAll(qs: Seq[StreamingQuery]): Unit = qs.foreach { q =>
    q.stop()
    q.exception.foreach(e => throw e)
  }

  private def p(xs: Seq[Double], q: Double) = Tracer.pct(xs, q)

  def topology(spark: SparkSession, res: Result, work: File, tracer: Option[Tracer],
      sessionS: Double): Unit = {
    val gen = new PayloadGen(res.seed, 1000)
    val perTick = Rate * TickMs / 1000
    val trigger = Trigger.ProcessingTime("1 second")
    def valid(from: Long, until: Long) = (from until until).count(i => gen.kind(i) == PayloadGen.Valid)
    val base = new File(work, "topology")
    val etlCkpt = new File(base, "ckpt/etl").getPath
    var live: (TopologyDirs, StreamingQuery, Seq[StreamingQuery], DeliveryWatcher) = null
    // set-up: create the streams, start the topology and deliver a first
    // tick, repeated on fresh directories; the last one stays up
    val repS = (1 to Reps).map { r =>
      val t0 = System.nanoTime()
      val dir = if (r == Reps) base else new File(work, s"setup-$r")
      val d = new TopologyDirs(dir)
      d.create()
      val ckpt = new File(dir, "ckpt").getPath
      val etl = Topology.startEtlConsumer(spark, d.src, d.dest, d.errors, s"$ckpt/etl", trigger,
        maxRecordsPerPoll = 100000)
      val fhs = Streams.startFirehoses(spark, d, ckpt, trigger)
      val w = new DeliveryWatcher(d.out).start()
      Streams.append(gen, d.src, 0, perTick, System.currentTimeMillis())
      waitFor("first delivery", 60000)(!w.seenMs.isEmpty)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < Reps) { stopAll(etl +: fhs); w.stop(); Streams.rmrf(dir) }
      else live = (d, etl, fhs, w)
      s
    }
    val (d, etl, fhs, w) = live
    var next = perTick.toLong

    // steady phase: open-loop generator on a fixed schedule
    val lags = mutable.ArrayBuffer.empty[Double]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val behind = tracer.map(_ => new BehindSampler(d.src, etl).start())
    val genStart = System.currentTimeMillis() + 50
    val measureFrom = genStart + WarmupS * 1000L
    val measureTo = measureFrom + res.seconds * 1000L
    val gc0 = Tracer.gcMs()
    var firstMeasured = -1L
    var k = 0L
    while (genStart + k * TickMs < measureTo) {
      val due = genStart + k * TickMs
      val now = System.currentTimeMillis()
      if (now < due) Thread.sleep(due - now)
      if (due >= measureFrom && firstMeasured < 0) { firstMeasured = next; Tracer.resetHeapPeak() }
      lags += (System.currentTimeMillis() - due).toDouble
      appendMs ++= Streams.append(gen, d.src, next, next + perTick, due)
      next += perTick
      k += 1
    }
    val steadyEnd = next
    val steadyValid = valid(0, steadyEnd)
    try waitFor("delivery of the steady phase", 30000)(w.seenMs.size >= steadyValid)
    catch { case e: IllegalStateException => res.error("steady drain", e) }
    etl.processAllAvailable()
    val steadyDone = System.currentTimeMillis()
    behind.foreach(_.stop())
    stopAll(etl +: fhs)

    // backlog phase: preload, restart the ETL consumer from its checkpoint
    // to drain everything in one uncapped micro-batch, then both Firehoses
    // from theirs; the drain ends when both have committed their files
    val nBacklog = BacklogPerSecond.toLong * res.seconds
    val p0 = System.nanoTime()
    val preloadMs = (next until next + nBacklog by 20000L).flatMap(i =>
      Streams.append(gen, d.src, i, math.min(next + nBacklog, i + 20000), System.currentTimeMillis()))
    val preloadS = (System.nanoTime() - p0) / 1e9
    next += nBacklog
    val allValid = valid(0, next)
    val t0 = System.currentTimeMillis()
    val drainEtl = Topology.startEtlConsumer(spark, d.src, d.dest, d.errors, etlCkpt,
      Trigger.AvailableNow(), maxRecordsPerPoll = Int.MaxValue)
    drainEtl.awaitTermination()
    val drainFhs = Streams.startFirehoses(spark, d, new File(base, "ckpt").getPath,
      Trigger.AvailableNow())
    drainFhs.foreach(_.awaitTermination())
    val t1 = System.currentTimeMillis()
    try waitFor("delivery of the backlog", 60000)(w.seenMs.size >= allValid)
    catch { case e: IllegalStateException => res.error("backlog drain", e) }
    stopAll(drainEtl +: drainFhs)
    w.stop()
    res.e2e("setup_s") = sessionS + Tracer.median(repS) + preloadS
    res.detail("setup_rep_s") = repS
    res.detail("setup_preload_s") = preloadS

    // end-to-end: delivery latency of the records due in the steady window,
    // and records/s of the backlog drain; a record that never arrived is
    // already among the check's failures
    val lat = mutable.ArrayBuffer.empty[Double]
    val late = mutable.HashSet.empty[Long]
    var i = firstMeasured
    while (i < steadyEnd) {
      val seen = w.seenMs.get(i)
      if (gen.kind(i) == PayloadGen.Valid && seen != null) {
        val l = (seen - w.createdMs.get(i)).toDouble
        lat += l
        if (l > DeliverWithinMs) late += i
      }
      i += 1
    }
    val drainS = (t1 - t0) / 1000.0
    val c = Streams.check(spark, gen, next, d, w)
    res.checks += (("topology outputs", c.ok, c.details))
    res.attempted = next
    res.failed = (c.failed ++ late).size
    res.e2e("latency_p50_ms") = p(lat.toSeq, 50)
    res.e2e("latency_p99_ms") = p(lat.toSeq, 99)
    res.e2e("throughput_per_s") = nBacklog / drainS
    res.named ++= Seq("deliver_p50_ms" -> p(lat.toSeq, 50), "deliver_p99_ms" -> p(lat.toSeq, 99),
      "deliver_samples" -> lat.size.toDouble, "drain_rps" -> nBacklog / drainS,
      "fail_frac" -> res.failed.toDouble / next, "offered_rps" -> Rate.toDouble,
      "steady_records" -> steadyEnd.toDouble, "backlog_records" -> nBacklog.toDouble)

    tracer.foreach { tr =>
      tr.awaitEvents(Seq(etl, drainEtl) ++ fhs ++ drainFhs)
      res.detail("gen.lag_ms_p99") = p(lags.toSeq, 99)
      res.detail("log.append_ms_p50") = p(appendMs.toSeq, 50)
      res.detail("log.preload_append_ms_p50") = p(preloadMs, 50)
      res.detail("source.records_behind_max") = behind.map(_.max.toDouble).getOrElse(0.0)
      val fhNames = fhs.map(_.name)
      streamLayers(tr, res, "", measureFrom, steadyDone, etl.name, fhNames)
      streamLayers(tr, res, "backlog.", t0, t1, drainEtl.name, drainFhs.map(_.name))
      res.detail("firehose.files_written") = w.files.toDouble
      res.detail("firehose.bytes_written") = w.bytes.toDouble
      res.detail("etl.dead_letter_records") = Streams.deadLetters(spark, d.errors).size.toDouble
      // what the blocking path explains of deliver_p50_ms
      val etlP50 = res.detail("etl_query.trigger_ms_p50").asInstanceOf[Double]
      val fhP50 = res.detail("firehose.trigger_ms_p50").asInstanceOf[Double]
      res.detail("account.deliver_p50_ms") = res.e2e("latency_p50_ms")
      res.detail("account.etl_plus_firehose_trigger_ms_p50") = etlP50 + fhP50
      res.detail("account.residual_ms") = res.e2e("latency_p50_ms") - etlP50 - fhP50
      // the result line's layers cover both phases, batch by batch
      def owns(b: BatchRec)(j: JobRec) = j.queryId == b.queryId && j.batchId == b.batchId.toString
      val units = tr.batchesIn(measureFrom, t1).filter(_.rows > 0).map { b =>
        WorkUnit(s"${b.queryName} batch ${b.batchId}", "micro-batch", b.startMs,
          b.startMs + b.durations.getOrElse("triggerExecution", 0L), owns(b))
      }
      val (layers, spans) = tr.summarize(res.workload, measureFrom, t1, units)
      res.layers ++= layers
      res.spans = spans
      res.layers("jvm.gc_ms") = (Tracer.gcMs() - gc0).toDouble
      res.layers("jvm.heap_peak_mb") = Tracer.heapPeakMb()
      layersAlone(spark, res, d, base.getPath, next, allValid)
    }
    Streams.rmrf(base)
  }

  /** Samples records-behind-latest of the ETL query: the source's end
    * offsets minus the end offset of its last completed micro-batch.
    */
  final class BehindSampler(src: String, etl: StreamingQuery) {
    @volatile var max = 0L
    @volatile private var running = true
    private val OffRe = """"(shard-\d+)"\s*:\s*(\d+)""".r
    private val thread = new Thread(() => {
      while (running) {
        val last = etl.lastProgress
        if (last != null && last.sources.nonEmpty) {
          val done = OffRe.findAllMatchIn(last.sources.head.endOffset).map(_.group(2).toLong).sum
          val end = ShardedLog.endOffsets(src).values.sum
          max = math.max(max, end - done)
        }
        Thread.sleep(100)
      }
    }, "perfbench-behind")
    thread.setDaemon(true)
    def start(): this.type = { thread.start(); this }
    def stop(): Unit = { running = false; thread.join() }
  }

  /** Per-layer metrics of the ETL and Firehose micro-batches that started in
    * [fromMs, toMs], under keys starting with `prefix`. A batch's self time is
    * its trigger time minus the union of its jobs' intervals.
    */
  private def streamLayers(tr: Tracer, res: Result, prefix: String, fromMs: Long, toMs: Long,
      etlName: String, fhNames: Seq[String]): Unit = {
    def put(k: String, v: Double): Unit = res.detail(prefix + k) = v
    val bs = tr.batchesIn(fromMs, toMs)
    val etlAll = bs.filter(_.queryName == etlName)
    val etlB = etlAll.filter(_.rows > 0)
    val fhB = bs.filter(b => fhNames.contains(b.queryName) && b.rows > 0)
    def dur(b: Seq[BatchRec], k: String) = b.map(_.durations.getOrElse(k, 0L).toDouble)
    val jobs = tr.jobsIn(fromMs, toMs)
    def jobsOf(b: BatchRec) = jobs.filter(j => j.queryId == b.queryId && j.batchId == b.batchId.toString)
    def selfMs(b: BatchRec) = b.durations.getOrElse("triggerExecution", 0L) -
      Tracer.unionMs(jobsOf(b).map(j => (j.startMs, j.endMs)))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    put("source.latest_offset_ms_p50", p(dur(etlB, "latestOffset"), 50))
    put("source.get_batch_ms_p50", p(dur(etlB, "getBatch"), 50))
    put("source.empty_poll_frac",
      if (etlAll.isEmpty) 0.0 else etlAll.count(_.rows == 0).toDouble / etlAll.size)
    put("etl_query.batches", etlB.size.toDouble)
    put("etl_query.trigger_ms_p50", p(dur(etlB, "triggerExecution"), 50))
    put("etl_query.trigger_ms_p99", p(dur(etlB, "triggerExecution"), 99))
    put("etl_query.add_batch_ms_p50", p(dur(etlB, "addBatch"), 50))
    put("etl_query.planning_ms_p50", p(dur(etlB, "queryPlanning"), 50))
    put("etl_query.wal_commit_ms_p50", p(dur(etlB, "walCommit"), 50))
    put("etl_query.commit_ms_p50", p(dur(etlB, "commitOffsets"), 50))
    put("etl_query.rows_per_batch_p50", p(etlB.map(_.rows.toDouble), 50))
    put("etl_query.self_ms_p50", p(etlB.map(b => selfMs(b).toDouble), 50))
    put("etl_query.jobs_per_batch", mean(etlB.map(b => jobsOf(b).size.toDouble)))
    put("etl_query.stages_per_batch", mean(etlB.map(b => tr.stagesOf(jobsOf(b)).size.toDouble)))
    put("etl_query.tasks_per_batch", mean(etlB.map(b => tr.stagesOf(jobsOf(b)).map(_.tasks).sum.toDouble)))
    put("etl_query.task_cpu_ms_per_batch", mean(etlB.map(b => tr.stagesOf(jobsOf(b)).map(_.cpuMs).sum)))
    put("firehose.batches", fhB.size.toDouble)
    put("firehose.trigger_ms_p50", p(dur(fhB, "triggerExecution"), 50))
    put("firehose.add_batch_ms_p50", p(dur(fhB, "addBatch"), 50))
    put("firehose.self_ms_p50", p(fhB.map(b => selfMs(b).toDouble), 50))
  }

  /** Each layer timed alone over the whole source log after the run: the batch read
    * of the source, `SessionEtl.transform` into the no-op sink,
    * `ShardedLogWriter.write` of an already-materialized enriched frame, and
    * both Firehoses re-delivering the filled destination streams.
    */
  private def layersAlone(spark: SparkSession, res: Result, d: TopologyDirs, base: String,
      n: Long, valid: Long): Unit = {
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def src = spark.read.format(ShardedLogSource.ShortName).option("path", d.src).load()
    res.detail("source.read_rps") = n / timed(src.write.format("noop").mode("overwrite").save())
    res.detail("etl.transform_rps") =
      n / timed(SessionEtl.transform(src).enriched.write.format("noop").mode("overwrite").save())
    val enriched = SessionEtl.transform(src).enriched.persist()
    val rows = enriched.count()
    val out = s"$base/writer-alone"
    ShardedLog.createStream(out, 2)
    res.detail("writer.write_rps") = rows / timed(ShardedLogWriter.write(enriched, out,
      col("session_id"), col("data"), Seq(col("shard"), col("sequence_number"))))
    enriched.unpersist()
    val alone = new TopologyDirs(new File(base, "firehose-alone"))
    res.detail("firehose.drain_rps") = valid / timed(Streams.startFirehoses(spark, d.dest, alone.out,
      s"$base/firehose-alone/ckpt", Trigger.AvailableNow()).foreach(_.awaitTermination()))
  }
}
