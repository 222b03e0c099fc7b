package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The batch query mix: 5 `SparkEntry.queries` in a fixed order over
  * small seeded tables, each written to the no-op sink. At this size about
  * half of every query's time is driver work between its stages; the
  * iterative query pays it once per round, and the heavy query spends the
  * most time and task CPU inside its stages.
  */
object Mix {

  val Iterative: Seq[String] = Seq("label_propagation")
  val Heavy: Seq[String] = Seq("dedup_minhash_lsh")
  val Light: Seq[String] = Seq("q3_shipping_priority", "etl_enrich_sessions", "sharded_log_roundtrip")
  val Order: Seq[String] = Iterative ++ Heavy ++ Light
  def group(q: String): String =
    if (Iterative.contains(q)) "iterative" else if (Heavy.contains(q)) "heavy" else "light"

  val Scale = 0.25  // table sizes relative to the sf0.01 test tables
  val DataReps = 2  // set-up repetitions of the table generation
  // untimed passes before the timed ones: after two, the first timed pass
  // still ran up to 1.6x slower than the last as the JIT kept compiling;
  // after three, 1.3x. Five did not steady the runs further.
  val WarmPasses = 3

  // startMs/endMs (wall clock) match the run to listener events; durS
  // (monotonic, sub-millisecond) is its measured time
  private final case class Run(pass: Int, query: String, startMs: Long, endMs: Long, durS: Double,
      ok: Boolean)

  def run(spark: SparkSession, res: Result, work: File, tracer: Option[Tracer],
      sessionS: Double): Unit = {
    val data = new File(work, "mix-data").getPath
    val results = new File(work, "mix-results")
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    def clearCached(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    def attempt(where: String, q: String)(f: => Unit): Boolean = {
      res.attempted += 1
      try { f; true } catch {
        case t: Throwable => res.failed += 1; res.error(s"$where $q", t); false
      } finally clearCached()
    }

    // set-up: generate the tables (median of DataReps), then WarmPasses
    // untimed passes; the first writes the results the oracle check reads
    val genS = (1 to DataReps).map { _ =>
      val t0 = System.nanoTime()
      MixData.write(spark, data, res.seed, Scale)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    val warmQ = Order.map { q =>
      val t0 = System.nanoTime()
      attempt("warm-up", q)(fns(q)(spark, data).write.mode("overwrite").parquet(s"$results/$q"))
      q -> (System.nanoTime() - t0) / 1e9
    }
    (2 to WarmPasses).foreach(_ => Order.foreach(q =>
      attempt("warm-up", q)(fns(q)(spark, data).write.format("noop").mode("overwrite").save())))
    val warmS = (System.nanoTime() - w0) / 1e9
    res.detail("warmup_query_s") = warmQ.toMap
    Files.write(new File(results, "oracle_sql.json").toPath,
      Json.value(Order.map(q => q -> oracle(q)).toMap).getBytes(UTF_8))
    res.e2e("setup_s") = sessionS + Tracer.median(genS) + warmS
    res.detail("setup_table_gen_s") = genS
    res.detail("setup_warmup_s") = warmS

    // timed passes: as many whole passes as fit the measured time, at least one
    val gc0 = Tracer.gcMs()
    Tracer.resetHeapPeak()
    val runs = mutable.ArrayBuffer.empty[Run]
    val passS = mutable.ArrayBuffer.empty[Double]
    val from = System.currentTimeMillis()
    var pass = 0
    while (pass == 0 || (System.currentTimeMillis() - from) * (pass + 1) / pass <= res.seconds * 1000L) {
      val p0 = System.nanoTime()
      Order.foreach { q =>
        spark.sparkContext.setJobGroup(s"perfbench:$pass:$q", q)
        val s = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok = attempt(s"pass $pass", q)(fns(q)(spark, data).write.format("noop").mode("overwrite").save())
        runs += Run(pass, q, s, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, ok)
        spark.sparkContext.clearJobGroup()
      }
      passS += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val to = System.currentTimeMillis()
    // each query's fastest timed run, as in Bench's min-of-N: on a shared
    // machine a pass can run 1.5x slow, and a query's median over its
    // few runs still takes in a slow one
    val perQuery = Order.map(q => q -> runs.filter(_.query == q).map(_.durS).min)
    val qS = perQuery.map(_._2)
    val mixS = qS.sum // one pass, from each query's fastest run
    res.checks += (("query_mix: every query ran", runs.forall(_.ok),
      runs.filterNot(_.ok).map(r => s"pass ${r.pass} ${r.query} failed").toSeq))
    // the light queries' median is the per-query fixed overhead; a median
    // over five unlike queries would jump between neighbouring queries
    val lightS = runs.filter(r => Light.contains(r.query)).map(_.durS).toSeq
    res.e2e("latency_p50_ms") = Tracer.median(lightS) * 1000
    res.e2e("latency_p99_ms") = Tracer.pct(qS, 99) * 1000
    res.e2e("throughput_per_s") = Order.size / mixS
    res.named ++= Seq("mix_s" -> mixS, "query_p50_s" -> Tracer.median(qS),
      "light_query_p50_s" -> Tracer.median(lightS),
      "fail_frac" -> res.failed.toDouble / res.attempted, "passes" -> pass.toDouble)
    res.detail("query_s") = perQuery.toMap
    res.detail("query_runs_s") = Order.map(q => q -> runs.filter(_.query == q).map(_.durS).toSeq).toMap
    res.detail("pass_s") = passS.toSeq

    tracer.foreach { tr =>
      tr.awaitEvents(Nil)
      def owns(r: Run)(j: JobRec) = j.group == s"perfbench:${r.pass}:${r.query}" ||
        (j.group.isEmpty && j.startMs >= r.startMs && j.startMs <= r.endMs)
      val units = runs.map(r => WorkUnit(s"${r.query} pass ${r.pass}", "query", r.startMs, r.endMs,
        owns(r))).toSeq
      val (layers, spans) = tr.summarize(res.workload, from, to, units)
      res.layers ++= layers
      res.spans = spans
      // per query (mean over passes), then summed by group
      val perQ = Order.map { q =>
        val rs = runs.filter(_.query == q).toSeq
        val ms = rs.map { r =>
          val js = tr.jobsIn(r.startMs, r.endMs).filter(owns(r))
          val ss = tr.stagesOf(js)
          val qs = tr.qesIn(r.startMs, r.endMs)
          val stageMs = Tracer.unionMs(ss.map(s => (s.startMs, s.endMs))).toDouble
          Map("wall_ms" -> (r.endMs - r.startMs).toDouble,
            "analysis_ms" -> qs.map(_.analysisMs).sum.toDouble,
            "optimization_ms" -> qs.map(_.optimizationMs).sum.toDouble,
            "planning_ms" -> qs.map(_.planningMs).sum.toDouble,
            "qe_count" -> qs.size.toDouble,
            "jobs" -> js.size.toDouble, "stages" -> ss.size.toDouble,
            "tasks" -> ss.map(_.tasks).sum.toDouble,
            "stage_ms" -> stageMs,
            "sched_gap_ms" -> ((r.endMs - r.startMs) - stageMs),
            "task_run_ms" -> ss.map(_.runMs).sum.toDouble,
            "task_cpu_ms" -> ss.map(_.cpuMs).sum,
            "shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
            "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
            "spill_bytes" -> ss.map(_.spill).sum.toDouble)
        }
        q -> ms.head.keys.map(k => k -> ms.map(_(k)).sum / ms.size).toMap
      }
      res.detail("query") = perQ.toMap
      res.detail("query_group") = Seq("iterative", "heavy", "light").map { g =>
        val qs = perQ.filter(x => group(x._1) == g).map(_._2)
        g -> qs.head.keys.map(k => k -> qs.map(_(k)).sum).toMap
      }.toMap
      // sched gap + stage time against the measured mix time (per pass)
      val all = perQ.map(_._2)
      res.detail("account.mix_ms_per_pass") = all.map(_("wall_ms")).sum
      res.detail("account.stage_ms_per_pass") = all.map(_("stage_ms")).sum
      res.detail("account.sched_gap_ms_per_pass") = all.map(_("sched_gap_ms")).sum
      res.layers("jvm.gc_ms") = (Tracer.gcMs() - gc0).toDouble
      res.layers("jvm.heap_peak_mb") = Tracer.heapPeakMb()
    }
  }
}
