package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run reports. `e2e` and `layers` carry the metrics named in
  * BENCHMARK.json; `named` carries the same measurements under their
  * workload-specific names, and `detail` the per-layer breakdown of the
  * traced run.
  */
final class Result(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean) {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, Seq[String])]
  val errors = mutable.ArrayBuffer.empty[(String, String, String)]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val named = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  var spans: Seq[Span] = Nil

  def error(where: String, t: Throwable): Unit = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    errors += ((where, root.getClass.getName, String.valueOf(root.getMessage).take(500)))
  }

  def correct: Boolean = errors.isEmpty && checks.forall(_._2)

  def toJson: String = Json.obj(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "errors" -> errors.map { case (w, c, m) => Map("where" -> w, "class" -> c, "message" -> m) },
    "e2e" -> e2e, "named" -> named, "layers" -> layers, "detail" -> detail,
    "spans" -> spans.map(s => Seq(s.id, s.parent, s.name, s.kind, s.startMs, s.endMs, s.selfMs)))
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }
}

/** Benchmark harness entry point:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cpus>`.
  * Writes `result.json` into the work dir and exits 0 whenever it could
  * write it (failures are recorded in the result).
  */
object Main {

  def session(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, cpusS) = args
    val work = new File(workS)
    work.mkdirs()
    val res = new Result(workload, seedS.toLong, secondsS.toInt, traceS == "1")
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    try {
      spark = session(cpusS.toInt, work)
      val tracer = if (res.trace) Some(new Tracer(spark)) else None
      tracer.foreach(_.start())
      val sessionS = (System.currentTimeMillis() - processStart) / 1000.0
      res.detail("session_s") = sessionS
      workload match {
        case "topology" => StreamWorkloads.topology(spark, res, work, tracer, sessionS)
        case "query_mix" => Mix.run(spark, res, work, tracer, sessionS)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.foreach(_.stop())
    } catch {
      case t: Throwable => res.error("harness", t)
    } finally {
      res.layers("jvm.peak_rss_mb") = Tracer.peakRssMb()
      Files.write(new File(work, "result.json").toPath, res.toJson.getBytes(UTF_8))
      if (spark != null) try spark.stop() catch { case _: Throwable => () }
    }
  }
}
