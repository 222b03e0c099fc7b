package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.app.Topology
import graft.connector.shardedlog.ShardedLog

/** Seeded `user_session` payloads in StreamBench's shape: 10 countries with
  * half the records from the USA, 1–3 browse items each. 2 % are malformed,
  * split equally between corrupt JSON, a missing `session_id` and a
  * non-numeric quantity. Every record carries its index (`seq`) and its
  * scheduled send time (`created_ms`) as extra fields the ETL must pass
  * through unchanged.
  */
final class PayloadGen(seed: Long, numKeys: Int) {
  import PayloadGen._

  private def h(i: Long, salt: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** 0 valid, else one of the [[ErrorClass]] kinds. */
  def kind(i: Long): Int = if (h(i, 1) % 100 < 2) 1 + (h(i, 2) % 3).toInt else Valid

  def key(i: Long): String =
    if (kind(i) == Valid || kind(i) == BadQuantity) s"s$seed-${h(i, 3) % numKeys}" else s"bad-$i"

  def country(i: Long): String = Countries((h(i, 4) % Countries.length).toInt)

  def payload(i: Long, createdMs: Long): String = {
    val k = kind(i)
    if (k == CorruptJson) return s"not-json seq=$i created_ms=$createdMs {"
    val n = 1 + (h(i, 5) % 3).toInt
    val items = (0 until n).map { j =>
      val q = if (k == BadQuantity && j == 0) "\"lots\"" else (1 + h(i, 10 + j) % 5).toString
      s"""{"product_code": "P${h(i, 20 + j) % 997}", "quantity": $q, "in_shopping_cart": ${h(i, 30 + j) % 2 == 0}}"""
    }.mkString("[", ", ", "]")
    val sid = if (k == MissingSessionId) "" else s""""session_id": "${key(i)}", """
    s"""{$sid"customer_number": ${h(i, 6) % 100000}, "country": "${country(i)}", "browse_history": $items, "seq": $i, "created_ms": $createdMs}"""
  }
}

object PayloadGen {
  val Valid = 0
  val CorruptJson = 1
  val MissingSessionId = 2
  val BadQuantity = 3
  val ErrorClass: Map[Int, String] =
    Map(CorruptJson -> "corrupt_json", MissingSessionId -> "missing_session_id",
      BadQuantity -> "bad_quantity")
  val Countries: Array[String] = Array("USA", "France", "Japan", "USA", "Brazil", "USA",
    "Germany", "USA", "India", "USA")

  private val SeqRe = """seq[^0-9]{1,6}(\d+)""".r
  private val CreatedRe = """created_ms[^0-9]{1,6}(\d+)""".r
  def seqOf(s: String): Long = SeqRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)
  def createdOf(s: String): Long =
    CreatedRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)
}

/** The reference topology on disk: a 4-shard source, `usa`/`international`
  * destination streams (2 shards each), the dead-letter dir and one Firehose
  * output dir per route.
  */
final class TopologyDirs(base: File) {
  def path(n: String): String = new File(base, n).getPath
  val src: String = path("src")
  val dest: Map[String, String] = Map("usa" -> path("usa"), "international" -> path("intl"))
  val out: Map[String, String] = Map("usa" -> path("out-usa"), "international" -> path("out-intl"))
  val errors: String = path("errors")
  def create(): Unit = {
    base.mkdirs()
    ShardedLog.createStream(src, 4)
    dest.values.foreach(ShardedLog.createStream(_, 2))
  }
}

/** Watches the Firehose outputs: a file counts as delivered once the file
  * sink's `_spark_metadata` log commits it. Records the first time each
  * record index is seen, and which route delivered it how often.
  */
final class DeliveryWatcher(outs: Map[String, String]) {
  val seenMs = new ConcurrentHashMap[Long, java.lang.Long]()
  val createdMs = new ConcurrentHashMap[Long, java.lang.Long]()
  val deliveries = new ConcurrentHashMap[Long, String]() // seq -> routes, comma-joined
  val dataOf = new ConcurrentHashMap[Long, String]()
  @volatile var lastCommitMs: Long = 0L
  @volatile var files: Long = 0L
  @volatile var bytes: Long = 0L
  private val knownLogs = mutable.HashSet.empty[String]
  private val knownFiles = mutable.HashSet.empty[String]
  @volatile private var running = true
  private val PathRe = """"path"\s*:\s*"([^"]+)"""".r
  private val DataRe = """"data"\s*:\s*"((?:[^"\\]|\\.)*)"""".r

  private def unescape(s: String): String = s.replace("\\\"", "\"").replace("\\\\", "\\")

  def poll(): Unit = synchronized {
    outs.foreach { case (route, dir) =>
      val meta = new File(dir, "_spark_metadata")
      val logs = Option(meta.listFiles()).getOrElse(Array.empty[File])
        .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
        .filterNot(f => knownLogs.contains(f.getPath))
        .sortBy(f => f.getName.takeWhile(_.isDigit).toLongOption.getOrElse(0L))
      logs.foreach { log =>
        val lines = try Files.readAllLines(log.toPath, UTF_8).asScala catch {
          case _: java.io.IOException => Nil
        }
        if (lines.nonEmpty) {
          knownLogs += log.getPath
          val now = System.currentTimeMillis()
          lines.flatMap(l => PathRe.findFirstMatchIn(l).map(_.group(1))).foreach { p =>
            val f = new File(new java.net.URI(p))
            if (knownFiles.add(f.getPath)) {
              files += 1
              bytes += f.length()
              lastCommitMs = now
              Files.readAllLines(f.toPath, UTF_8).asScala.foreach { line =>
                DataRe.findFirstMatchIn(line).foreach { m =>
                  val data = unescape(m.group(1))
                  val seq = PayloadGen.seqOf(data)
                  seenMs.putIfAbsent(seq, now)
                  createdMs.putIfAbsent(seq, PayloadGen.createdOf(data))
                  dataOf.putIfAbsent(seq, data)
                  deliveries.merge(seq, route, (a, b) => a + "," + b)
                }
              }
            }
          }
        }
      }
    }
  }

  private val thread = new Thread(() => {
    while (running) { poll(); Thread.sleep(20) }
  }, "perfbench-delivery-watcher")
  thread.setDaemon(true)

  def start(): this.type = { thread.start(); this }
  def stop(): Unit = { running = false; thread.join(); poll() }
}

/** Outcome of a stream workload's output checks: the indices of the records
  * that failed any check, each counted once.
  */
final case class StreamCheck(failed: Set[Long], details: Seq[String]) {
  def ok: Boolean = failed.isEmpty
}

object Streams {

  def startFirehoses(spark: SparkSession, d: TopologyDirs, ckpt: String,
      trigger: Trigger): Seq[StreamingQuery] = startFirehoses(spark, d.dest, d.out, ckpt, trigger)

  def startFirehoses(spark: SparkSession, dest: Map[String, String], out: Map[String, String],
      ckpt: String, trigger: Trigger): Seq[StreamingQuery] =
    dest.toSeq.sortBy(_._1).map { case (route, stream) =>
      Topology.startFirehose(spark, stream, out(route), s"$ckpt/fh-$route", trigger)
    }

  /** Append records [from, until) grouped by owning shard; returns the
    * per-call append times in ms.
    */
  def append(gen: PayloadGen, dir: String, from: Long, until: Long, createdMs: Long): Seq[Double] = {
    val byShard = (from until until).groupBy(i => ShardedLog.shardName(ShardedLog.shardFor(gen.key(i), 4)))
    byShard.toSeq.sortBy(_._1).map { case (shard, idx) =>
      val recs = idx.sorted.map(i => (gen.key(i), gen.payload(i, createdMs).getBytes(UTF_8), createdMs))
      val t0 = System.nanoTime()
      ShardedLog.appendLines(dir, shard, recs)
      (System.nanoTime() - t0) / 1e6
    }
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmrf)
    f.delete()
  }

  /** Dead-letter rows: (record index, error class) per malformed record found. */
  def deadLetters(spark: SparkSession, errorsDir: String): Seq[(Long, String)] =
    if (!new File(errorsDir).exists()) Nil
    else spark.read.json(errorsDir).select("payload", "error").collect().toSeq
      .map(r => (PayloadGen.seqOf(r.getString(0)), r.getString(1)))

  /** Output checks shared by both stream workloads, over records [0, n):
    *  - every valid record is delivered exactly once, by the right route's
    *    Firehose, with its input fields passed through byte-for-byte;
    *  - every malformed record lands exactly once in `errors/` with the
    *    expected error class;
    *  - per-key order holds in the destination streams, and each destination
    *    stream holds exactly its route's valid records.
    */
  def check(spark: SparkSession, gen: PayloadGen, n: Long, d: TopologyDirs,
      w: DeliveryWatcher): StreamCheck = {
    val problems = mutable.ArrayBuffer.empty[String]
    val failed = mutable.HashSet.empty[Long]
    def fail(i: Long, msg: => String): Unit = {
      failed += i
      if (problems.size < 20) problems += msg
    }
    def route(i: Long) = if (gen.country(i) == "USA") "usa" else "international"
    val dead = deadLetters(spark, d.errors).groupBy(_._1)
    var nDead = 0L
    var i = 0L
    while (i < n) {
      val k = gen.kind(i)
      if (k == PayloadGen.Valid) {
        val got = Option(w.deliveries.get(i)).getOrElse("")
        if (got != route(i)) fail(i, s"record $i delivered to [$got], expected [${route(i)}]")
        else {
          val in = gen.payload(i, w.createdMs.get(i))
          if (!w.dataOf.get(i).startsWith(in.dropRight(1) + ", \"processing_timestamp\""))
            fail(i, s"record $i: input fields not passed through unchanged")
        }
      } else {
        nDead += 1
        val want = PayloadGen.ErrorClass(k)
        val got = dead.getOrElse(i, Nil).map(_._2)
        if (got != Seq(want)) fail(i, s"malformed record $i in errors/ as $got, expected [$want]")
        if (w.deliveries.containsKey(i)) fail(i, s"malformed record $i was delivered")
      }
      i += 1
    }
    w.deliveries.keySet().asScala.filter(s => s < 0 || s >= n)
      .foreach(s => fail(s, s"delivered record $s was never produced"))
    // destination streams: right route, exactly once, per-key order
    d.dest.foreach { case (r, stream) =>
      val seen = mutable.HashSet.empty[Long]
      ShardedLog.endOffsets(stream).foreach { case (shard, end) =>
        val lastByKey = mutable.HashMap.empty[String, Long]
        ShardedLog.read(stream, shard, 0L, end).foreach { rec =>
          val seq = PayloadGen.seqOf(new String(rec.data, UTF_8))
          if (!seen.add(seq)) fail(seq, s"record $seq twice in $r stream")
          if (seq < 0 || seq >= n || gen.kind(seq) != PayloadGen.Valid || route(seq) != r)
            fail(seq, s"record $seq does not belong in the $r stream")
          val prev = lastByKey.getOrElse(rec.partitionKey, -1L)
          if (seq <= prev) fail(seq, s"key ${rec.partitionKey}: $seq after $prev in $r/$shard")
          lastByKey(rec.partitionKey) = seq
        }
      }
      (0L until n).filter(i => gen.kind(i) == PayloadGen.Valid && route(i) == r && !seen(i))
        .foreach(i => fail(i, s"record $i missing from the $r stream"))
    }
    StreamCheck(failed.toSet,
      s"checked $n records ($nDead malformed, ${dead.values.map(_.size).sum} dead letters)" +: problems.toSeq)
  }
}
