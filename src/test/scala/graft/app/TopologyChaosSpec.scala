package graft.app

import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase
import graft.connector.shardedlog.ShardedLog

/** Kill-and-resume chaos coverage for the full topology (SURVEY §7.4 risk
  * 3, VERDICT r4 item 6): the reference's consumer dies and restarts all
  * the time (Ctrl-C'd CLI lab); the Spark twin must resume from its
  * checkpoint with exactly-once content in the destination streams, no
  * dead-letter loss, and — for the harshest window, a crash AFTER the
  * sink write but BEFORE the offset commit — the documented at-least-once
  * replay that an idempotent reader collapses back to exactly-once, while
  * dead letters stay exactly-once through the replay.
  */
class TopologyChaosSpec extends SparkTestBase {
  import spark.implicits._

  private def record(sid: String, country: String, q1: Int, q2: Int): String =
    s"""{"session_id": "$sid", "customer_number": 1, "city": "X",
       | "country": "$country", "credit_limit": 10, "browse_history": [
       | {"product_code": "P1", "quantity": $q1, "in_shopping_cart": true},
       | {"product_code": "P2", "quantity": "$q2", "in_shopping_cart": false}]}"""
      .stripMargin.replace("\n", "")

  private def destRows(dir: String): Seq[(String, String)] =
    spark.read.format("graft.connector.shardedlog.ShardedLogSource")
      .option("path", dir).load()
      .selectExpr("partition_key", "CAST(data AS STRING) AS data")
      .as[(String, String)].collect().toSeq

  test("kill with backlog, resume from checkpoint: exactly-once end-to-end") {
    val base = Files.createTempDirectory("graft-chaos").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    Seq(src, usa, intl).foreach(ShardedLog.createStream(_, 2))

    def run(trigger: Trigger): Unit = {
      // poll cap 2 → several micro-batches per run: the kill point always
      // leaves committed batches behind it and backlog ahead of it
      val q = Topology.startEtlConsumer(spark, src,
        Map("usa" -> usa, "international" -> intl),
        errorsDir = s"$base/errors", checkpointDir = s"$base/ckpt",
        trigger = trigger, maxRecordsPerPoll = 2)
      try q.processAllAvailable() finally q.stop()
    }

    // batch A lands, consumer processes it, then is killed
    Seq("a1" -> "USA", "a2" -> "USA", "b1" -> "Colombia")
      .zipWithIndex.foreach { case ((sid, c), i) =>
        ShardedLog.putRecord(src, sid, record(sid, c, i + 1, 1).getBytes("UTF-8"))
      }
    ShardedLog.putRecord(src, "x1", "corrupt{{{".getBytes("UTF-8"))
    run(Trigger.ProcessingTime(0))

    // batch B arrives while the consumer is down; then it resumes from
    // the same checkpoint
    ShardedLog.putRecord(src, "a3", record("a3", "USA", 5, 1).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "b2", record("b2", "Peru", 6, 1).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "x2", "also corrupt]]".getBytes("UTF-8"))
    run(Trigger.AvailableNow())

    // destination streams: one copy per session, routed correctly
    val usaRows = destRows(usa)
    assert(usaRows.map(_._1).sorted == Seq("a1", "a2", "a3"),
      s"usa dest must hold exactly a1,a2,a3: $usaRows")
    assert(usaRows.find(_._1 == "a3").get._2
      .contains("\"overall_product_quantity\": 6")) // 5 + strict-cast "1"
    assert(destRows(intl).map(_._1).sorted == Seq("b1", "b2"))
    // dead letter: both corrupt payloads exactly once — no loss, no dup
    val errs = spark.read.json(s"$base/errors")
      .select($"payload").as[String].collect().toSeq
    assert(errs.sorted == Seq("also corrupt]]", "corrupt{{{"))
    // firehose drain of the usa dest: file sink content exactly-once
    val fh = Topology.startFirehose(spark, usa, s"$base/s3-usa",
      s"$base/ckpt-fh", trigger = Trigger.AvailableNow())
    try fh.processAllAvailable() finally fh.stop()
    val delivered = spark.read.json(s"$base/s3-usa")
      .select($"partition_key").as[String].collect().toSeq
    assert(delivered.sorted == Seq("a1", "a2", "a3"))
  }

  test("crash after sink write before commit: replay loses nothing; " +
      "idempotent reader recovers exactly-once") {
    val base = Files.createTempDirectory("graft-chaos2").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    Seq(src, usa, intl).foreach(ShardedLog.createStream(_, 2))
    val sids = (1 to 6).map(i => s"s$i")
    val shards = ShardedLog.listShards(src)
    val malformed = shards.map(shard => s"truncated-$shard{")
    // per shard: three sessions, then a malformed record — with the poll
    // cap of 2 per shard, the last micro-batch (the one the crash below
    // replays) holds sessions AND dead letters
    shards.zip(sids.grouped(3).toSeq).zip(malformed).foreach { case ((shard, group), bad) =>
      val now = System.currentTimeMillis()
      ShardedLog.appendLines(src, shard,
        group.map(sid => (sid, record(sid, "USA", 1, 1).getBytes("UTF-8"), now)) :+
          ((s"x-$shard", bad.getBytes("UTF-8"), now)))
    }

    def run(ckpt: String): Unit = {
      val q = Topology.startEtlConsumer(spark, src,
        Map("usa" -> usa, "international" -> intl),
        errorsDir = s"$base/errors", checkpointDir = ckpt,
        trigger = Trigger.ProcessingTime(0), maxRecordsPerPoll = 2)
      try q.processAllAvailable() finally q.stop()
    }
    run(s"$base/ckpt")

    // Simulate the harshest crash window deterministically: the last
    // micro-batch's sink writes are on disk but its commit marker is
    // lost (crash between foreachBatch returning and the offset-log
    // commit). Spark 4 flags an in-place commit-log regression on the
    // SAME path as concurrent use, so model what an operator actually
    // does after a crash — restore the checkpoint from backup (copy),
    // minus the marker the crash lost — and resume from the restore.
    // On restart Spark MUST replay that batch.
    import scala.jdk.CollectionConverters._
    val srcCkpt = java.nio.file.Paths.get(s"$base/ckpt")
    val restored = java.nio.file.Paths.get(s"$base/ckpt-restored")
    val walk = java.nio.file.Files.walk(srcCkpt)
    try walk.iterator().asScala.foreach { p =>
      java.nio.file.Files.copy(p, restored.resolve(srcCkpt.relativize(p)),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    val commits = new java.io.File(s"$base/ckpt-restored/commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    val newest = commits.maxBy(_.getName.toInt)
    val replayedBatch = newest.getName.toInt
    assert(replayedBatch >= 1, "poll cap must have produced several batches")
    assert(newest.delete())
    // the local FS keeps a Hadoop checksum shadow per file; leaving it
    // behind blocks the re-write of the replayed commit marker
    new java.io.File(newest.getParentFile, s".$replayedBatch.crc").delete()
    run(s"$base/ckpt-restored")

    val usaRows = destRows(usa)
    // no loss: every session is present
    assert(usaRows.map(_._1).toSet == sids.toSet)
    // duplication is bounded by the one replayed batch (≤ cap × shards)
    val dupCount = usaRows.size - sids.size
    assert(dupCount >= 1, "the uncommitted batch must have replayed")
    assert(dupCount <= 4, s"only the replayed batch may duplicate: $usaRows")
    // each session appears once or twice, never more; the replayed copy
    // differs ONLY in processing_timestamp (assigned at processing time,
    // consumer.py semantics — a replay IS a new processing), so the
    // idempotency key is the record content minus the processing stamp
    def norm(data: String): String =
      data.replaceAll("\"processing_timestamp\": \"[^\"]*\", ", "")
    usaRows.groupBy(_._1).foreach { case (sid, rs) =>
      assert(rs.size <= 2, s"$sid appeared ${rs.size} times")
      assert(rs.map(r => norm(r._2)).distinct.size == 1,
        s"replay must write content-identical records for $sid")
    }
    // an idempotent reader (distinct on the business content) recovers
    // exactly-once — the documented contract for PutRecords retries on
    // the reference side as well
    assert(usaRows.map(r => (r._1, norm(r._2))).distinct.size == sids.size)
    // dead letters are exactly-once even across the replay: the replayed
    // batch replaces its dead-letter files instead of adding copies
    val errs = spark.read.json(s"$base/errors")
      .select($"payload").as[String].collect().toSeq
    assert(errs.sorted == malformed.sorted,
      s"each malformed record must be in errors/ exactly once: $errs")
  }
}
