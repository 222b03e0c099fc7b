package graft.app

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.connector.shardedlog.{ShardedLog, ShardedLogSource, ShardedLogWriter}
import graft.etl.SessionEtl

/** The reference's full streaming topology (SURVEY.md §2.7), Spark-native:
  *
  * producer → source stream → ETL consumer → {usa, international} dest
  * streams → firehose-style buffered file delivery → output dirs (+
  * `errors/` dead-letter).
  *
  * Three entry points mirror the reference's three CLI mains (§3.1–3.3).
  */
object Topology {

  def readStream(spark: SparkSession, streamDir: String,
      startingPosition: String = "earliest",
      maxRecordsPerPoll: Int = 200): DataFrame =
    spark.readStream.format(ShardedLogSource.ShortName)
      .option("path", streamDir)
      .option("startingPosition", startingPosition)
      .option("maxRecordsPerPoll", maxRecordsPerPoll.toString)
      .load()

  /** ETL consumer (≙ consumer.py): source stream → decode/validate/enrich/
    * route → keyed PutRecords into the destination stream per route, and
    * dead-letter JSON under `errorsDir`.
    *
    * Each non-empty micro-batch is one scan, one decode and one shuffle:
    * [[SessionEtl.fanOut]] gives every record its destination and output
    * line, and one multi-destination [[ShardedLogWriter.write]] appends the
    * routed records and writes the dead letters — two Spark jobs (the
    * shuffle's map stage, then the writing stage). Per-session_id order is
    * preserved via (shard, sequence_number) ordering into the destination
    * shards.
    *
    * Dead letters go to one file per (micro-batch, source shard), named
    * `part-<query id>-<batch id>-<source shard>.json` by the streaming
    * query's id (kept in the checkpoint, so a restart keeps it) and the
    * batch id. Replay contract: a batch that runs again after a crash
    * before its commit appends its routed records to the destination
    * streams again (at-least-once; the copies differ only in
    * `processing_timestamp`), but replaces its dead-letter files, so dead
    * letters are exactly-once.
    */
  def startEtlConsumer(spark: SparkSession, sourceStream: String,
      destStreams: Map[String, String], errorsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxRecordsPerPoll: Int = 200): StreamingQuery = {
    val source = readStream(spark, sourceStream, maxRecordsPerPoll = maxRecordsPerPoll)
    source.writeStream
      .queryName("graft-etl-consumer")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val queryId = batch.sparkSession.sparkContext
          .getLocalProperty(StreamExecution.QUERY_ID_KEY)
        val deadLetters = ShardedLogWriter.FileChannel(SessionEtl.ErrorChannel,
          errorsDir, col("shard"), shard => s"part-$queryId-$batchId-$shard.json")
        ShardedLogWriter.write(SessionEtl.fanOut(batch), col("destination"),
          destStreams, Seq(deadLetters), col("session_id"), col("line"),
          Seq(col("shard"), col("sequence_number")))
      }
      .start()
  }

  /** Firehose-style delivery (≙ Solution.ipynb cell 28): drain a
    * destination stream into JSON files on a 60 s cadence (BufferingHints
    * IntervalInSeconds=60 — the TIME half only; [[startFirehoseBuffered]]
    * models both halves).
    */
  def startFirehose(spark: SparkSession, destStream: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    readStream(spark, destStream, maxRecordsPerPoll = 100000)
      .selectExpr("shard", "sequence_number", "partition_key",
        "CAST(data AS STRING) AS data")
      .writeStream
      .queryName(s"graft-firehose-${new java.io.File(destStream).getName}")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .format("json")
      .option("path", outDir)
      .start()

  /** Firehose delivery with the FULL `BufferingHints` contract
    * (Solution.ipynb cell 28: `SizeInMBs: 1` OR `IntervalInSeconds: 60`,
    * whichever comes first): micro-batches are polled frequently but only
    * BUFFERED — cached distributed datasets, never driver-collected — and
    * delivered to `outDir` when the accumulated payload bytes reach
    * `sizeBytes`, when `intervalMs` has elapsed since the last delivery,
    * or (best-effort, like Firehose shutdown) when the query terminates.
    * The flush decision is driver-side control-plane (exactly where
    * Firehose's own buffer scheduler lives); the data path stays on
    * executors end-to-end.
    */
  def startFirehoseBuffered(spark: SparkSession, destStream: String,
      outDir: String, checkpointDir: String,
      sizeBytes: Long = 1L << 20, intervalMs: Long = 60000L,
      pollTrigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    val state = new Object {
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var bufferedBytes = 0L
      var lastFlushMs = System.currentTimeMillis()
      def flush(): Unit = synchronized {
        if (parts.nonEmpty) {
          parts.reduce(_ unionAll _)
            .write.mode(SaveMode.Append).json(outDir)
          parts.foreach(_.unpersist(blocking = false))
          parts.clear()
          bufferedBytes = 0L
        }
        lastFlushMs = System.currentTimeMillis()
      }
      def add(batch: DataFrame): Unit = {
        // Persist + materialize inside the micro-batch (foreachBatch
        // frames are not readable after the batch completes); the byte
        // count doubles as the materializing action.
        val cached = batch.persist()
        val bytes = cached
          .agg(sum(octet_length(col("data"))).cast("long")).collect()(0)
        val n = if (bytes.isNullAt(0)) 0L else bytes.getLong(0)
        synchronized { parts += cached; bufferedBytes += n }
        if (synchronized(bufferedBytes) >= sizeBytes) flush()
      }
    }
    val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-firehose-buffer"); t.setDaemon(true); t })
    timer.scheduleWithFixedDelay(() => {
      if (System.currentTimeMillis() - state.lastFlushMs >= intervalMs)
        try state.flush() catch { case _: Throwable => () }
    }, 200, math.max(100, intervalMs / 10), java.util.concurrent.TimeUnit.MILLISECONDS)
    val query = readStream(spark, destStream, maxRecordsPerPoll = 100000)
      .selectExpr("shard", "sequence_number", "partition_key",
        "CAST(data AS STRING) AS data")
      .writeStream
      .queryName(s"graft-firehose-buffered-${new java.io.File(destStream).getName}")
      .trigger(pollTrigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => state.add(batch); () }
      .start()
    // shutdown flush + timer teardown, scoped to exactly this query
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            timer.shutdown()
            try state.flush() catch { case _: Throwable => () }
            spark.streams.removeListener(this)
          }
      })
    query
  }
}

/** End-to-end latency probe: stands up the full topology (source stream →
  * ETL consumer → usa dest stream → firehose file delivery), injects one
  * record, and reports the ingest→file-visible latency.
  *
  * Reference comparison: the lab observes 5–7 MINUTES end-to-end, dominated
  * by Firehose's 60 s minimum buffer plus S3 delivery (reference
  * Solution.ipynb cell 28 BufferingHints + README's "wait a few minutes").
  * Here the same wire path is trigger-bound: with a 1 s ETL trigger and a
  * 2 s firehose trigger the probe typically lands in single-digit seconds
  * on one box — the buffered-delivery semantics are preserved (set the
  * firehose trigger to 60 s to reproduce the reference's cadence), the
  * floor is not.
  */
object LatencyProbe {
  def main(args: Array[String]): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft-latency")
    def dir(n: String) = base.resolve(n).toString
    Seq("src", "usa", "intl").foreach(s => ShardedLog.createStream(dir(s), 2))
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-latency-probe")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    val etl = Topology.startEtlConsumer(spark, dir("src"),
      Map("usa" -> dir("usa"), "international" -> dir("intl")),
      dir("errors"), dir("ckpt-etl"), Trigger.ProcessingTime("1 second"))
    val firehose = Topology.startFirehose(spark, dir("usa"), dir("out"),
      dir("ckpt-fh"), Trigger.ProcessingTime("2 seconds"))
    try {
      val payload =
        """{"session_id": "probe-1", "country": "USA", "browse_history": [
          |{"product_code": "P1", "quantity": 2, "in_shopping_cart": true}]}"""
          .stripMargin.replace("\n", "")
      val t0 = System.nanoTime()
      ShardedLog.putRecord(dir("src"), "probe-1", payload.getBytes("UTF-8"))
      val deadline = t0 + 120L * 1000 * 1000 * 1000
      var seen = false
      while (!seen && System.nanoTime() < deadline) {
        val outDir = new java.io.File(dir("out"))
        seen = Option(outDir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".json"))
          .exists(f => new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            .contains("probe-1"))
        if (!seen) Thread.sleep(100)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (seen)
        println(f"LATENCY ingest->file-visible: $ms%.0f ms " +
          "(reference: 5-7 min, Firehose 60 s buffer + S3 delivery)")
      else println("LATENCY probe timed out after 120 s")
    } finally {
      etl.stop(); firehose.stop(); spark.stop()
      // probe is throwaway: clean the temp topology up
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

/** ≙ the notebook's infra DDL (S8): create a stream with N shards
  * (`create_stream(ShardCount=2)`, Solution.ipynb cell 24).
  */
object CreateStream {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val shards = opts.getOrElse("--shard_count", "2").toInt
    ShardedLog.createStream(opts("--stream"), shards)
    println(s"Stream ${opts("--stream")} ACTIVE with $shards shards")
  }
}

/** ≙ producer_from_cli_my_modifications.py: single keyed PutRecord. */
object Producer {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val stream = opts("--stream")
    val json = opts("--json_string")
    val key = ujsonKey(json)
    val (shard, seq) = ShardedLog.putRecord(stream, key, json.getBytes("UTF-8"))
    println(s"Record sent to shard=$shard sequence_number=$seq")
  }
  /** Extract session_id without a JSON dep (PartitionKey=payload["session_id"]). */
  private def ujsonKey(json: String): String = {
    val m = """"session_id"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json)
    m.map(_.group(1)).getOrElse(
      throw new IllegalArgumentException("payload has no session_id"))
  }
}

/** ≙ consumer_from_cli_my_modifications.py: poll → decode → log. */
object ConsoleConsumer {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-console-consumer")
      .config("spark.ui.enabled", "false").getOrCreate()
    val q = Topology.readStream(spark, opts("--stream"))
      .selectExpr("shard", "sequence_number", "CAST(data AS STRING) AS data")
      .writeStream.format("console")
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("truncate", "false")
      .start()
    q.awaitTermination()
  }
}

/** ≙ consumer.py: the ETL consumer CLI. `--dest_streams` takes
  * `usa=<dir>,international=<dir>` (the reference's JSON routing config,
  * consumer.py:24-28, without a JSON parser dependency).
  */
object EtlConsumer {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).map(a => a(0) -> a(1)).toMap
    val dest = opts("--dest_streams").split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-etl-consumer")
      .config("spark.ui.enabled", "false").getOrCreate()
    val q = Topology.startEtlConsumer(spark, opts("--source_stream"), dest,
      opts.getOrElse("--errors_dir", opts("--source_stream") + "-errors"),
      opts.getOrElse("--checkpoint", opts("--source_stream") + "-ckpt"))
    q.awaitTermination()
  }
}
