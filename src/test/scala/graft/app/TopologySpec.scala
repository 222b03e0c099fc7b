package graft.app

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.connector.shardedlog.ShardedLog

/** Full reference topology E2E (SURVEY.md §2.7): producer → source stream
  * → ETL consumer → routed destination streams → firehose file delivery,
  * with dead-letter on the side.
  */
class TopologySpec extends SparkTestBase {
  import spark.implicits._

  private def record(sid: String, country: String, q1: Int, q2: Int): String =
    s"""{"session_id": "$sid", "customer_number": 1, "city": "X",
       | "country": "$country", "credit_limit": 10, "browse_history": [
       | {"product_code": "P1", "quantity": $q1, "in_shopping_cart": true},
       | {"product_code": "P2", "quantity": "$q2", "in_shopping_cart": false}]}"""
      .stripMargin.replace("\n", "")

  test("producer → etl consumer → routed dest streams → firehose files") {
    val base = Files.createTempDirectory("graft-topo").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    ShardedLog.createStream(src, 2)
    ShardedLog.createStream(usa, 2)
    ShardedLog.createStream(intl, 2)

    // producer (PutRecord, keyed by session_id)
    ShardedLog.putRecord(src, "a1", record("a1", "USA", 2, 1).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "b2", record("b2", "Colombia", 3, 4).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "c3", "corrupt{{{".getBytes("UTF-8"))

    val etl = Topology.startEtlConsumer(spark, src,
      Map("usa" -> usa, "international" -> intl),
      errorsDir = s"$base/errors", checkpointDir = s"$base/ckpt-etl",
      trigger = Trigger.ProcessingTime(0))
    try etl.processAllAvailable() finally etl.stop()

    // destination streams hold enriched serialized records, keyed correctly
    val usaRows = spark.read.format("graft.connector.shardedlog.ShardedLogSource")
      .option("path", usa).load()
      .selectExpr("partition_key", "CAST(data AS STRING) AS data").collect()
    assert(usaRows.length == 1)
    assert(usaRows.head.getString(0) == "a1")
    assert(usaRows.head.getString(1).contains("\"overall_product_quantity\": 3"))
    assert(usaRows.head.getString(1).contains("\"overall_in_shopping_cart\": 2"))

    val intlRows = spark.read.format("graft.connector.shardedlog.ShardedLogSource")
      .option("path", intl).load()
      .selectExpr("partition_key", "CAST(data AS STRING) AS data").collect()
    assert(intlRows.length == 1 && intlRows.head.getString(0) == "b2")
    assert(intlRows.head.getString(1).contains("\"overall_product_quantity\": 7"))

    // dead-letter captured the corrupt record
    val errs = spark.read.json(s"$base/errors")
    assert(errs.count() == 1)
    assert(errs.select("error").as[String].collect().head == "corrupt_json")

    // firehose delivery drains the dest stream to JSON files
    val fh = Topology.startFirehose(spark, usa, s"$base/s3-usa",
      s"$base/ckpt-fh", trigger = Trigger.ProcessingTime(0))
    try fh.processAllAvailable() finally fh.stop()
    val delivered = spark.read.json(s"$base/s3-usa")
    assert(delivered.count() == 1)
    assert(delivered.select("partition_key").as[String].collect().head == "a1")
  }

  test("one ETL micro-batch with both routes and a dead letter runs at most two Spark jobs") {
    val base = Files.createTempDirectory("graft-topo-jobs").toString
    val src = s"$base/source"; val usa = s"$base/usa"; val intl = s"$base/intl"
    Seq(src, usa, intl).foreach(ShardedLog.createStream(_, 2))
    ShardedLog.putRecord(src, "a1", record("a1", "USA", 2, 1).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "b2", record("b2", "Peru", 3, 4).getBytes("UTF-8"))
    ShardedLog.putRecord(src, "c3", "corrupt{{{".getBytes("UTF-8"))

    // (query id, batch id, job group) of every job started from now on
    val jobs = new ConcurrentLinkedQueue[(String, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        jobs.add((prop("sql.streaming.queryId"), prop("streaming.sql.batchId"),
          prop("spark.jobGroup.id")))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val etl = Topology.startEtlConsumer(spark, src,
      Map("usa" -> usa, "international" -> intl),
      errorsDir = s"$base/errors", checkpointDir = s"$base/ckpt-etl",
      trigger = Trigger.ProcessingTime(0))
    try etl.processAllAvailable() finally etl.stop()
    // listener events arrive in order: once a marker job's start is seen,
    // every job of the micro-batch has been seen too
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(marker, "listener barrier")
    try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (!jobs.asScala.exists(_._3 == marker) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    spark.sparkContext.removeSparkListener(listener)

    val perBatch = jobs.asScala.toSeq.filter(_._1 == etl.id.toString).groupBy(_._2)
    assert(perBatch.keySet == Set("0"), s"expected one micro-batch: $perBatch")
    assert(perBatch("0").size <= 2,
      s"one scan and one shuffle must take at most 2 jobs, ran ${perBatch("0").size}")
    // and that one batch wrote all three destinations
    Seq(usa -> "a1", intl -> "b2").foreach { case (dir, sid) =>
      assert(spark.read.format("graft.connector.shardedlog.ShardedLogSource")
        .option("path", dir).load().select("partition_key").as[String].collect()
        .toSeq == Seq(sid))
    }
    assert(spark.read.json(s"$base/errors").select("error").as[String].collect()
      .toSeq == Seq("corrupt_json"))
  }
}
