package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.SparkTestBase

/** Unit semantics of the ETL transform against the reference fixtures
  * (FIXTURES.md A1–A3; semantics cited from /root/reference in SURVEY.md
  * §1.4/§2.2).
  */
class SessionEtlSpec extends SparkTestBase {
  import spark.implicits._

  private val canonical =
    """{"session_id": "a1", "customer_number": 100, "city": "Washington",
      | "country": "USA", "credit_limit": 1000, "browse_history": [
      | {"product_code": "Product1", "quantity": 2, "in_shopping_cart": true},
      | {"product_code": "Product2", "quantity": 1, "in_shopping_cart": false}]}"""
      .stripMargin.replace("\n", "")

  private def run(jsons: String*): EtlOutputs =
    SessionEtl.transform(jsons.toDF("data"),
      clock = lit("2025-07-16 14:26:10.123456").cast("timestamp"))

  test("canonical record: all four derived attributes (A2)") {
    val out = run(canonical).enriched.collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("overall_product_quantity") == 3L)
    assert(r.getAs[Long]("overall_in_shopping_cart") == 2L)
    assert(r.getAs[Long]("total_different_products") == 2L)
    assert(r.getAs[String]("route") == "usa")
    val data = r.getAs[String]("data")
    assert(data.contains(""""processing_timestamp": "2025-07-16T14:26:10.123456""""))
    assert(data.contains(""""overall_product_quantity": 3"""))
    assert(data.startsWith("""{"session_id": "a1""""))
  }

  test("string quantity is int-coerced (A3: lenient coercion)") {
    val j = canonical.replace("\"quantity\": 2,", "\"quantity\": \"2\",")
    val r = run(j).enriched.collect().head
    assert(r.getAs[Long]("overall_product_quantity") == 3L)
  }

  test("truthy-string cart flag does NOT count (A3: strict boolean)") {
    // in_shopping_cart: "true" as a JSON string — schema says boolean, the
    // permissive parse nulls it; Python `"true" is True` is False. Either
    // way it must not count, and the record stays valid.
    val j = canonical.replace("\"in_shopping_cart\": true", "\"in_shopping_cart\": \"true\"")
    val r = run(j).enriched.collect().head
    assert(r.getAs[Long]("overall_in_shopping_cart") == 0L)
    assert(r.getAs[Long]("overall_product_quantity") == 3L)
  }

  test("empty browse_history → 0/0/0, still routed (A3)") {
    val j = """{"session_id":"e1","country":"Colombia","browse_history":[]}"""
    val r = run(j).enriched.collect().head
    assert(r.getAs[Long]("overall_product_quantity") == 0L)
    assert(r.getAs[Long]("overall_in_shopping_cart") == 0L)
    assert(r.getAs[Long]("total_different_products") == 0L)
    assert(r.getAs[String]("route") == "international")
  }

  test("duplicate product codes both count (A3: plain length, no dedup)") {
    val j = """{"session_id":"d1","country":"USA","browse_history":[
      |{"product_code":"P","quantity":1,"in_shopping_cart":true},
      |{"product_code":"P","quantity":4,"in_shopping_cart":true}]}"""
      .stripMargin.replace("\n", "")
    val r = run(j).enriched.collect().head
    assert(r.getAs[Long]("total_different_products") == 2L)
    assert(r.getAs[Long]("overall_product_quantity") == 5L)
  }

  test("extra unknown field passes through to output unchanged (A3)") {
    val j = canonical.dropRight(1) + ""","loyalty_tier": "gold"}"""
    val r = run(j).enriched.collect().head
    assert(r.getAs[String]("data").contains(""""loyalty_tier": "gold""""))
  }

  test("routing is case-sensitive exact match (A3: lowercase usa → international)") {
    val j = canonical.replace("\"country\": \"USA\"", "\"country\": \"usa\"")
    val r = run(j).enriched.collect().head
    assert(r.getAs[String]("route") == "international")
  }

  test("missing required fields dead-letter with reasons, pipeline continues (A3)") {
    val noBh = """{"session_id":"x1","country":"USA"}"""
    val noCountry = """{"session_id":"x2","browse_history":[]}"""
    val noSession = """{"country":"USA","browse_history":[]}"""
    val out = run(noBh, noCountry, noSession, canonical)
    assert(out.enriched.count() == 1)
    val dead = out.deadLetter.collect().map(r =>
      r.getAs[String]("payload") -> r.getAs[String]("error")).toMap
    assert(dead(noBh) == "missing_browse_history")
    assert(dead(noCountry) == "missing_country")
    assert(dead(noSession) == "missing_session_id")
  }

  test("corrupt JSON dead-letters, no crash (A3)") {
    val out = run("not json", canonical)
    assert(out.enriched.count() == 1)
    val dead = out.deadLetter.collect()
    assert(dead.length == 1)
    assert(dead.head.getAs[String]("error") == "corrupt_json")
    assert(dead.head.getAs[String]("payload") == "not json")
  }

  test("non-coercible quantity dead-letters (int() raises in reference)") {
    val j = canonical.replace("\"quantity\": 2,", "\"quantity\": \"two\",")
    val out = run(j)
    assert(out.enriched.count() == 0)
    assert(out.deadLetter.collect().head.getAs[String]("error") == "bad_quantity")
  }

  test("float quantity truncates toward zero like Python int() (consumer.py:137)") {
    // JSON number 2.5: reference's int(2.5) == 2. (A quoted "2.5" is
    // indistinguishable after the StringType parse and is accepted too —
    // documented divergence in Enrich.qty.)
    val j = canonical.replace("\"quantity\": 2,", "\"quantity\": 2.5,")
    val out = run(j)
    assert(out.deadLetter.count() == 0)
    // canonical sums to 2 + 1 = 3; int(2.5) == 2 keeps it 3
    assert(out.enriched.collect().head
      .getAs[Long]("overall_product_quantity") == 3L)
  }

  test("null in_shopping_cart is valid and not counted (None is True → False)") {
    val j = canonical.replace("\"in_shopping_cart\": true", "\"in_shopping_cart\": null")
    val r = run(j).enriched.collect().head
    assert(r.getAs[Long]("overall_in_shopping_cart") == 0L)
  }

  test("fanOut: dead-letter lines are DataFrameWriter.json's lines for all five error classes") {
    val bad = Seq(
      "not json" -> "corrupt_json",
      """{"country":"USA","browse_history":[]}""" -> "missing_session_id",
      """{"session_id":"x2","browse_history":[]}""" -> "missing_country",
      """{"session_id":"x1","country":"USA"}""" -> "missing_browse_history",
      canonical.replace("\"quantity\": 2,", "\"quantity\": \"two\",") -> "bad_quantity")
    // the source's pass-through columns, with one null key to show null
    // fields are left out the same way
    val raw = (bad.map(_._1) :+ canonical).zipWithIndex.map { case (j, i) =>
      ("shard-00001", i.toLong, java.sql.Timestamp.valueOf(s"2025-07-16 14:26:1$i.25"),
        if (i == 0) null else s"k$i", j)
    }.toDF("shard", "sequence_number", "arrival_timestamp", "partition_key", "data")
      .withColumn("data", col("data").cast("binary"))
    val clock = lit("2025-07-16 14:26:10.123456").cast("timestamp")
    val outs = SessionEtl.transform(raw, clock = clock)
    val dir = java.nio.file.Files.createTempDirectory("graft-dead-letter").resolve("errors").toString
    outs.deadLetter.withColumn("payload", col("payload").cast("string")).write.json(dir)
    val written = spark.read.text(dir).as[String].collect().sorted.toSeq
    assert(spark.read.json(dir).select("error").as[String].collect().sorted.toSeq ==
      bad.map(_._2).sorted)
    val isoMillis = "\"arrival_timestamp\":\"\\d{4}-\\d\\d-\\d\\dT\\d\\d:\\d\\d:\\d\\d\\.250(Z|[+-]\\d\\d:\\d\\d)\"".r
    assert(written.size == bad.size && written.forall(isoMillis.findFirstIn(_).isDefined), written)
    assert(written.count(_.contains("\"partition_key\"")) == bad.size - 1, written)

    val fanned = SessionEtl.fanOut(raw, clock = clock)
    val lines = fanned.filter(col("destination") === SessionEtl.ErrorChannel)
      .select("line").as[String].collect().sorted.toSeq
    assert(lines == written)
    // the valid record's line is transform's enriched `data`, on its route
    val valid = fanned.filter(col("destination") =!= SessionEtl.ErrorChannel)
      .select("destination", "line").as[(String, String)].collect().toSeq
    assert(valid == outs.enriched.select("route", "data").as[(String, String)].collect().toSeq)
  }

  test("pass-through source columns survive (shard/sequence metadata)") {
    val df = Seq(("s-0", 7L, canonical)).toDF("shard", "seq", "data")
    val out = SessionEtl.transform(df)
    val r = out.enriched.collect().head
    assert(r.getAs[String]("shard") == "s-0" && r.getAs[Long]("seq") == 7L)
  }
}
