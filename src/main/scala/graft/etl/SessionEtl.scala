package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Outputs of the ETL transform: the enriched+routed stream and the
  * dead-letter channel (reference: log-and-skip, consumer.py:178-185;
  * Firehose `errors/` prefix, Solution.ipynb cell 28).
  */
final case class EtlOutputs(enriched: DataFrame, deadLetter: DataFrame)

/** The reference's full consumer transform (SURVEY.md §2.7) as one
  * declarative batch/streaming-agnostic pipeline:
  *
  * decode JSON (S4) → validate → enrich P1–P4 → route P5 → serialize (S5).
  *
  * Works identically on a batch DataFrame and a streaming one (pure
  * projections/filters — no state, no shuffle), so the same code path backs
  * unit tests, the golden E2E, and the production streaming topology. At
  * scale this is a single whole-stage-codegen map stage: throughput is
  * bounded by scan + JSON parse, and parallelism is the source's partition
  * count (shards).
  */
object SessionEtl {

  /** Schema used for parsing: session schema + corrupt-record channel. */
  private val parseSchema: StructType =
    SessionSchemas.session.add(SessionSchemas.corruptColumn, StringType)

  /** S4: bytes/string JSON → parsed struct, PERMISSIVE with corrupt capture.
    * Input must have a `data` column (BinaryType or StringType); all other
    * input columns (shard, sequence_number, …) pass through untouched.
    */
  def decode(raw: DataFrame, dataCol: String = "data"): DataFrame = {
    val asString = raw.schema(dataCol).dataType match {
      case StringType => col(dataCol)
      case _          => col(dataCol).cast("string")
    }
    raw
      .withColumn("raw_json", asString)
      .withColumn("parsed",
        from_json(col("raw_json"), parseSchema,
          Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> SessionSchemas.corruptColumn)))
  }

  /** Validity per reference semantics (§1.4): a record is dead-lettered iff
    * processing it would raise in the reference consumer —
    *  - unparseable JSON (json.loads raises, consumer.py:118)
    *  - missing session_id (PutRecord PartitionKey lookup, consumer.py:170)
    *  - missing country (routing lookup, consumer.py:161)
    *  - missing browse_history (iteration, consumer.py:135)
    *  - any item whose quantity is not numeric (int(...) raises,
    *    consumer.py:137; floats truncate — see [[Enrich.qty]] for the
    *    lenient string-vs-number divergence note)
    * A null `in_shopping_cart` is VALID and simply not counted (Python
    * `None is True` is False, it does not raise — consumer.py:142).
    *
    * Note the corrupt-record column is deliberately NOT part of validity:
    * Spark's PERMISSIVE parse also flags a field-level type mismatch (e.g. a
    * string where the schema says boolean) as "corrupt", but the reference's
    * `json.loads` succeeds on such records and processes them fine — so a
    * record counts as corrupt only when nothing required parsed at all.
    */
  def isValid(parsed: Column): Column = {
    val bh = parsed.getField("browse_history")
    parsed.isNotNull &&
      parsed.getField("session_id").isNotNull &&
      parsed.getField("country").isNotNull &&
      bh.isNotNull &&
      forall(bh, x => Enrich.qty(x).isNotNull)
  }

  /** Why an invalid record is dead-lettered: the first check of [[isValid]]
    * it fails, in the order the reference consumer would raise. Only
    * meaningful where `isValid` is false.
    */
  private def errorClass(parsed: Column): Column =
    when(parsed.isNull ||
         (parsed.getField(SessionSchemas.corruptColumn).isNotNull &&
          parsed.getField("session_id").isNull &&
          parsed.getField("country").isNull &&
          parsed.getField("browse_history").isNull),
         lit("corrupt_json"))
      .when(parsed.getField("session_id").isNull, lit("missing_session_id"))
      .when(parsed.getField("country").isNull, lit("missing_country"))
      .when(parsed.getField("browse_history").isNull, lit("missing_browse_history"))
      .otherwise(lit("bad_quantity"))

  /** Dead-letter record over [[decode]]'s output: the pass-through input
    * columns, the raw `payload` and its `error` class.
    */
  private def deadLetterFields(passThrough: Seq[Column]): Seq[Column] =
    passThrough ++ Seq(col("raw_json").as("payload"),
      errorClass(col("parsed")).as("error"))

  /** S5: output wire format. The reference mutates the decoded dict in place
    * and re-serializes the WHOLE record (consumer.py:167-169), so unknown
    * input fields must pass through. We reproduce that with JSON-string
    * surgery on the original payload — append the four derived fields before
    * the closing brace — which preserves every unmodeled field byte-for-byte
    * (SURVEY.md §7.4(1)).
    */
  private def outputJson(rawJson: Column, ts: Column, opq: Column,
      oisc: Column, tdp: Column): Column =
    concat(
      regexp_replace(rtrim(rawJson), "\\}$", ""),
      lit(", \"processing_timestamp\": \""), Enrich.isoTimestamp(ts), lit("\""),
      lit(", \"overall_product_quantity\": "), opq.cast("string"),
      lit(", \"overall_in_shopping_cart\": "), oisc.cast("string"),
      lit(", \"total_different_products\": "), tdp.cast("string"),
      lit("}"))

  /** Full transform. `clock` is injectable for deterministic tests
    * (default: evaluation-time `current_timestamp()`).
    *
    * Enriched output columns: every parsed session field, the four derived
    * attributes, `route`, and `data` (the serialized output record — what
    * the reference PutRecords to the destination stream). Pass-through
    * input columns (e.g. shard/sequence metadata from the source) are kept.
    */
  def transform(raw: DataFrame, dataCol: String = "data",
      clock: Column = current_timestamp()): EtlOutputs = {
    val decoded = decode(raw, dataCol)
    val passThrough = raw.columns.filterNot(_ == dataCol).map(col).toSeq

    val deadLetter = decoded
      .filter(!isValid(col("parsed")))
      .select(deadLetterFields(passThrough): _*)

    val bh = col("parsed").getField("browse_history")
    val enriched0 = decoded
      .filter(isValid(col("parsed")))
      .withColumn("processing_timestamp", Enrich.processingTimestamp(clock))
      .withColumn("overall_product_quantity", Enrich.overallProductQuantity(bh))
      .withColumn("overall_in_shopping_cart", Enrich.overallInShoppingCart(bh))
      .withColumn("total_different_products", Enrich.totalDifferentProducts(bh))
      .withColumn("route", Route.route(col("parsed").getField("country")))
      .withColumn("data", outputJson(col("raw_json"),
        col("processing_timestamp"), col("overall_product_quantity"),
        col("overall_in_shopping_cart"), col("total_different_products")))

    val sessionFields = SessionSchemas.session.fieldNames.toSeq.map(f =>
      col("parsed").getField(f).as(f))
    val enriched = enriched0.select(passThrough ++ sessionFields ++ Seq(
      col("processing_timestamp"), col("overall_product_quantity"),
      col("overall_in_shopping_cart"), col("total_different_products"),
      col("route"), col("data")): _*)

    EtlOutputs(enriched, deadLetter)
  }

  /** Destination of dead letters in [[fanOut]], beside the [[Route]]
    * destinations (≙ the reference's Firehose `errors/` prefix).
    */
  val ErrorChannel = "errors"

  /** [[transform]] as one projection over one [[decode]], for sinks that
    * fan every record out of a single pass (the topology's ETL consumer).
    * One output row per input row: the pass-through input columns,
    * `session_id`, `destination` (the [[Route]] of a valid record,
    * [[ErrorChannel]] for a dead letter) and `line`, the record's output
    * wire format — the enriched JSON of [[transform]]'s `data`, or the
    * dead letter as the JSON object `DataFrameWriter.json` writes for a
    * `deadLetter` row (same fields, formats and omitted nulls).
    */
  def fanOut(raw: DataFrame, dataCol: String = "data",
      clock: Column = current_timestamp()): DataFrame = {
    val parsed = col("parsed")
    val decoded = decode(raw, dataCol).withColumn("valid", isValid(parsed))
    val passThrough = raw.columns.filterNot(_ == dataCol).map(col).toSeq
    val bh = parsed.getField("browse_history")
    val enrichedLine = outputJson(col("raw_json"),
      Enrich.processingTimestamp(clock), Enrich.overallProductQuantity(bh),
      Enrich.overallInShoppingCart(bh), Enrich.totalDifferentProducts(bh))
    val deadLetterLine = to_json(struct(deadLetterFields(passThrough): _*))
    decoded.select(passThrough ++ Seq(
      parsed.getField("session_id").as("session_id"),
      when(col("valid"), Route.route(parsed.getField("country")))
        .otherwise(lit(ErrorChannel)).as("destination"),
      when(col("valid"), enrichedLine).otherwise(deadLetterLine).as("line")): _*)
  }
}
