package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Content-based routing (SURVEY.md §2.2 P5): `country == "USA"` selects the
  * USA destination, everything else (including lowercase "usa", null never
  * reaches here — nulls are dead-lettered first) goes International.
  * Reference: consumer.py:160-165, Solution.ipynb:522.
  *
  * Expressed as a routing column, the Spark-native form of "write to one of
  * two destination streams": the topology's ETL consumer makes it each
  * record's destination ([[SessionEtl.fanOut]]) and appends every route in
  * one multi-destination keyed write; [[graft.streaming.EtlStream]] feeds
  * it to `partitionBy("route")` on a file sink. Either way: one pass over
  * the data, no per-destination re-scan, and the disjoint split is total
  * (every record lands in exactly one route).
  */
object Route {
  val Usa = "usa"
  val International = "international"

  def route(country: Column): Column =
    when(country === lit("USA"), lit(Usa)).otherwise(lit(International))
}
