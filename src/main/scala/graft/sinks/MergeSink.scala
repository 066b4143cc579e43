package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Upsert sinks (SURVEY §2.1 S9–S12). Vanilla Spark 4 has no MERGE INTO
  * against parquet, so MergeSink is the single place that knows the
  * full-outer-join + coalesce implementation (SURVEY §7.4/§7.5); on a Delta
  * deployment each of these becomes one `MERGE INTO` statement with identical
  * semantics and the callers don't change.
  *
  * Scale: merge is one shuffled full outer join on the upsert key. Spark
  * cannot broadcast either side of a full outer join, so even a micro-batch
  * of a few rows shuffles both sides; the stats-pruned merge
  * ([[KeyedMerge]]) keeps the base side down to the files the batch's keys
  * can touch.
  */
object MergeSink {

  /** S9 — update-else-insert by key: incoming non-null columns win; insert
    * rows set `first_ingested_at = asOf` (google_places_ingester.py:445-514,
    * db.py:33-75). `updateCols` = columns the upsert is allowed to touch. */
  def upsert(existing: DataFrame, incoming: DataFrame, key: String,
      updateCols: Seq[String], asOf: String): DataFrame = {
    val e = existing.select(existing.columns.map(c => col(c).as(s"e_$c")): _*)
    val i = incoming.select(incoming.columns.map(c => col(c).as(s"i_$c")): _*)
    val joined = e.join(i, col(s"e_$key") === col(s"i_$key"), "full_outer")
    val merged = existing.columns.map {
      case c if c == key =>
        coalesce(col(s"e_$c"), col(s"i_$c")).as(c)
      case c @ "first_ingested_at" =>
        when(col(s"e_$key").isNull, to_timestamp(lit(asOf))).otherwise(col(s"e_$c")).as(c)
      case c if updateCols.contains(c) =>
        coalesce(col(s"i_$c"), col(s"e_$c")).as(c)
      case c =>
        col(s"e_$c").as(c)
    }
    joined.select(merged.toSeq: _*)
  }

  /** S10 — conditional append: insert a snapshot only when the newest existing
    * snapshot for the key is older than `minIntervalDays`
    * (google_places_ingester.py:516-555). */
  def conditionalAppend(existing: DataFrame, incoming: DataFrame,
      minIntervalDays: Int = 7): DataFrame = {
    val latest = existing
      .groupBy(col("poi_id"), col("source_id"))
      .agg(max(col("captured_at")).as("latest_at"))
    incoming.join(latest, Seq("poi_id", "source_id"), "left")
      .filter(col("latest_at").isNull ||
        datediff(to_date(col("captured_at")), to_date(col("latest_at"))) >= minIntervalDays)
      .drop("latest_at")
  }
}
