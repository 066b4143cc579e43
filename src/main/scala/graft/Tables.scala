package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's deterministic testdata tables (TESTDATA.md).
  *
  * At cluster scale these would be partitioned/bucketed Delta tables; here they
  * are one parquet file or one directory of part files per table. A single
  * file (the pyarrow-written testdata) loads with plain `spark.read.parquet`.
  * A directory of Spark-written part files loads through
  * [[graft.sinks.Footers.readDir]]: the schema comes from one driver-side
  * footer open instead of Spark's schema-inference job. Either way the load
  * is a plain parquet scan, so Catalyst's column pruning + predicate pushdown
  * reach it.
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame =
    shimNanosLong(load(spark, dir, "orders"), "o_orderdate")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    shimNanosLong(load(spark, dir, "lineitem"), "l_shipdate")

  /** Defensive variant of the [[events]] normalization for the other
    * timestamp-bearing tables: `o_orderdate`/`l_shipdate` currently ship as
    * TIMESTAMP_MICROS `isAdjustedToUTC=0` (read as TIMESTAMP_NTZ, which every
    * consumer and the DuckDB oracle agree on under the UTC session), but the
    * regen that flipped `events.ts` to INT64 TIMESTAMP(NANOS) in r9-r11 could
    * do the same here — in which case `nanosAsLong` hands us a raw Long and
    * every date function downstream fails analysis. Convert that one encoding
    * back to a timestamp; leave the currently-green encodings untouched.
    * TablesSpec pins all three tables' timestamp columns as timestamp-family
    * so a new physical encoding fails loudly at the canary, not mid-query. */
  private def shimNanosLong(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$c div 1000")))
      case _ => df
    }
  /** `events.ts` has shipped under three physical parquet encodings across
    * testdata regenerations; normalize all of them to `TimestampType` so every
    * downstream operator sees one stable type:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in [[graft.Sessions]])
    *    it arrives as a nanosecond Long — convert with integer division
    *    (double division would lose precision past 2^53).
    *  - TIMESTAMP_MICROS `isAdjustedToUTC=0`: Spark 4 infers TIMESTAMP_NTZ —
    *    cast to TimestampType (a no-op instant shift under the UTC session).
    *  - TIMESTAMP_MICROS `isAdjustedToUTC=1`: already TimestampType.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = s"$dir/$name.parquet"
    val path = Paths.get(file)
    if (Files.isDirectory(path)) graft.sinks.Footers.readDir(spark, path)
    else spark.read.parquet(file)
  }

  /** Fan an UNSPLITTABLE scan out to the session's shuffle width before an
    * expensive derivation chain (opt guide §2.5 "input skew": one huge
    * unsplittable file → repartition immediately after the read). The
    * testdata tables are single-row-group parquet files, so every map-side
    * chain rooted at a scan otherwise runs as ONE task no matter how many
    * cores the session has — at sf0.1 that is a single task exploding,
    * regexing and sorting 600k rows while 31 cores idle. The partition count
    * comes from `spark.sql.shuffle.partitions` (scale-adaptive: the session
    * sizes it to the core count locally, to the cluster on a real
    * deployment) and is passed EXPLICITLY so AQE does not coalesce the tiny
    * shuffled bytes back into one partition — the point is parallelism of
    * the downstream compute, not shuffle-size hygiene. Hash-keyed when a
    * key is given (no sort-before-repartition pass, deterministic under
    * retries by construction); round-robin otherwise. Only worth it when
    * the downstream per-row work dominates the ~row-width shuffle. */
  def fanOut(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (keys.nonEmpty) df.repartition(n, keys: _*) else df.repartition(n)
  }

  /** Stage (lazy `localCheckpoint`) a multiply-consumed relation ONLY while
    * its optimizer-estimated size fits under `spark.graft.stage.maxBytes`
    * (default 1 GiB). `localCheckpoint` stores blocks on executors with no
    * reliable storage AND truncates lineage, so staging a corpus-sized
    * relation at 100 TB both pins the corpus in executor memory and turns
    * any executor loss mid-query into a job failure instead of a recompute
    * (opt guide §5; r21 verdict "what's wrong" item 1). Under the gate the
    * staging is the pure win it measured as locally (skip the scan +
    * fan-out shuffle per consumer); over it the relation is returned
    * UNCHANGED — consumers recompute it, which is exactly the safe
    * behavior at scale. The estimate is the optimizer's `sizeInBytes`
    * (file-size-derived at the leaves), available before any job runs. */
  def stageLocal(df: DataFrame): DataFrame = {
    val limit = df.sparkSession.conf
      .get("spark.graft.stage.maxBytes", (1L << 30).toString).toLong
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= limit) df.localCheckpoint(false) else df
  }

  /** [[documents]]/[[embeddings]] pre-fanned on their id — the two tables
    * every expensive text/vector chain roots at. The whole table is well
    * under a MB at bench SF, so the keyed fan-out shuffle is noise while the
    * downstream codegen'd per-row work gains the session's full width. */
  def documentsFanned(spark: SparkSession, dir: String): DataFrame =
    fanOut(documents(spark, dir), org.apache.spark.sql.functions.col("doc_id"))
  def embeddingsFanned(spark: SparkSession, dir: String): DataFrame =
    fanOut(embeddings(spark, dir), org.apache.spark.sql.functions.col("vec_id"))
}
