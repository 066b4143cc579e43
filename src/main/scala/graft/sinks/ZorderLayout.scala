package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** S17 — Z-order (Morton-curve) clustering for multi-dimensional data
  * skipping, the layout lever partition directories can't give you.
  *
  * S16 proves pruning on LOW-cardinality partition columns; the
  * complementary 100 TB problem is selective conjunctive filters on two
  * HIGH-cardinality columns (here l_partkey × l_suppkey — "this part from
  * this supplier"). Sorting by either column alone leaves the other
  * scattered across every file, so its min/max footer stats prune nothing.
  * Interleaving the bits of both keys (the Morton code) and range-writing
  * on that single derived key keeps both dimensions locally dense per file
  * — every file covers a small rectangle of the (partkey, suppkey) plane,
  * and a box predicate intersects few rectangles. Same move as Delta/
  * Iceberg `ZORDER BY`; the code is a pure per-row expression, so the
  * layout costs one range shuffle and nothing at read time.
  *
  * The bit-spread ladder is the classic O(log b) interleave: widen 16 bits
  * through masks 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555, then
  * `zcode = spread(x) << 1 | spread(y)`. Both the Column form and the
  * DuckDB oracle are generated from the SAME (shift, mask) stage list so
  * the two dialects cannot drift. ZorderSpec checks the code against an
  * independent bit-by-bit reference and pins the skipping claim on real
  * written files: per-file min/max rectangles under the z-layout admit a
  * small fraction of the files the id-ordered layout admits.
  */
object ZorderLayout {

  /** (left-shift, mask) ladder widening 16 bits to alternating 32. */
  val SpreadStages: Seq[(Int, Long)] = Seq(
    (8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))

  /** Morton spread of the low 16 bits of `c`, as a Column. */
  def spread(c: Column): Column =
    SpreadStages.foldLeft(c.cast("long").bitwiseAND(lit(65535L))) {
      case (acc, (s, mask)) => acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(mask))
    }

  /** 32-bit Morton code interleaving x (odd bits) and y (even bits). */
  def zcode(x: Column, y: Column): Column =
    shiftleft(spread(x), 1).bitwiseOR(spread(y))

  /** The per-row code projection the driver hash-checks: deterministic, no
    * shuffle, whole-stage-codegen'd bit arithmetic. */
  def qZorderCode(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      zcode(col("l_partkey"), col("l_suppkey")).as("zcode"))

  val NumFiles = 64

  /** Deterministic per-sf location (bench and verify must not clobber each
    * other's tables mid-run — same rule as [[PartitionedTable.tableDir]]). */
  def tableDir(dir: String): String =
    "spark-warehouse/s17_lineitem_z_" + new java.io.File(dir).getName

  /** Write lineitem z-clustered: range-partition on the Morton code (the
    * one shuffle this layout costs), sort within each file so row groups
    * inherit the locality too, drop the derived key before writing. */
  def zorderWrite(spark: SparkSession, dir: String): String = {
    val out = tableDir(dir)
    Tables.lineitem(spark, dir)
      .withColumn("zcode", zcode(col("l_partkey"), col("l_suppkey")))
      .repartitionByRange(NumFiles, col("zcode"))
      .sortWithinPartitions(col("zcode"))
      .drop("zcode")
      .write.mode("overwrite").parquet(out)
    out
  }

  /** The box read-back: a conjunctive two-dimensional range predicate over
    * the z-clustered table — the shape whose file skipping the layout
    * exists for. The driver hash-checks the aggregate against the
    * un-clustered source, covering the whole round trip (code, range
    * write, read, filter). */
  def boxRead(spark: SparkSession, path: String): DataFrame =
    Footers.readDir(spark, java.nio.file.Paths.get(path))
      .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 5)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        countDistinct(col("l_partkey")).as("n_parts"))

  def qZorderScan(spark: SparkSession, dir: String): DataFrame =
    boxRead(spark, zorderWrite(spark, dir))

  def zorderRoot(dir: String): String =
    "spark-warehouse/s17_lineitem_zv_" + new java.io.File(dir).getName

  /** The z-layout's FILE-LEVEL payoff (r17): the same z-clustered write
    * committed as an AtomicTable version indexed on BOTH dimensions (one
    * footer open per file), then the box predicate runs through
    * [[StatsRead.readWhereAll]] — each file is a small rectangle of the
    * (partkey, suppkey) plane, so the CONJUNCTION of the two per-dimension
    * stats ranges excludes files that either dimension alone admits. The
    * query throws unless the pruning came entirely from the sidecar
    * (footerReads==0) AND skipped files; the oracle replays the box over
    * the un-clustered source, so the hash covers code, layout, index,
    * conjunctive prune, and the row-level residual together. At 100 TB this
    * is Delta's `ZORDER BY` + stats skipping: a needle box over 10⁶ files
    * plans the handful of intersecting rectangles. */
  def qZorderSkip(spark: SparkSession, dir: String): DataFrame = {
    val root = zorderRoot(dir)
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(root))
    AtomicTable.commit(
      Tables.lineitem(spark, dir)
        .withColumn("zcode", zcode(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(NumFiles, col("zcode"))
        .sortWithinPartitions(col("zcode"))
        .drop("zcode"),
      root, statsCols = Seq("l_partkey", "l_suppkey"))
    val (df, rs) = StatsRead.readWhereAll(spark, root, Seq(
      "l_partkey" -> TargetedDelete.LongRange(0L, 100L),
      "l_suppkey" -> TargetedDelete.LongRange(0L, 5L)))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles)
      throw new IllegalStateException(
        s"z-order conjunctive prune did not skip: $rs")
    df.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        countDistinct(col("l_partkey")).as("n_parts"))
  }

  /** Partkeys the merge bumps and the quantity delta — inside the box read
    * so the update is hash-visible, present at every SF. */
  val MergeKeyFrom = 1L; val MergeKeyTo = 20L; val MergeDelta = 5.0

  /** SYMMETRIC STATS MAINTENANCE under merge (r19 — r18 verdict item 2):
    * the z-ordered table is indexed on BOTH dimensions, then a keyed merge
    * updates one dimension's key block. Every staging pass now rebuilds
    * fresh-file `_KEYSTATS` rows for EVERY predecessor-indexed column in
    * its one footer sweep — so the box read over BOTH dimensions after the
    * merge still plans from the sidecar alone. THROWS unless (a) the merge
    * itself pruned from the sidecar (footerReads==0) and linked most files
    * (the changeset's partkey hull touches few z-rectangles), and (b) the
    * post-merge conjunctive box read pays ZERO footer reads and still
    * skips files — before the fix, every rewritten file's l_suppkey row
    * was missing and the box read degraded to footer opens forever. The
    * oracle replays source + update in SQL: maintenance must move bytes,
    * the merge must change exactly the keyed rows. */
  def qZorderMergeSkip(spark: SparkSession, dir: String): DataFrame = {
    val root = zorderRoot(dir) + "_m"
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(root))
    AtomicTable.commit(
      Tables.lineitem(spark, dir)
        .withColumn("zcode", zcode(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(NumFiles, col("zcode"))
        .sortWithinPartitions(col("zcode"))
        .drop("zcode"),
      root, statsCols = Seq("l_partkey", "l_suppkey"))
    val changes = spark.range(MergeKeyFrom, MergeKeyTo + 1)
      .select(col("id").as("l_partkey"), lit(MergeDelta).as("dq"))
    val ms = KeyedMerge.mergeChangesKeyed(spark, root, "l_partkey", changes,
      (base, c) => base.join(c, Seq("l_partkey"), "left")
        .withColumn("l_quantity",
          col("l_quantity") + coalesce(col("dq"), lit(0.0)))
        .drop("dq"))
    if (ms.footerReads != 0 || ms.reusedFiles < 1 ||
        ms.rewrittenFiles >= ms.totalFiles)
      throw new IllegalStateException(
        s"z-layout merge did not prune from the sidecar: $ms")
    val (df, rs) = StatsRead.readWhereAll(spark, root, Seq(
      "l_partkey" -> TargetedDelete.LongRange(0L, 100L),
      "l_suppkey" -> TargetedDelete.LongRange(0L, 5L)))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles)
      throw new IllegalStateException(
        s"post-merge box read fell off the zero-footer path: $rs " +
          "(the staging pass must rebuild EVERY indexed column's stats)")
    df.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        countDistinct(col("l_partkey")).as("n_parts"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s17_zorder_code" -> (qZorderCode _),
    "s17_zorder_scan" -> (qZorderScan _),
    "s17_zorder_skip" -> (qZorderSkip _),
    "s17_zorder_merge_skip" -> (qZorderMergeSkip _))

  /** DuckDB replay of [[spread]], generated from [[SpreadStages]]. */
  private def spreadCtesSql: String = {
    val base = "z0 AS (SELECT l_orderkey, l_linenumber,\n" +
      "  CAST(l_partkey AS BIGINT) & 65535 AS x,\n" +
      "  CAST(l_suppkey AS BIGINT) & 65535 AS y FROM lineitem)"
    // NB: DuckDB gives |, & and << EQUAL precedence (PostgreSQL operator
    // rules) — `x | x << 8` parses as `(x | x) << 8` — so every stage is
    // fully parenthesized.
    SpreadStages.zipWithIndex.foldLeft(base) { case (acc, ((s, mask), i)) =>
      acc + s",\nz${i + 1} AS (SELECT l_orderkey, l_linenumber,\n" +
        s"  ((x | (x << $s)) & $mask) AS x, ((y | (y << $s)) & $mask) AS y FROM z$i)"
    }
  }

  val oracles: Map[String, String] = Map(
    "s17_zorder_code" ->
      s"""WITH $spreadCtesSql
         |SELECT l_orderkey, l_linenumber, ((x << 1) | y) AS zcode
         |FROM z${SpreadStages.length}""".stripMargin,
    // replayed over the UN-clustered source: checks the whole round trip
    "s17_zorder_scan" ->
      """SELECT l_suppkey, count(*) AS n_rows,
        |  CAST(round(sum(l_quantity), 4) AS DOUBLE) AS sum_qty,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem
        |WHERE l_partkey <= 100 AND l_suppkey <= 5
        |GROUP BY 1""".stripMargin,
    "s17_zorder_skip" ->
      """SELECT l_suppkey, count(*) AS n_rows,
        |  CAST(round(sum(l_quantity), 4) AS DOUBLE) AS sum_qty,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem
        |WHERE l_partkey BETWEEN 0 AND 100 AND l_suppkey BETWEEN 0 AND 5
        |GROUP BY 1""".stripMargin,
    // source + the keyed update, replayed in SQL — the merge changes
    // exactly the keyed rows, maintenance only moves bytes
    "s17_zorder_merge_skip" ->
      s"""SELECT l_suppkey, count(*) AS n_rows,
         |  CAST(round(sum(CASE WHEN l_partkey BETWEEN $MergeKeyFrom AND $MergeKeyTo
         |                      THEN l_quantity + $MergeDelta
         |                      ELSE l_quantity END), 4) AS DOUBLE) AS sum_qty,
         |  count(DISTINCT l_partkey) AS n_parts
         |FROM lineitem
         |WHERE l_partkey BETWEEN 0 AND 100 AND l_suppkey BETWEEN 0 AND 5
         |GROUP BY 1""".stripMargin)
}
