package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain.Fixtures

/** Oracle-checked queries for the merge sinks (S9/S10). */
object SinkQueries {

  /** Existing poi rows: (google_place_id, name, rating, reviews_count,
    * first_ingested_at). */
  val existingPoi: Seq[(String, String, Option[Double], Option[Int], String)] = Seq(
    ("g1", "Chez Panisse", Some(4.5), Some(200), "2024-01-01 00:00:00"),
    ("g2", "Old Bar", Some(4.0), Some(150), "2024-02-01 00:00:00"),
    ("g3", "Quiet Cafe", None, Some(30), "2024-03-01 00:00:00"))

  /** Incoming batch: g1 update (new rating), g2 partial update (null rating
    * keeps existing), g4 insert. */
  val incomingPoi: Seq[(String, String, Option[Double], Option[Int])] = Seq(
    ("g1", "Chez Panisse", Some(4.6), Some(230)),
    ("g2", "Old Bar Renamed", None, Some(160)),
    ("g4", "Brand New Spot", Some(4.9), Some(12)))

  private def existingDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    existingPoi.toDF("google_place_id", "name", "rating", "reviews_count", "first_ingested_at")
      .withColumn("first_ingested_at", to_timestamp(col("first_ingested_at")))
  }

  private def incomingDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // incoming rows have no first_ingested_at — the sink stamps inserts
    incomingPoi.toDF("google_place_id", "name", "rating", "reviews_count")
      .withColumn("first_ingested_at", lit(null).cast("timestamp"))
  }

  def qS9Upsert(spark: SparkSession, dir: String): DataFrame =
    MergeSink.upsert(existingDf(spark), incomingDf(spark), "google_place_id",
      updateCols = Seq("name", "rating", "reviews_count"), asOf = Fixtures.asOf)
      .select(col("google_place_id"), col("name"), col("rating"), col("reviews_count"),
        date_format(col("first_ingested_at"), "yyyy-MM-dd").as("first_ingested_date"))

  /** Incoming snapshots against Fixtures.snapshots: in1 suppressed (2d after
    * p1's latest 2025-05-30), in2 allowed (8d), in3 new poi always allowed,
    * in4 exactly 7d boundary allowed (>= interval). */
  val incomingSnapshots: Seq[(String, String, Double, Int, String)] = Seq(
    ("p1", "google", 4.8, 52, "2025-06-01 00:00:00"),
    ("p1", "google", 4.8, 55, "2025-06-07 00:00:00"),
    ("p9", "google", 4.1, 10, "2025-06-01 00:00:00"),
    ("p4", "google", 4.7, 124, "2025-06-05 00:00:00"))

  private def incomingSnapshotsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    incomingSnapshots.toDF("poi_id", "source_id", "rating_value", "reviews_count", "captured_at")
      .withColumn("captured_at", to_timestamp(col("captured_at")))
  }

  private def incomingSnapshotValues: String = incomingSnapshots.map {
    case (pid, sid, rv, rc, ca) =>
      s"('$pid', '$sid', CAST($rv AS DOUBLE), $rc, TIMESTAMP '$ca')"
  }.mkString("(VALUES ", ", ", ")") +
    " AS inc(poi_id, source_id, rating_value, reviews_count, captured_at)"

  /** S9 through the ATOMIC persistence path: same merge as [[qS9Upsert]], but
    * committed to an [[AtomicTable]] (staged version dir + manifest flip) and
    * read back through the manifest — so the driver's hash gate covers the
    * whole staged-write/publish/resolve round trip, not just the in-memory
    * merge. Per-sf location, same convention as [[PartitionedTable]]. */
  def qS9AtomicRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = "spark-warehouse/s9_atomic_" + new java.io.File(dir).getName
    val merged = MergeSink.upsert(existingDf(spark), incomingDf(spark), "google_place_id",
      updateCols = Seq("name", "rating", "reviews_count"), asOf = Fixtures.asOf)
    AtomicTable.commit(merged, root)
    AtomicTable.read(spark, root)
      .select(col("google_place_id"), col("name"), col("rating"), col("reviews_count"),
        date_format(col("first_ingested_at"), "yyyy-MM-dd").as("first_ingested_date"))
  }

  /** S9 through the MULTI-WRITER path: seed the table with one
    * [[AtomicTable.mergeCommit]] (replacing whatever a previous run left
    * live, so re-runs are deterministic), then apply the incoming batch
    * through the STATS-PRUNED OCC merge ([[KeyedMerge.merge]] under
    * [[AtomicTable.Writer.Occ]] — r18: the upsert producer rides the
    * file-granular path, rewriting only key-intersecting files; on this
    * fixture that is the whole single-file table, but the code path is the
    * one a 10⁶-file poi table runs). A lost
    * CAS race re-prunes against the winner's version, the exact shape a
    * concurrent ingester uses. The driver's hash gate then proves the
    * optimistic pruned path is value-identical to the single-writer round
    * trip ([[qS9AtomicRoundtrip]]'s oracle). */
  def qS9OptimisticUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = "spark-warehouse/s9_opt_" + new java.io.File(dir).getName
    AtomicTable.mergeCommit(spark, root) { _ => existingDf(spark) }
    KeyedMerge.merge(spark, root, Seq("google_place_id"),
      incomingDf(spark),
      (base, inc) => MergeSink.upsert(base, inc, "google_place_id",
        updateCols = Seq("name", "rating", "reviews_count"), asOf = Fixtures.asOf),
      AtomicTable.Writer.Occ())
    AtomicTable.read(spark, root)
      .select(col("google_place_id"), col("name"), col("rating"), col("reviews_count"),
        date_format(col("first_ingested_at"), "yyyy-MM-dd").as("first_ingested_date"))
  }

  /** S19 TIME TRAVEL over the atomic table's retained versions: commit an
    * as-of snapshot (orders before the cutoff), then commit the live state,
    * then answer a query that reads BOTH — the live manifest version and
    * its retained predecessor via [[AtomicTable.readVersion]] — proving the
    * published version flip keeps the old version readable (snapshot
    * isolation made queryable, the micro version of Delta's VERSION AS OF).
    * Re-runs re-commit the same pair, so previous/current are deterministic
    * per run regardless of accumulated history. */
  val TtCutoff = "2000-01-01"
  def qS19TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = "spark-warehouse/s19_tt_" + new java.io.File(dir).getName
    val o = graft.Tables.orders(spark, dir)
    val byPriority = (df: DataFrame) => df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
    AtomicTable.commit(byPriority(o.filter(col("o_orderdate") < lit(TtCutoff).cast("date"))), root)
    AtomicTable.commit(byPriority(o), root)
    val prevV = AtomicTable.previousVersion(root).get
    val prev = AtomicTable.readVersion(spark, root, prevV)
      .withColumnRenamed("n_orders", "n_asof_v1")
    val live = AtomicTable.read(spark, root)
      .withColumnRenamed("n_orders", "n_live")
    prev.join(live, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_asof_v1"), col("n_live"),
        (col("n_live") - col("n_asof_v1")).as("n_added"))
  }

  /** RESTORE round trip — the undo half of the S19 time-travel story: commit
    * the indexed corpus (v1), range-delete a block (v2), then RESTORE v1 as
    * the live version (v3). The query THROWS unless every restored part file
    * is INODE-IDENTICAL to its v1 original (links, not copies — a restore
    * moves zero data bytes) and the restored version still SKIPS (the block
    * read prunes from the carried sidecar: footerReads==0, filesRead <
    * totalFiles) — the sidecars travel with the restore, so the undone table
    * is as queryable as the original. The oracle is the plain block
    * aggregate over the source = the restored (pre-delete) state. */
  def qS19Restore(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = "spark-warehouse/s19_restore_" + new java.io.File(dir).getName
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      graft.Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_id"))
    val v1 = AtomicTable.currentVersion(root).get
    // capture v1's inode identities BEFORE restoring: the restore's publish
    // prunes v1 past the retention window (a restore is just another
    // commit), but hard links keep the inodes alive under v3's names
    def keyOf(p: java.nio.file.Path) = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    val v1Keys = TargetedDelete.partFiles(Paths.get(root, v1))
      .map(p => p.getFileName.toString -> keyOf(p)).toMap
    TargetedDelete.delete(spark, root, "doc_id",
      TargetedDelete.LongRange(StatsRead.ReadFrom, StatsRead.ReadTo))
    val v3 = AtomicTable.restoreVersion(root, v1)
    val restored = TargetedDelete.partFiles(Paths.get(root, v3))
    if (restored.isEmpty ||
        restored.map(_.getFileName.toString).toSet != v1Keys.keySet ||
        !restored.forall(p =>
          v1Keys(p.getFileName.toString) == keyOf(p)))
      throw new IllegalStateException(
        "restore must hard-link the target version's exact file set")
    val (df, rs) = StatsRead.read(spark, root, Seq("doc_id" ->
      TargetedDelete.LongRange(StatsRead.ReadFrom, StatsRead.ReadTo)))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles)
      throw new IllegalStateException(
        s"restored version lost its skipping sidecar: $rs")
    df.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  def qS10ConditionalAppend(spark: SparkSession, dir: String): DataFrame =
    MergeSink.conditionalAppend(
      graft.domain.Fixtures.snapshotsDf(spark), incomingSnapshotsDf(spark))
      .select(col("poi_id"), col("source_id"), col("rating_value"), col("reviews_count"),
        date_format(col("captured_at"), "yyyy-MM-dd").as("captured_date"))

  // ------------------------------------------- multi-batch incremental run

  /** Two daily pipeline runs as ONE dataflow (run_pipeline.py:549-581 daily
    * cadence): day-1 batch upserts + snapshot-appends into the base state,
    * day-2 batch runs against the POST-day-1 state (its snapshot suppression
    * must see day 1's accepted snapshots), then P9 selects the rescoring
    * candidates from the final state. Proves the merge → suppress → rescore
    * cycle end to end rather than each sink in isolation. */
  val Day1 = "2025-06-06 00:00:00"
  val Day2 = "2025-06-07 00:00:00"

  /** (google_place_id, name, rating, reviews_count, first_ingested_at,
    * updated_at, last_scored_at). g1 old+scored-long-ago, g2 scored within
    * 24 h of day 2, g3 stale (excluded), g4 never scored. */
  val pipeState0: Seq[(String, String, Double, Int, String, String, Option[String])] = Seq(
    ("g1", "Chez Panisse", 4.5, 200, "2024-01-01 00:00:00", "2025-05-01 00:00:00", Some("2025-05-02 00:00:00")),
    ("g2", "Old Bar", 4.0, 150, "2024-02-01 00:00:00", "2025-05-20 00:00:00", Some("2025-06-06 23:00:00")),
    ("g3", "Quiet Cafe", 3.9, 30, "2024-03-01 00:00:00", "2025-04-01 00:00:00", Some("2025-04-02 00:00:00")),
    ("g4", "Forgotten Spot", 4.2, 77, "2024-04-01 00:00:00", "2025-04-15 00:00:00", None))

  /** Day-1 batch: g1 update + g5 insert; day-2 batch: g2 update + g6 insert. */
  val pipeBatch1: Seq[(String, String, Option[Double], Option[Int])] = Seq(
    ("g1", "Chez Panisse", Some(4.6), Some(230)),
    ("g5", "Fresh Opening", Some(4.9), Some(12)))
  val pipeBatch2: Seq[(String, String, Option[Double], Option[Int])] = Seq(
    ("g2", "Old Bar Renamed", None, Some(160)),
    ("g6", "Second Opening", Some(4.4), Some(5)))

  /** Snapshot base state + per-day snapshot batches (poi_id, source_id,
    * rating_value, reviews_count, captured_at). Day-2 snapshots for g1/g5
    * land 1 day after their day-1 accepted snapshots — they must be
    * SUPPRESSED, which only happens if day 2 runs against day 1's output. */
  val pipeSnap0: Seq[(String, String, Double, Int, String)] = Seq(
    ("g1", "google", 4.5, 200, "2025-05-25 00:00:00"))
  val pipeSnapB1: Seq[(String, String, Double, Int, String)] = Seq(
    ("g1", "google", 4.6, 230, Day1),
    ("g5", "google", 4.9, 12, Day1))
  val pipeSnapB2: Seq[(String, String, Double, Int, String)] = Seq(
    ("g1", "google", 4.6, 231, Day2),
    ("g5", "google", 4.9, 13, Day2),
    ("g6", "google", 4.4, 5, Day2))

  private val pipeCols = Seq("google_place_id", "name", "rating", "reviews_count",
    "first_ingested_at", "updated_at", "last_scored_at")
  private val pipeUpdateCols = Seq("name", "rating", "reviews_count", "updated_at")

  private def pipeState0Df(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pipeState0.toDF(pipeCols: _*)
      .withColumn("first_ingested_at", to_timestamp(col("first_ingested_at")))
      .withColumn("updated_at", to_timestamp(col("updated_at")))
      .withColumn("last_scored_at", to_timestamp(col("last_scored_at")))
  }

  private def pipeBatchDf(spark: SparkSession,
      batch: Seq[(String, String, Option[Double], Option[Int])], day: String): DataFrame = {
    import spark.implicits._
    batch.toDF("google_place_id", "name", "rating", "reviews_count")
      .withColumn("first_ingested_at", lit(null).cast("timestamp"))
      .withColumn("updated_at", to_timestamp(lit(day)))
      .withColumn("last_scored_at", lit(null).cast("timestamp"))
  }

  private def pipeSnapDf(spark: SparkSession,
      rows: Seq[(String, String, Double, Int, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("poi_id", "source_id", "rating_value", "reviews_count", "captured_at")
      .withColumn("captured_at", to_timestamp(col("captured_at")))
  }

  def qIncrementalPipeline(spark: SparkSession, dir: String): DataFrame = {
    // day 1: upsert batch + append allowed snapshots
    val state1 = MergeSink.upsert(pipeState0Df(spark), pipeBatchDf(spark, pipeBatch1, Day1),
      "google_place_id", pipeUpdateCols, asOf = Day1)
    val snap1 = pipeSnapDf(spark, pipeSnap0)
      .unionByName(MergeSink.conditionalAppend(
        pipeSnapDf(spark, pipeSnap0), pipeSnapDf(spark, pipeSnapB1)))
    // day 2 runs against day 1's OUTPUT state
    val state2 = MergeSink.upsert(state1, pipeBatchDf(spark, pipeBatch2, Day2),
      "google_place_id", pipeUpdateCols, asOf = Day2)
    val snap2 = snap1.unionByName(
      MergeSink.conditionalAppend(snap1, pipeSnapDf(spark, pipeSnapB2)))
    // P9 rescoring selection over the final state, as of day 2 — the SAME
    // shared selection stage as the volume/streamed paths (r22; r21 verdict
    // item 4): the former inline copy ranked the whole eligible set through
    // an UNPARTITIONED window (one task at 100 TB); rescoreSelection bounds
    // it with a global orderBy().limit (TakeOrderedAndProject) first. The
    // fixture's eligible set is a handful of literal rows — far below
    // RescoreLimit — so the output is row-identical (oracle-checked).
    rescoreSelection(state2, snap2, Day2)
  }

  // --------------------------- incremental pipeline at sf-scale VOLUME

  /** TPC-H-anchored run days for the volume variant (day after the last
    * order date, so every derived timestamp is in the past). */
  val Day1V = "1998-08-03 00:00:00"
  val Day2V = "1998-08-04 00:00:00"
  val RescoreLimit = 500

  /** Base state derived from `customer` (VolumeFixtures conventions: integer
    * modulus → CAST AS DOUBLE → division so both engines agree bit-for-bit);
    * custkey%4==0 rows are absent so the day batches also INSERT. */
  private def pipeStateVol(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.customer(spark, dir)
      .filter(col("c_custkey") % 4 =!= 0)
      .select(
        concat(lit("g"), col("c_custkey")).as("google_place_id"),
        col("c_name").as("name"),
        when(col("c_custkey") % 23 === 0, lit(null).cast("double"))
          .otherwise((col("c_custkey") % 20).cast("double") / 10.0 + 3.0).as("rating"),
        (col("c_custkey") % 2000).as("reviews_count"),
        date_sub(lit("1998-08-02").cast("date"), (col("c_custkey") % 500).cast("int"))
          .cast("timestamp").as("first_ingested_at"),
        date_sub(lit("1998-08-02").cast("date"), (col("c_custkey") % 90).cast("int"))
          .cast("timestamp").as("updated_at"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("timestamp"))
          .otherwise(date_sub(lit("1998-08-02").cast("date"), (col("c_custkey") % 40).cast("int"))
            .cast("timestamp")).as("last_scored_at"))

  /** Day batch: the custkey%mod==0 slice with updated values; null ratings
    * (custkey%11==0) must keep the existing value through the merge. */
  private def pipeBatchVol(spark: SparkSession, dir: String, mod: Int, day: String): DataFrame =
    graft.Tables.customer(spark, dir)
      .filter(col("c_custkey") % mod === 0)
      .select(
        concat(lit("g"), col("c_custkey")).as("google_place_id"),
        concat(col("c_name"), lit(s" v$mod")).as("name"),
        when(col("c_custkey") % 11 === 0, lit(null).cast("double"))
          .otherwise((col("c_custkey") % 17).cast("double") / 10.0 + 3.1).as("rating"),
        (col("c_custkey") % 3000 + mod).as("reviews_count"),
        lit(null).cast("timestamp").as("first_ingested_at"),
        to_timestamp(lit(day)).as("updated_at"),
        lit(null).cast("timestamp").as("last_scored_at"))

  /** Pre-existing snapshots 1–10 days old, so each day's conditional append
    * suppresses a deterministic subset (min interval 7 days). */
  private def pipeSnapVol0(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.customer(spark, dir)
      .filter(col("c_custkey") % 5 === 0)
      .select(
        concat(lit("g"), col("c_custkey")).as("poi_id"),
        lit("google").as("source_id"),
        ((col("c_custkey") % 21).cast("double") / 10.0 + 2.9).as("rating_value"),
        (col("c_custkey") % 1000).as("reviews_count"),
        date_sub(lit("1998-08-03").cast("date"), (col("c_custkey") % 10 + 1).cast("int"))
          .cast("timestamp").as("captured_at"))

  private def pipeSnapVolB(spark: SparkSession, dir: String, mod: Int, day: String): DataFrame =
    graft.Tables.customer(spark, dir)
      .filter(col("c_custkey") % mod === 0)
      .select(
        concat(lit("g"), col("c_custkey")).as("poi_id"),
        lit("google").as("source_id"),
        ((col("c_custkey") % 19).cast("double") / 10.0 + 3.0).as("rating_value"),
        (col("c_custkey") % 900 + mod).as("reviews_count"),
        to_timestamp(lit(day)).as("captured_at"))

  /** [[qIncrementalPipeline]] at data volume (VERDICT r9 items 4 + 6):
    * thousands of customer-derived places through the same two-day
    * merge → suppress → rescore cycle. The rescoring queue uses the
    * VOLUME-SAFE top-k shape: a global `orderBy().limit(k)` plans as
    * TakeOrderedAndProject (per-partition top-k + driver merge of k-row
    * heaps — no single-partition sort of the full table), and only the k
    * surviving rows get their rank from a window. PipelineSpec asserts the
    * plan shape. */
  def qIncrementalPipelineVol(spark: SparkSession, dir: String): DataFrame = {
    val updateCols = Seq("name", "rating", "reviews_count", "updated_at")
    val state1 = MergeSink.upsert(pipeStateVol(spark, dir),
      pipeBatchVol(spark, dir, 2, Day1V), "google_place_id", updateCols, asOf = Day1V)
    val snap0 = pipeSnapVol0(spark, dir)
    val snap1 = snap0.unionByName(
      MergeSink.conditionalAppend(snap0, pipeSnapVolB(spark, dir, 2, Day1V)))
    val state2 = MergeSink.upsert(state1,
      pipeBatchVol(spark, dir, 3, Day2V), "google_place_id", updateCols, asOf = Day2V)
    val snap2 = snap1.unionByName(
      MergeSink.conditionalAppend(snap1, pipeSnapVolB(spark, dir, 3, Day2V)))
    rescoreSelection(state2, snap2, Day2V)
  }

  /** The P9 rescoring selection over a (state, snapshots) pair — the cycle's
    * final stage, shared by the batch volume query and the streamed
    * composition (StreamingSpec's AvailableNow parity test) so the two paths
    * cannot drift. Volume-safe top-k: global `orderBy().limit(k)` plans as
    * TakeOrderedAndProject; only the k survivors get a window rank. */
  def rescoreSelection(state: DataFrame, snaps: DataFrame, asOf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asOfTs = to_timestamp(lit(asOf))
    val counts = snaps.groupBy(col("poi_id").as("google_place_id"))
      .agg(count(lit(1)).as("n_snapshots"))
    val queueOrder = Seq(col("last_scored_at").asc_nulls_first,
      col("updated_at").desc, col("google_place_id").asc)
    val selected = state
      .filter(col("updated_at") >= asOfTs - expr("INTERVAL 7 DAYS") ||
        col("last_scored_at").isNull)
      .filter(col("last_scored_at").isNull ||
        col("last_scored_at") < asOfTs - expr("INTERVAL 24 HOURS"))
      .orderBy(queueOrder: _*)
      .limit(RescoreLimit)
    selected
      .withColumn("rnk", row_number().over(Window.orderBy(queueOrder: _*)).cast("long"))
      .join(counts, Seq("google_place_id"), "left")
      .select(col("rnk"), col("google_place_id"), col("name"), col("rating"),
        col("reviews_count"),
        date_format(col("first_ingested_at"), "yyyy-MM-dd").as("first_ingested_date"),
        date_format(col("updated_at"), "yyyy-MM-dd").as("updated_date"),
        date_format(col("last_scored_at"), "yyyy-MM-dd").as("last_scored_date"),
        coalesce(col("n_snapshots"), lit(0L)).as("n_snapshots"))
  }

  /** The per-day inputs of the volume cycle, exposed for the streamed
    * composition: (day, poi batch, snapshot batch). Day 1 is the custkey%2
    * slice, day 2 the %3 slice — same fixtures as [[qIncrementalPipelineVol]]. */
  def pipeVolDays(spark: SparkSession, dir: String): Seq[(String, DataFrame, DataFrame)] = Seq(
    (Day1V, pipeBatchVol(spark, dir, 2, Day1V), pipeSnapVolB(spark, dir, 2, Day1V)),
    (Day2V, pipeBatchVol(spark, dir, 3, Day2V), pipeSnapVolB(spark, dir, 3, Day2V)))

  /** The cycle's base state + base snapshots, exposed for the streamed
    * composition's bootstrap commit. */
  def pipeVolBase(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (pipeStateVol(spark, dir), pipeSnapVol0(spark, dir))

  /** Column set the streamed day batches carry (the merge's update surface). */
  val pipeVolUpdateCols: Seq[String] = Seq("name", "rating", "reviews_count", "updated_at")

  // ------------------------------------------------------- S9 at sf volume

  /** S9 upsert at VOLUME: the full customer table as the existing POI store,
    * one orders-derived batch (latest order per customer) as the incoming
    * update set. All three merge paths run at data scale and land in the
    * hash: UPDATE (incoming non-null columns win; null name/rating fall back
    * to existing), INSERT (ck%11 keys are new → first_ingested_at = asOf),
    * and UNTOUCHED (customers without orders pass through). On Delta this
    * exact dataflow is one MERGE INTO. */
  def qS9UpsertVol(spark: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val existing = graft.Tables.customer(spark, dir).select(
      concat(lit("pl"), k.cast("string")).as("google_place_id"),
      col("c_name").as("name"),
      when(k % 23 === 0, lit(null).cast("double"))
        .otherwise((k % 20).cast("double") / 10.0 + 3.0).as("rating"),
      (k % 600).as("reviews_count"),
      date_add(lit("1998-01-01").cast("date"), (k % 200).cast("int"))
        .cast("timestamp").as("first_ingested_at"))
    // one row per customer: the LATEST order carries the update payload
    val incoming = graft.Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("ck")).agg(max(col("o_orderkey")).as("mk"))
      .select(
        concat(when(col("ck") % 11 === 0, "plx").otherwise("pl"),
          col("ck").cast("string")).as("google_place_id"),
        when(col("ck") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("Updated #"), col("ck").cast("string"))).as("name"),
        when(col("ck") % 13 === 0, lit(null).cast("double"))
          .otherwise((col("mk") % 25).cast("double") / 10.0 + 2.5).as("rating"),
        (col("mk") % 1000).as("reviews_count"))
    MergeSink.upsert(existing, incoming, "google_place_id",
      updateCols = Seq("name", "rating", "reviews_count"),
      asOf = graft.domain.VolumeFixtures.asOfVol)
      .select(col("google_place_id"), col("name"), col("rating"),
        col("reviews_count"),
        date_format(col("first_ingested_at"), "yyyy-MM-dd").as("first_ingested_date"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s9_upsert_poi" -> (qS9Upsert _),
    "s9_atomic_roundtrip" -> (qS9AtomicRoundtrip _),
    "s9_optimistic_upsert" -> (qS9OptimisticUpsert _),
    "s19_time_travel" -> (qS19TimeTravel _),
    "s19_restore" -> (qS19Restore _),
    "s9_upsert_poi_vol" -> (qS9UpsertVol _),
    "s10_conditional_append" -> (qS10ConditionalAppend _),
    "pipe_incremental" -> (qIncrementalPipeline _),
    "pipe_incremental_vol" -> (qIncrementalPipelineVol _))

  private def existingValues: String = existingPoi.map { case (g, n, r, rc, fi) =>
    val rs = r.map(v => s"CAST($v AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
    val rcs = rc.map(_.toString).getOrElse("CAST(NULL AS INTEGER)")
    s"('$g', '$n', $rs, $rcs, TIMESTAMP '$fi')"
  }.mkString("(VALUES ", ", ", ")") +
    " AS e(google_place_id, name, rating, reviews_count, first_ingested_at)"

  private def incomingValues: String = incomingPoi.map { case (g, n, r, rc) =>
    val rs = r.map(v => s"CAST($v AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
    val rcs = rc.map(_.toString).getOrElse("CAST(NULL AS INTEGER)")
    s"('$g', '$n', $rs, $rcs)"
  }.mkString("(VALUES ", ", ", ")") +
    " AS i(google_place_id, name, rating, reviews_count)"

  private def pipeState0Values: String = pipeState0.map { case (g, n, r, rc, fi, ua, ls) =>
    val lss = ls.map(v => s"TIMESTAMP '$v'").getOrElse("CAST(NULL AS TIMESTAMP)")
    s"('$g', '$n', CAST($r AS DOUBLE), $rc, TIMESTAMP '$fi', TIMESTAMP '$ua', $lss)"
  }.mkString("(VALUES ", ", ", ")") +
    " AS t(google_place_id, name, rating, reviews_count, first_ingested_at, updated_at, last_scored_at)"

  private def pipeBatchValues(batch: Seq[(String, String, Option[Double], Option[Int])],
      day: String): String = batch.map { case (g, n, r, rc) =>
    val rs = r.map(v => s"CAST($v AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
    val rcs = rc.map(_.toString).getOrElse("CAST(NULL AS INTEGER)")
    s"('$g', '$n', $rs, $rcs, TIMESTAMP '$day')"
  }.mkString("(VALUES ", ", ", ")") +
    " AS t(google_place_id, name, rating, reviews_count, updated_at)"

  private def pipeSnapValues(rows: Seq[(String, String, Double, Int, String)]): String =
    rows.map { case (pid, sid, rv, rc, ca) =>
      s"('$pid', '$sid', CAST($rv AS DOUBLE), $rc, TIMESTAMP '$ca')"
    }.mkString("(VALUES ", ", ", ")") +
      " AS t(poi_id, source_id, rating_value, reviews_count, captured_at)"

  /** One MERGE day in SQL: full-outer + coalesce, same contract as
    * [[MergeSink.upsert]] with updateCols = name/rating/reviews_count/
    * updated_at and insert-stamped first_ingested_at. */
  private def pipeMergeSql(existing: String, batch: String, day: String): String =
    s"""SELECT coalesce(e.google_place_id, i.google_place_id) AS google_place_id,
       |    coalesce(i.name, e.name) AS name,
       |    coalesce(i.rating, e.rating) AS rating,
       |    coalesce(i.reviews_count, e.reviews_count) AS reviews_count,
       |    CASE WHEN e.google_place_id IS NULL THEN TIMESTAMP '$day'
       |         ELSE e.first_ingested_at END AS first_ingested_at,
       |    coalesce(i.updated_at, e.updated_at) AS updated_at,
       |    e.last_scored_at
       |  FROM $existing e FULL OUTER JOIN $batch i
       |    ON e.google_place_id = i.google_place_id""".stripMargin

  /** One conditional-append day in SQL (same contract as
    * [[MergeSink.conditionalAppend]]). */
  private def pipeAppendSql(existing: String, batch: String): String =
    s"""SELECT * FROM $existing
       |  UNION ALL
       |  SELECT inc.poi_id, inc.source_id, inc.rating_value, inc.reviews_count,
       |    inc.captured_at
       |  FROM $batch inc
       |  LEFT JOIN (SELECT poi_id, source_id, max(captured_at) AS latest_at
       |             FROM $existing GROUP BY poi_id, source_id) lat
       |    ON inc.poi_id = lat.poi_id AND inc.source_id = lat.source_id
       |  WHERE lat.latest_at IS NULL
       |     OR date_diff('day', CAST(lat.latest_at AS DATE), CAST(inc.captured_at AS DATE)) >= 7""".stripMargin

  private def pipeIncrementalSql: String =
    s"""WITH s0 AS (SELECT * FROM $pipeState0Values),
       |b1 AS (SELECT * FROM ${pipeBatchValues(pipeBatch1, Day1)}),
       |b2 AS (SELECT * FROM ${pipeBatchValues(pipeBatch2, Day2)}),
       |sn0 AS (SELECT * FROM ${pipeSnapValues(pipeSnap0)}),
       |sb1 AS (SELECT * FROM ${pipeSnapValues(pipeSnapB1)}),
       |sb2 AS (SELECT * FROM ${pipeSnapValues(pipeSnapB2)}),
       |state1 AS (${pipeMergeSql("s0", "b1", Day1)}),
       |state2 AS (${pipeMergeSql("state1", "b2", Day2)}),
       |snap1 AS (${pipeAppendSql("sn0", "sb1")}),
       |snap2 AS (${pipeAppendSql("snap1", "sb2")}),
       |counts AS (SELECT poi_id AS google_place_id, count(*) AS n_snapshots
       |           FROM snap2 GROUP BY poi_id),
       |cand AS (
       |  SELECT *, row_number() OVER (ORDER BY last_scored_at ASC NULLS FIRST,
       |    updated_at DESC, google_place_id ASC) AS rnk
       |  FROM state2
       |  WHERE (updated_at >= TIMESTAMP '$Day2' - INTERVAL 7 DAY
       |         OR last_scored_at IS NULL)
       |    AND (last_scored_at IS NULL
       |         OR last_scored_at < TIMESTAMP '$Day2' - INTERVAL 24 HOUR))
       |SELECT CAST(c.rnk AS BIGINT) AS rnk, c.google_place_id, c.name, c.rating,
       |  c.reviews_count,
       |  strftime(c.first_ingested_at, '%Y-%m-%d') AS first_ingested_date,
       |  strftime(c.updated_at, '%Y-%m-%d') AS updated_date,
       |  strftime(c.last_scored_at, '%Y-%m-%d') AS last_scored_date,
       |  coalesce(ct.n_snapshots, 0) AS n_snapshots
       |FROM cand c LEFT JOIN counts ct USING (google_place_id)""".stripMargin

  /** DuckDB replay of [[qIncrementalPipelineVol]]: the same customer-derived
    * state/batch/snapshot generation (identical modulus arithmetic), two
    * full-outer-join merges, two suppression rounds, and the ORDER BY +
    * LIMIT queue — the unique google_place_id tiebreak makes the k-boundary
    * deterministic on both engines. */
  private def pipeIncrementalVolSql: String = {
    def batch(mod: Int, day: String) =
      s"""SELECT 'g' || c_custkey AS google_place_id, c_name || ' v$mod' AS name,
         |    CASE WHEN c_custkey % 11 = 0 THEN NULL
         |         ELSE CAST(c_custkey % 17 AS DOUBLE) / 10.0 + 3.1 END AS rating,
         |    c_custkey % 3000 + $mod AS reviews_count,
         |    CAST(NULL AS TIMESTAMP) AS first_ingested_at,
         |    TIMESTAMP '$day' AS updated_at,
         |    CAST(NULL AS TIMESTAMP) AS last_scored_at
         |  FROM customer WHERE c_custkey % $mod = 0""".stripMargin
    def snapB(mod: Int, day: String) =
      s"""SELECT 'g' || c_custkey AS poi_id, 'google' AS source_id,
         |    CAST(c_custkey % 19 AS DOUBLE) / 10.0 + 3.0 AS rating_value,
         |    c_custkey % 900 + $mod AS reviews_count,
         |    TIMESTAMP '$day' AS captured_at
         |  FROM customer WHERE c_custkey % $mod = 0""".stripMargin
    def merge(e: String, i: String, asOf: String) =
      s"""SELECT coalesce(e.google_place_id, i.google_place_id) AS google_place_id,
         |    coalesce(i.name, e.name) AS name,
         |    coalesce(i.rating, e.rating) AS rating,
         |    coalesce(i.reviews_count, e.reviews_count) AS reviews_count,
         |    CASE WHEN e.google_place_id IS NULL THEN TIMESTAMP '$asOf'
         |         ELSE e.first_ingested_at END AS first_ingested_at,
         |    coalesce(i.updated_at, e.updated_at) AS updated_at,
         |    e.last_scored_at AS last_scored_at
         |  FROM $e e FULL OUTER JOIN $i i ON e.google_place_id = i.google_place_id""".stripMargin
    def accept(inc: String, existing: String) =
      s"""SELECT i.* FROM $inc i LEFT JOIN (
         |    SELECT poi_id, source_id, max(captured_at) AS latest_at
         |    FROM $existing GROUP BY poi_id, source_id) l
         |    ON i.poi_id = l.poi_id AND i.source_id = l.source_id
         |  WHERE l.latest_at IS NULL
         |     OR date_diff('day', CAST(l.latest_at AS DATE), CAST(i.captured_at AS DATE)) >= 7""".stripMargin
    val queueOrder = "last_scored_at ASC NULLS FIRST, updated_at DESC, google_place_id ASC"
    s"""WITH state0 AS (
       |  SELECT 'g' || c_custkey AS google_place_id, c_name AS name,
       |    CASE WHEN c_custkey % 23 = 0 THEN NULL
       |         ELSE CAST(c_custkey % 20 AS DOUBLE) / 10.0 + 3.0 END AS rating,
       |    c_custkey % 2000 AS reviews_count,
       |    CAST(DATE '1998-08-02' - CAST(c_custkey % 500 AS INT) AS TIMESTAMP) AS first_ingested_at,
       |    CAST(DATE '1998-08-02' - CAST(c_custkey % 90 AS INT) AS TIMESTAMP) AS updated_at,
       |    CASE WHEN c_custkey % 7 = 0 THEN NULL
       |         ELSE CAST(DATE '1998-08-02' - CAST(c_custkey % 40 AS INT) AS TIMESTAMP)
       |         END AS last_scored_at
       |  FROM customer WHERE c_custkey % 4 != 0),
       |b1 AS (${batch(2, Day1V)}),
       |b2 AS (${batch(3, Day2V)}),
       |s1 AS (${merge("state0", "b1", Day1V)}),
       |s2 AS (${merge("s1", "b2", Day2V)}),
       |snap0 AS (
       |  SELECT 'g' || c_custkey AS poi_id, 'google' AS source_id,
       |    CAST(c_custkey % 21 AS DOUBLE) / 10.0 + 2.9 AS rating_value,
       |    c_custkey % 1000 AS reviews_count,
       |    CAST(DATE '1998-08-03' - CAST(c_custkey % 10 + 1 AS INT) AS TIMESTAMP) AS captured_at
       |  FROM customer WHERE c_custkey % 5 = 0),
       |sb1 AS (${snapB(2, Day1V)}),
       |sb2 AS (${snapB(3, Day2V)}),
       |acc1 AS (${accept("sb1", "snap0")}),
       |snap1 AS (SELECT * FROM snap0 UNION ALL SELECT * FROM acc1),
       |acc2 AS (${accept("sb2", "snap1")}),
       |snap2 AS (SELECT * FROM snap1 UNION ALL SELECT * FROM acc2),
       |counts AS (
       |  SELECT poi_id AS google_place_id, count(*) AS n_snapshots
       |  FROM snap2 GROUP BY poi_id),
       |sel AS (
       |  SELECT * FROM s2
       |  WHERE (updated_at >= TIMESTAMP '$Day2V' - INTERVAL 7 DAY
       |         OR last_scored_at IS NULL)
       |    AND (last_scored_at IS NULL
       |         OR last_scored_at < TIMESTAMP '$Day2V' - INTERVAL 24 HOUR)
       |  ORDER BY $queueOrder
       |  LIMIT $RescoreLimit),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY $queueOrder) AS rnk FROM sel)
       |SELECT CAST(r.rnk AS BIGINT) AS rnk, r.google_place_id, r.name, r.rating,
       |  r.reviews_count,
       |  strftime(r.first_ingested_at, '%Y-%m-%d') AS first_ingested_date,
       |  strftime(r.updated_at, '%Y-%m-%d') AS updated_date,
       |  strftime(r.last_scored_at, '%Y-%m-%d') AS last_scored_date,
       |  coalesce(ct.n_snapshots, 0) AS n_snapshots
       |FROM ranked r LEFT JOIN counts ct USING (google_place_id)""".stripMargin
  }

  /** Same merge semantics as s9_upsert_poi — the round trip through the
    * staged commit + manifest read must be value-preserving. */
  private def s9AtomicSql: String =
    s"""SELECT coalesce(e.google_place_id, i.google_place_id) AS google_place_id,
       |  coalesce(i.name, e.name) AS name,
       |  coalesce(i.rating, e.rating) AS rating,
       |  coalesce(i.reviews_count, e.reviews_count) AS reviews_count,
       |  strftime(CASE WHEN e.google_place_id IS NULL
       |    THEN TIMESTAMP '${Fixtures.asOf}' ELSE e.first_ingested_at END,
       |    '%Y-%m-%d') AS first_ingested_date
       |FROM $existingValues
       |FULL OUTER JOIN $incomingValues
       |  ON e.google_place_id = i.google_place_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "pipe_incremental" -> pipeIncrementalSql,
    "pipe_incremental_vol" -> pipeIncrementalVolSql,
    "s9_atomic_roundtrip" -> s9AtomicSql,
    "s9_optimistic_upsert" -> s9AtomicSql,
    "s19_restore" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE doc_id BETWEEN ${StatsRead.ReadFrom} AND ${StatsRead.ReadTo}
         |GROUP BY lang, source""".stripMargin,
    "s19_time_travel" ->
      s"""WITH a AS (
         |  SELECT o_orderpriority, count(*) AS n_asof_v1 FROM orders
         |  WHERE o_orderdate < DATE '$TtCutoff' GROUP BY o_orderpriority),
         |b AS (
         |  SELECT o_orderpriority, count(*) AS n_live FROM orders
         |  GROUP BY o_orderpriority)
         |SELECT o_orderpriority, n_asof_v1, n_live, n_live - n_asof_v1 AS n_added
         |FROM a JOIN b USING (o_orderpriority)""".stripMargin,
    "s9_upsert_poi" ->
      s"""SELECT coalesce(e.google_place_id, i.google_place_id) AS google_place_id,
         |  coalesce(i.name, e.name) AS name,
         |  coalesce(i.rating, e.rating) AS rating,
         |  coalesce(i.reviews_count, e.reviews_count) AS reviews_count,
         |  strftime(CASE WHEN e.google_place_id IS NULL
         |    THEN TIMESTAMP '${Fixtures.asOf}' ELSE e.first_ingested_at END,
         |    '%Y-%m-%d') AS first_ingested_date
         |FROM $existingValues
         |FULL OUTER JOIN $incomingValues
         |  ON e.google_place_id = i.google_place_id""".stripMargin,
    "s9_upsert_poi_vol" ->
      s"""WITH e AS (
         |  SELECT 'pl' || CAST(c_custkey AS VARCHAR) AS google_place_id,
         |    c_name AS name,
         |    CASE WHEN c_custkey % 23 = 0 THEN NULL
         |      ELSE CAST(c_custkey % 20 AS DOUBLE) / 10.0 + 3.0 END AS rating,
         |    c_custkey % 600 AS reviews_count,
         |    CAST(DATE '1998-01-01' + CAST(c_custkey % 200 AS INTEGER) AS TIMESTAMP) AS first_ingested_at
         |  FROM customer),
         |i AS (
         |  SELECT (CASE WHEN ck % 11 = 0 THEN 'plx' ELSE 'pl' END) || CAST(ck AS VARCHAR) AS google_place_id,
         |    CASE WHEN ck % 3 = 0 THEN NULL
         |      ELSE 'Updated #' || CAST(ck AS VARCHAR) END AS name,
         |    CASE WHEN ck % 13 = 0 THEN NULL
         |      ELSE CAST(mk % 25 AS DOUBLE) / 10.0 + 2.5 END AS rating,
         |    mk % 1000 AS reviews_count
         |  FROM (SELECT o_custkey AS ck, max(o_orderkey) AS mk
         |        FROM orders GROUP BY o_custkey) b)
         |SELECT coalesce(e.google_place_id, i.google_place_id) AS google_place_id,
         |  coalesce(i.name, e.name) AS name,
         |  coalesce(i.rating, e.rating) AS rating,
         |  coalesce(i.reviews_count, e.reviews_count) AS reviews_count,
         |  strftime(CASE WHEN e.google_place_id IS NULL
         |    THEN TIMESTAMP '${graft.domain.VolumeFixtures.asOfVol}' ELSE e.first_ingested_at END,
         |    '%Y-%m-%d') AS first_ingested_date
         |FROM e FULL OUTER JOIN i
         |  ON e.google_place_id = i.google_place_id""".stripMargin,
    "s10_conditional_append" ->
      s"""SELECT inc.poi_id, inc.source_id, inc.rating_value, inc.reviews_count,
         |  strftime(inc.captured_at, '%Y-%m-%d') AS captured_date
         |FROM $incomingSnapshotValues
         |LEFT JOIN (SELECT poi_id, source_id, max(captured_at) AS latest_at
         |           FROM ${Fixtures.snapshotValues} GROUP BY poi_id, source_id) lat
         |  ON inc.poi_id = lat.poi_id AND inc.source_id = lat.source_id
         |WHERE lat.latest_at IS NULL
         |   OR date_diff('day', CAST(lat.latest_at AS DATE), CAST(inc.captured_at AS DATE)) >= 7""".stripMargin)
}
