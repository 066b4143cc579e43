package graft.sinks

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** MULTI-TABLE ATOMIC COMMIT CORRIDOR (r19 verdict item 4): one micro-batch
  * whose effects span N tables, committed in a FIXED ORDER under ONE
  * (appId, batchId) stamp. The reference's ingest step writes poi + cell
  * state + snapshot together (google_places_ingester.py:516-555,
  * h3_scheduler.py:349-355 — Postgres gives it one transaction); the file
  * protocol's replacement is the REDELIVERY CORRIDOR, one first-class
  * N-table batch commit. Both two-table gates commit through it: the
  * expectations gate ([[Expectations.commitExpectBatch]], two appends,
  * quarantine first) and the upkeep ingest ([[graft.streaming.IngestLoop]],
  * keyed poi upsert then ledger replace):
  *
  *  - every part commits through its table's OWN stamped primitive
  *    ([[AtomicTable.commitBatch]] / [[AtomicTable.commitAppendBatch]] /
  *    [[KeyedMerge.commitBatchKeyed]]), so each table records the batch it
  *    absorbed in its own manifest — there is no cross-table lock and no
  *    global state, which is exactly what makes the corridor crash-safe;
  *  - a crash BETWEEN two parts leaves a prefix of tables stamped; the
  *    batch replays (foreachBatch is at-least-once), stamped tables SKIP
  *    without evaluating their frames (manifest-only check), the rest
  *    apply — after the replay every table holds exactly one copy. The
  *    convergence argument is per-table idempotence + the fixed part
  *    order; no 2PC, no coordinator, no torn reads (each table's readers
  *    see complete versions throughout).
  *
  * CONSISTENCY GRAIN, stated honestly: between the crash and the replay a
  * reader can observe table k at the new batch while table k+1 lags one
  * batch — the corridor guarantees exactly-once per table and eventual
  * agreement, not a cross-table snapshot (the reference's Postgres
  * transaction is stronger; a lakehouse gets this grain, same as Delta's
  * multi-table txn guidance). Order parts so the AUDIT/guard table
  * commits first (quarantine-first in the expectations gate, ledger-last
  * here so admission can never over-spend).
  *
  * `crashAfter` is the declared fail-injection point (the
  * crash-between-commits window), used by the driver query and specs to
  * prove convergence — production callers never pass it. */
object MultiCommit {

  /** Thrown by the fail-injection point — the "process died between two
    * table commits" window made schedulable. */
  final class CrashWindow(after: Int)
    extends RuntimeException(s"injected crash after $after committed parts")

  sealed trait Part { def root: String }

  /** REPLACE the table's state with the thunk's frame (the small-state
    * shape: a ledger, a per-cell summary). */
  final case class Replace(root: String, df: () => DataFrame,
      statsCols: Seq[String] = Nil) extends Part

  /** APPEND the thunk's frame add-files-only (the accumulating shape: an
    * audit log, a snapshot stream). */
  final case class Append(root: String, df: () => DataFrame,
      statsCols: Seq[String] = Nil) extends Part

  /** Stats-pruned keyed upsert of the thunk's changeset (the big-table
    * shape: the poi/document upsert). A fresh table bootstraps through the
    * plain stamped commit with `applyFn(changes.limit(0), changes)` — the
    * kernel sees an empty base with the changeset's schema. */
  final case class Keyed(root: String, keyCol: String,
      changes: () => DataFrame, applyFn: (DataFrame, DataFrame) => DataFrame,
      statsCols: Seq[String] = Nil) extends Part

  /** Commit `parts` in order under one (appId, batchId) stamp. Returns one
    * flag per part: true = applied, false = the table had already absorbed
    * this batch (a redelivery after a crash in the window) and was skipped
    * without evaluating its frame. */
  def commitBatchAll(spark: SparkSession, parts: Seq[Part], appId: String,
      batchId: Long, crashAfter: Int = Int.MaxValue): Seq[Boolean] = {
    require(parts.nonEmpty, "commitBatchAll needs at least one part")
    require(parts.map(_.root).distinct.size == parts.size,
      "one table cannot appear twice in a batch — its second commit would " +
        "read as a redelivery and silently skip")
    parts.zipWithIndex.map { case (p, i) =>
      if (i >= crashAfter) throw new CrashWindow(crashAfter)
      p match {
        case Replace(root, df, statsCols) =>
          AtomicTable.commitBatch(df(), root, appId, batchId, statsCols)
        case Append(root, df, statsCols) =>
          AtomicTable.commitAppendBatch(df(), root, appId, batchId, statsCols)
        case Keyed(root, keyCol, changes, applyFn, statsCols) =>
          if (AtomicTable.currentVersion(root).isDefined)
            KeyedMerge.commitBatchKeyed(spark, root, appId, batchId, Seq(keyCol),
              changes(), applyFn).isDefined
          else {
            lazy val c = changes()
            AtomicTable.commitBatch(applyFn(c.limit(0), c), root, appId,
              batchId, statsCols)
          }
      }
    }
  }

  // ---- declared query -----------------------------------------------------

  def tableRoot(dir: String): String =
    "spark-warehouse/s25_multi_" + new java.io.File(dir).getName

  /** THE INGEST TRIPLE WITH A BAKED-IN CRASH WINDOW: each micro-batch
    * (events split by event_id parity) lands in three tables in one
    * corridor — a KEYED per-user state (additive upsert), a REPLACE
    * per-type day state (last batch wins), an APPEND audit log. Batch 0
    * commits clean; batch 1 is first committed with the crash injected
    * BETWEEN the keyed table and the replace table, then REPLAYED whole:
    * the query THROWS unless the crashed attempt stamped exactly the
    * prefix, the replay's flags are (skip, apply, apply), and a full
    * redelivery afterwards is all-skip. The returned frame unions all
    * three tables' aggregates; the oracle replays the additive state, the
    * last batch's day state, and the full audit in SQL — the hash row
    * value-checks that the crash+replay converged to exactly-once on
    * every table. */
  val Batches = 2

  def qS25MultiCommit(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir)
    AtomicTable.deleteRecursively(Paths.get(root))
    val (userRoot, dayRoot, auditRoot) =
      (s"$root/user_state", s"$root/day_state", s"$root/audit")
    // staged (r22): the part thunks re-evaluate their batch slices across
    // the clean commit, the crashed attempt, the replay and the three reads
    // (≈6 scans of events); one lazy checkpoint of the slim projection
    // serves them all. Lazy, so a skipped (redelivered) part still never
    // triggers an evaluation it would not have. Size-gated.
    val events = Tables.stageLocal(Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      graft.ops.Relational.quantize(col("value"), 2).cast("long").as("val_c")))
    def batch(b: Int): DataFrame = events.filter(col("event_id") % Batches === b)
    def userChanges(b: Int): DataFrame = batch(b).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("val_c")).as("sum_val"))
    val additive = (base: DataFrame, c: DataFrame) =>
      base.join(c.select(col("user_id"), col("n_events").as("cn"),
          col("sum_val").as("cs")), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n_events"), lit(0L)) + coalesce(col("cn"), lit(0L))).as("n_events"),
          (coalesce(col("sum_val"), lit(0L)) + coalesce(col("cs"), lit(0L))).as("sum_val"))
    def parts(b: Int): Seq[Part] = Seq(
      Keyed(userRoot, "user_id", () => userChanges(b), additive, Seq("user_id")),
      Replace(dayRoot, () => batch(b).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("val_c")).as("sum_val"))),
      Append(auditRoot, () => batch(b)
        .select(col("event_id"), col("user_id"), col("val_c"),
          lit(b.toLong).as("batch"))))
    val app = "s25-multi"
    // batch 0: clean corridor — every part applies
    val f0 = commitBatchAll(spark, parts(0), app, 0L)
    if (f0 != Seq(true, true, true))
      throw new IllegalStateException(s"clean batch did not apply whole: $f0")
    // batch 1: CRASH between the keyed commit and the replace commit
    val crashed =
      try { commitBatchAll(spark, parts(1), app, 1L, crashAfter = 1); false }
      catch { case _: CrashWindow => true }
    if (!crashed)
      throw new IllegalStateException("the crash window did not fire")
    if (!AtomicTable.lastBatch(userRoot).contains((app, 1L)) ||
        !AtomicTable.lastBatch(dayRoot).contains((app, 0L)))
      throw new IllegalStateException(
        "the crash did not leave exactly the stamped prefix")
    // the REPLAY: stamped prefix skips, the rest applies — convergence
    val f1 = commitBatchAll(spark, parts(1), app, 1L)
    if (f1 != Seq(false, true, true))
      throw new IllegalStateException(s"replay flags wrong: $f1 (want skip, apply, apply)")
    // a full redelivery after convergence is a no-op on every table
    val f2 = commitBatchAll(spark, parts(1), app, 1L)
    if (f2 != Seq(false, false, false))
      throw new IllegalStateException(s"converged redelivery not all-skip: $f2")
    val user = AtomicTable.read(spark, userRoot)
      .groupBy((col("user_id") % 7).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("sum_val")).as("s"))
      .select(lit("user").as("bucket"), col("k").cast("string").as("k"),
        col("n"), col("s"))
    val day = AtomicTable.read(spark, dayRoot)
      .select(lit("day").as("bucket"), col("event_type").as("k"),
        col("n_events").as("n"), col("sum_val").as("s"))
    val audit = AtomicTable.read(spark, auditRoot)
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n"), sum(col("val_c")).as("s"))
      .select(lit("audit").as("bucket"), col("batch").cast("string").as("k"),
        col("n"), col("s"))
    user.unionByName(day).unionByName(audit)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s25_multi_commit" -> (qS25MultiCommit _))

  val oracles: Map[String, String] = Map(
    // user = additive totals over ALL events; day = the LAST batch's
    // per-type state (replace semantics); audit = every batch's rows —
    // any double-apply or lost part breaks the corresponding rows
    "s25_multi_commit" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, event_type,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c,
         |    event_id % $Batches AS b
         |  FROM events)
         |SELECT 'user' AS bucket, CAST(user_id % 7 AS VARCHAR) AS k,
         |  count(DISTINCT user_id) AS n, CAST(sum(val_c) AS BIGINT) AS s
         |FROM ev GROUP BY user_id % 7
         |UNION ALL
         |SELECT 'day', event_type, count(*), CAST(sum(val_c) AS BIGINT)
         |FROM ev WHERE b = ${Batches - 1} GROUP BY event_type
         |UNION ALL
         |SELECT 'audit', CAST(b AS VARCHAR), count(*), CAST(sum(val_c) AS BIGINT)
         |FROM ev GROUP BY b""".stripMargin)
}
