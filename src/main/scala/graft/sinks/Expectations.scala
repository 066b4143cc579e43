package graft.sinks

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** WRITE-TIME EXPECTATIONS with QUARANTINE — the data-quality gate a
  * training corpus cannot skip (Delta CHECK constraints / DLT
  * expectations, with the `expect_or_quarantine` policy a pipeline
  * actually wants: aborting a 100 TB ingest because 0.1% of documents are
  * malformed throws away the 99.9%, and silently dropping the bad rows
  * destroys the audit trail). One pass over the batch evaluates EVERY
  * rule (no per-rule scans), rows failing any rule land in a QUARANTINE
  * table annotated with the failed rule names, the rest commit to the
  * main table — both through the atomic protocol, so a crash between the
  * two commits leaves either table readable at its previous version.
  *
  * NULL semantics, stated: a rule PASSES only where its predicate is
  * literally TRUE — an expectation that evaluates to NULL (e.g.
  * `n_chars > 100` on a NULL n_chars) FAILS, matching the intuition that
  * an unverifiable row is not a verified row (and unlike SQL CHECK, which
  * lets NULLs through).
  *
  * Scale shape: the rule column is one codegen'd projection
  * (array of failed names via when/array/filter — no UDF); the batch is
  * materialized once (eager localCheckpoint — it feeds two writes and a
  * counts aggregate; re-evaluating a source twice could send a row to
  * BOTH tables on drift); per-rule counts reduce map-side. */
object Expectations {

  /** A named expectation over the batch's columns. */
  final case class Expectation(name: String, predicate: Column)

  /** What the gate did. `byRule` counts quarantined rows per failed rule
    * (a row failing two rules counts under both). */
  final case class ExpectStats(version: String, quarantineVersion: String,
      passed: Long, quarantined: Long, byRule: Map[String, Long])

  /** The annotation column added to quarantined rows. */
  val FailedCol = "_failed_expectations"

  /** Evaluate `expectations` over `df` in one pass, commit failing rows
    * (annotated with the failed rule names, sorted) to `quarantineRoot`,
    * then passing rows to `root`. The QUARANTINE commits FIRST: a crash
    * between the two commits must never publish the admitted rows while
    * silently losing their batch's audit trail — retrying the whole batch
    * after a quarantine-only crash re-quarantines duplicates (visible,
    * reconcilable) instead of destroying evidence (the r18 advisory; the
    * streaming form [[commitExpectBatch]] removes even the duplicates via
    * the redelivery corridor). `statsCols` index the MAIN table's version
    * as usual. */
  def commitExpect(spark: SparkSession, df: DataFrame, root: String,
      quarantineRoot: String, expectations: Seq[Expectation],
      statsCols: Seq[String] = Nil): ExpectStats = {
    val (annotated, main, quarantine) = gate(df, expectations)
    val qv = AtomicTable.commit(quarantine, quarantineRoot)
    val v = AtomicTable.commit(main, root, statsCols = statsCols)
    finishStats(v, qv, annotated, expectations)
  }

  /** The one-pass gate: checkpointed annotated batch + the two splits. */
  private def gate(df: DataFrame, expectations: Seq[Expectation])
      : (DataFrame, DataFrame, DataFrame) = {
    require(expectations.nonEmpty, "commitExpect needs at least one expectation")
    require(expectations.map(_.name).distinct.size == expectations.size,
      "expectation names must be unique")
    // failed = the names whose predicate is not TRUE (NULL fails)
    val failed = array_compact(array(expectations.map { e =>
      when(e.predicate, lit(null).cast("string")).otherwise(lit(e.name))
    }: _*))
    val annotated = df.withColumn(FailedCol, failed).localCheckpoint(true)
    val main = annotated.filter(size(col(FailedCol)) === 0).drop(FailedCol)
    val quarantine = annotated.filter(size(col(FailedCol)) > 0)
      .withColumn(FailedCol, array_join(array_sort(col(FailedCol)), ","))
    (annotated, main, quarantine)
  }

  /** ALL the gate's counters — pass/fail totals AND the per-rule counts —
    * in ONE aggregate job over the checkpointed batch (the r18 advisory:
    * a count() per rule cost R extra scans; per-rule sums reduce map-side
    * in the same pass as the totals). */
  private def finishStats(v: String, qv: String, annotated: DataFrame,
      expectations: Seq[Expectation]): ExpectStats = {
    val aggs =
      sum(when(size(col(FailedCol)) === 0, 1L).otherwise(0L)).as("ok") +:
      sum(when(size(col(FailedCol)) > 0, 1L).otherwise(0L)).as("bad") +:
      expectations.zipWithIndex.map { case (e, i) =>
        sum(when(array_contains(col(FailedCol), e.name), 1L).otherwise(0L))
          .as(s"r$i")
      }
    val row = annotated.agg(aggs.head, aggs.tail: _*).head
    def at(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    val byRule = expectations.zipWithIndex.map { case (e, i) =>
      e.name -> at(2 + i)
    }.toMap
    ExpectStats(v, qv, at(0), at(1), byRule)
  }

  /** EXACTLY-ONCE streaming form of [[commitExpect]] — the corpus
    * admission gate inside `foreachBatch` (the r18 verdict item 3).
    * `foreachBatch` is at-least-once, and the gate writes TWO tables, so
    * the redelivery corridor must cover BOTH commits:
    *
    *  - a batch the MAIN table has absorbed is a full redelivery — skipped
    *    without evaluating `df` (manifest-only check), returns None;
    *  - otherwise the gate evaluates ONCE (checkpointed) and each table
    *    APPENDS through [[AtomicTable.commitAppendBatch]]'s (appId,
    *    batchId) stamp, QUARANTINE FIRST — a streamed corpus accumulates
    *    batches, and the append-only commit costs the batch's bytes, not
    *    the table's. A crash between the two commits replays the batch:
    *    the quarantine table skips (already stamped), the main table
    *    applies — both tables converge to exactly one copy, and the
    *    audit-trail rows are never published without their complement.
    *
    * The per-rule counters run only when something committed. */
  def commitExpectBatch(spark: SparkSession, df: => DataFrame, root: String,
      quarantineRoot: String, expectations: Seq[Expectation], appId: String,
      batchId: Long, statsCols: Seq[String] = Nil): Option[ExpectStats] = {
    if (AtomicTable.lastBatch(root).exists { case (app, b) =>
        app == appId && batchId <= b }) None
    else {
      val (annotated, main, quarantine) = gate(df, expectations)
      AtomicTable.commitAppendBatch(quarantine, quarantineRoot, appId, batchId)
      val qv = AtomicTable.currentVersion(quarantineRoot).getOrElse(
        throw new IllegalStateException(
          s"quarantine commit left no version at $quarantineRoot"))
      AtomicTable.commitAppendBatch(main, root, appId, batchId, statsCols)
      val v = AtomicTable.currentVersion(root).getOrElse(
        throw new IllegalStateException(s"main commit left no version at $root"))
      Some(finishStats(v, qv, annotated, expectations))
    }
  }

  // ------------------------------------------------- driver query

  def expectRoot(dir: String): String =
    "spark-warehouse/dq_expect_" + new java.io.File(dir).getName

  val MinChars = 100L

  /** The corpus admission gate, driver-gated: documents pass only if long
    * enough AND in the allowed language set — REAL rows fail each rule at
    * every SF. The query THROWS unless the split is lossless
    * (passed + quarantined == input), the per-rule counts match the
    * data, both tables committed atomically, and the quarantine rows
    * carry their failed-rule annotation. The returned frame unions both
    * tables' aggregates under a bucket label; the oracle replays the
    * same split in SQL — the hash row value-checks the gate, the
    * annotation, and both commits end to end. */
  def qDqExpectQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val root = expectRoot(dir)
    val qRoot = root + "_quarantine"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.deleteRecursively(Paths.get(qRoot))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val rules = Seq(
      Expectation("long_enough", col("n_chars") >= MinChars),
      Expectation("allowed_lang", col("lang").isin("en", "fr", "de", "es")))
    val st = commitExpect(spark, docs, root, qRoot, rules,
      statsCols = Seq("doc_id"))
    // the three independent count checks fused into ONE scan (r22): the
    // conditional sums reproduce the former filter().count() semantics
    // exactly (a NULL predicate contributes 0, as a filter would drop it)
    val chk = docs.agg(count(lit(1)),
      sum(when(col("n_chars") < MinChars, 1L).otherwise(0L)),
      sum(when(!col("lang").isin("en", "fr", "de", "es"), 1L).otherwise(0L))).head
    val total = chk.getLong(0)
    if (st.passed + st.quarantined != total || st.quarantined < 1 ||
        st.passed < 1)
      throw new IllegalStateException(
        s"expectation split lost rows: $st vs input $total")
    val expectShort = chk.getLong(1)
    val expectLang = chk.getLong(2)
    if (st.byRule("long_enough") != expectShort ||
        st.byRule("allowed_lang") != expectLang)
      throw new IllegalStateException(
        s"per-rule counts diverge from the data: $st " +
          s"(want long_enough=$expectShort, allowed_lang=$expectLang)")
    val kept = AtomicTable.read(spark, root)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("bucket", lit("kept"))
    val quarantined = AtomicTable.read(spark, qRoot)
      .groupBy(col(FailedCol).as("lang")) // failed-rule string as the group key
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("bucket", lit("quarantined"))
    kept.unionByName(quarantined)
      .select(col("bucket"), col("lang"), col("n_docs"), col("sum_chars"))
  }

  /** STREAMED EXPECTATIONS GATE, driver-gated (r18 verdict item 3): the
    * corpus arrives as an AvailableNow file stream (one file per
    * micro-batch, three batches partitioning `documents` by doc_id % 3),
    * each batch through [[commitExpectBatch]] — quarantine appended first,
    * both tables stamped under one (appId, batchId). A RESTART is baked
    * in: the first AvailableNow run consumes all three batches, then the
    * engine's commit record for the LAST batch (2) is dropped — the
    * crash-after-sink-commit-before-offsets-checkpoint window
    * foreachBatch documents — and the stream restarts on the same
    * checkpoint: Spark redelivers batch 2 and the gate must SKIP BOTH
    * tables (None) without evaluating the batch.
    * THROWS unless applied==3 ∧ redelivered-skips==1 ∧ the accumulated
    * split is lossless. The final frame unions both tables' aggregates —
    * same oracle as the batch gate, so the hash row is green only through
    * the exactly-once append corridor. Scale shape per micro-batch: the
    * one-pass rule projection + two add-files-only appends
    * ([[AtomicTable.commitAppend]] — the batch's bytes, never the
    * table's). */
  def qDqExpectStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = expectRoot(dir) + "_stream"
    AtomicTable.deleteRecursively(Paths.get(root))
    val (mainRoot, qRoot, feedDir, ckpt) =
      (s"$root/table", s"$root/quarantine", s"$root/feed", s"$root/ckpt")
    Files.createDirectories(Paths.get(feedDir))
    // staged (r22): the three slice writes and the final count otherwise
    // each re-scan documents; size-gated like every corpus-rooted staging
    val docs = Tables.stageLocal(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))
    // all three micro-batch slices in ONE partitioned write job (r22)
    FeedSlices.writeSlices(docs.withColumn(FeedSlices.SliceCol,
      (col("doc_id") % 3).cast("int")), feedDir, 3)
    val rules = Seq(
      Expectation("long_enough", col("n_chars") >= MinChars),
      Expectation("allowed_lang", col("lang").isin("en", "fr", "de", "es")))
    val schema = Footers.readDir(spark, Paths.get(feedDir, "b0")).schema
    val applied = new java.util.concurrent.atomic.AtomicInteger(0)
    val redelivered = new java.util.concurrent.atomic.AtomicInteger(0)
    def runStream(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$feedDir/b*")
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          commitExpectBatch(spark, b, mainRoot, qRoot, rules,
              "dq-expect-stream", bid, statsCols = Seq("doc_id")) match {
            case Some(_) => applied.incrementAndGet()
            case None => redelivered.incrementAndGet()
          }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      if (!q.awaitTermination(180000)) {
        q.stop()
        throw new IllegalStateException("dq expect stream timed out")
      }
    }
    // feed files all exist up front: the first run consumes batches 0-2;
    // dropping the LAST batch's commit record (2) then restarting on the
    // same checkpoint forces Spark to redeliver batch 2
    runStream()
    Files.delete(Paths.get(ckpt, "commits", "2"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".2.crc"))
    runStream()
    if (applied.get != 3 || redelivered.get != 1)
      throw new IllegalStateException(
        s"exactly-once violated: applied=${applied.get} (want 3), " +
          s"redelivered-skips=${redelivered.get} (want 1)")
    val kept = AtomicTable.read(spark, mainRoot)
    val quarantined = AtomicTable.read(spark, qRoot)
    // three count checks fused into ONE job (r22): a union of the three
    // single-row aggregates — same three counts, two fewer job submissions
    val cnts = docs.agg(count(lit(1)))
      .unionAll(kept.agg(count(lit(1))))
      .unionAll(quarantined.agg(count(lit(1))))
      .collect().map(_.getLong(0))
    if (cnts(1) + cnts(2) != cnts(0))
      throw new IllegalStateException(
        "streamed expectation split lost or duplicated rows")
    kept.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("bucket", lit("kept"))
      .unionByName(quarantined
        .groupBy(col(FailedCol).as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("bucket", lit("quarantined")))
      .select(col("bucket"), col("lang"), col("n_docs"), col("sum_chars"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_expect_quarantine" -> (qDqExpectQuarantine _),
    "dq_expect_stream" -> (qDqExpectStream _))

  private def expectOracleSql: String =
    s"""WITH flagged AS (
       |  SELECT lang, n_chars,
       |    list_sort(list_filter([
       |      CASE WHEN NOT coalesce(n_chars >= $MinChars, FALSE)
       |           THEN 'long_enough' END,
       |      CASE WHEN NOT coalesce(lang IN ('en','fr','de','es'), FALSE)
       |           THEN 'allowed_lang' END
       |    ], x -> x IS NOT NULL)) AS failed
       |  FROM documents)
       |SELECT 'kept' AS bucket, lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM flagged WHERE len(failed) = 0 GROUP BY lang
       |UNION ALL
       |SELECT 'quarantined', array_to_string(failed, ','), count(*),
       |  CAST(sum(n_chars) AS BIGINT)
       |FROM flagged WHERE len(failed) > 0 GROUP BY 2""".stripMargin

  val oracles: Map[String, String] = Map(
    // batch cuts must not change the gate: the streamed form replays the
    // SAME whole-corpus split
    "dq_expect_stream" -> expectOracleSql,
    // the oracle replays the same split AND the same sorted failed-rule
    // annotation, so the hash row value-checks the quarantine labels too
    "dq_expect_quarantine" ->
      s"""WITH flagged AS (
         |  SELECT lang, n_chars,
         |    list_sort(list_filter([
         |      CASE WHEN NOT coalesce(n_chars >= $MinChars, FALSE)
         |           THEN 'long_enough' END,
         |      CASE WHEN NOT coalesce(lang IN ('en','fr','de','es'), FALSE)
         |           THEN 'allowed_lang' END
         |    ], x -> x IS NOT NULL)) AS failed
         |  FROM documents)
         |SELECT 'kept' AS bucket, lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM flagged WHERE len(failed) = 0 GROUP BY lang
         |UNION ALL
         |SELECT 'quarantined', array_to_string(failed, ','), count(*),
         |  CAST(sum(n_chars) AS BIGINT)
         |FROM flagged WHERE len(failed) > 0 GROUP BY 2""".stripMargin)
}
