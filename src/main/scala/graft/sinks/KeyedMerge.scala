package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STATS-PRUNED KEYED MERGE — file-granular upsert on the atomic table (r17
  * verdict item 1, its top-next): apply a keyed changeset (the CDC
  * insert/update/delete feed, an upsert batch) by rewriting ONLY the data
  * files whose key statistics intersect the changeset's keys, hard-linking
  * every other file into the next version unchanged, and appending net-new
  * inserts into the rewrite output. This is the Delta/Iceberg MERGE
  * file-granularity contract: before it, every [[AtomicTable.mergeCommit]]
  * producer materialized the COMPLETE next version per merge — 100% write
  * amplification per micro-batch; at 100 TB with a changeset touching 0.1%
  * of keys that is 1000× more bytes than necessary. The delete path
  * ([[TargetedDelete.stageDelete]]) proved the prune/rewrite/link staging;
  * this generalizes "delete matched rows" to "replace matched rows + append
  * net-new" (reference hot path: the pipeline's poi/mention upserts,
  * utils/database.py:737-896 — Postgres gives it row-granular writes; this
  * is the file-granular lakehouse re-expression).
  *
  * Pruning decision: a live file is REWRITTEN iff [[FileAdmission.assign]]
  * admits it — the one ladder every keyed read, delete and merge shares
  * (stats hull, bloom manifest, TSV bloom), over one key column or several;
  * everything else is LINKED (metadata-only, O(1) per file). Up to
  * [[DriverKeyThreshold]] change rows the keys are collected on the driver
  * (a CDC micro-batch's key set — driver-sized by nature); beyond it the
  * per-file boundary index is broadcast into a SPARK JOB over the
  * changeset's distinct keys, and only intersecting FILE NAMES come back.
  *
  * The merge kernel `applyFn(base, changes)` sees ONLY the intersecting
  * files' rows as `base` and must honor the contract that makes link-reuse
  * sound: rows of `base` whose key has no change pass through unchanged, and
  * every output row's key is in base ∪ changes ([[CdcApply.apply]] and the
  * MergeSink upsert kernels are exactly this shape). Files the stats prove
  * disjoint from every change key cannot hold a matched row, so linking them
  * is not an approximation — it is the same proof the delete path uses.
  *
  * LAYOUT MAINTENANCE: the rewrite output is range-repartitioned on `keyCol`
  * back to the touched-file count, so an id-clustered table STAYS
  * id-clustered across merges — without it every merge would shatter the
  * clustering (shuffle.partitions-many overlapping files) and the NEXT
  * merge's pruning would decay toward rewrite-everything. The output
  * version's `_KEYSTATS` sidecar self-maintains: linked files carry all
  * their index rows forward, rewritten files get fresh `keyCol` rows from
  * their just-written local footers — so merge after merge stays on the
  * zero-footer-read path.
  *
  * Concurrency mirrors the delete: [[merge]]'s default
  * [[AtomicTable.Writer.Single]] is the single-writer path
  * ([[AtomicTable.singleWriterStaged]] — crashed-stage overwrite,
  * complete-claim adoption + rebase); [[AtomicTable.Writer.Occ]] runs the
  * same staging through [[AtomicTable.occCommit]]'s claim/rebase CAS;
  * [[commitBatchKeyed]] adds [[AtomicTable.commitBatch]]'s
  * (appId, batchId) redelivery guard for Structured Streaming foreachBatch —
  * the streamed CDC apply ([[CdcApply]]) runs on it. */
object KeyedMerge {

  /** The merge's audit row. `rewrittenFiles` counts the files the
    * admission kept (plus conservative unknowns); `reusedFiles` were
    * hard-linked; `footerReads` is 0 when the sidecar indexed every key
    * column (the manifest-stats path). `totalFiles` counts the BASE
    * version's files; the output may hold more or fewer (inserts, 0-row
    * rewrites). `bloomSkipped` counts files the stats hull admitted that
    * a bloom backend (`_KEYBLOOM` or the manifest) proved disjoint — the
    * unclustered-key prune. */
  final case class MergeStats(version: String, totalFiles: Int,
      rewrittenFiles: Int, reusedFiles: Int, footerReads: Int,
      bloomSkipped: Int = 0)

  /** Above this many distinct change keys the file-assignment decision runs
    * as a Spark job against the broadcast boundary index instead of
    * enumerating keys on the driver. */
  val DriverKeyThreshold = 100000

  /** Bin-packing target for the rewrite output (the Delta optimized-write
    * move): the output file count is ceil(rewrittenRows / this), capped at
    * the touched-file count — so a micro-batch rewriting 3 small files emits
    * ONE file instead of 3 slivers, while a 10⁹-row rewrite keeps the
    * touched layout's granularity. Wide-hull files a merge leaves behind
    * (an insert block far from the update block in one output file) are
    * healed by the maintenance pass ([[Compaction]]/[[ZorderLayout]]),
    * exactly Delta's MERGE-then-OPTIMIZE contract. */
  val MergeTargetRowsPerFile: Long = 4L << 20

  /** fileKey (inode identity) equality — the PROOF a "reused" file was
    * hard-linked, not copied or rewritten. Used by the declared query's
    * audit and the spec. */
  def sameInode(a: Path, b: Path): Boolean = {
    val ka = Files.readAttributes(a, classOf[BasicFileAttributes]).fileKey()
    val kb = Files.readAttributes(b, classOf[BasicFileAttributes]).fileKey()
    ka != null && ka == kb
  }

  /** Stage the post-merge state of `liveDir` into `stageDir`: rewrite ONLY
    * the files [[FileAdmission.assign]] admits through `applyFn`, hard-link
    * the rest, write the next version's self-maintained `_KEYSTATS`. One
    * key column or several (a 1-tuple or a composite key) take the same
    * assignment. The stats row's version is filled in by the caller once
    * the commit publishes. */
  private def stageMerge(spark: SparkSession, liveDir: Path, stageDir: Path,
      keyCols: Seq[String], changes: DataFrame,
      applyFn: (DataFrame, DataFrame) => DataFrame,
      driverKeyThreshold: Int): MergeStats = {
    require(keyCols.nonEmpty, "keyed merge needs at least one key column")
    TargetedDelete.requireFlatLayout(liveDir, "keyed merge")
    val files = TargetedDelete.partFiles(liveDir)
    if (files.isEmpty)
      throw new IllegalStateException(
        s"keyed merge against a fileless version at $liveDir")
    val sideAll = KeyStats.loadStats(liveDir)
    val (rows, opened) = KeyStats.rowsFor(spark, sideAll, files, keyCols)
    val blooms = KeyBloom.loadBlooms(liveDir)
    // the assignment also hands back the STABLE changeset the kernel must
    // consume — see FileAdmission.Assignment's consistency contract
    val asg = FileAdmission.assign(spark, liveDir, files, rows, keyCols,
      changes, driverKeyThreshold, blooms)
    val (rewrite, reused) = files.partition(f => asg.touched(f.getFileName.toString))
    Files.createDirectories(stageDir)
    // base = ONLY the intersecting files' rows; stats-disjoint files cannot
    // hold a matched key, so the kernel never needs to see them
    val base =
      if (rewrite.nonEmpty) Footers.read(spark, rewrite)
      else Footers.read(spark, files.take(1)).where(lit(false))
    // layout maintenance: range-repartition the rewrite output back onto the
    // key so the clustered layout (and with it, the NEXT merge's pruning)
    // survives the merge instead of shattering into shuffle.partitions-many
    // overlapping files.
    // row-aware output sizing: known when every touched file's sidecar/footer
    // row carries a rowCount (unknown → fall back to the touched-file count)
    val touchedRows = rewrite.map(f =>
      rows((f.getFileName.toString, keyCols.head)).rowCount)
    val outParts =
      if (rewrite.isEmpty || touchedRows.exists(_ < 0L)) math.max(rewrite.size, 1)
      else {
        val target = (touchedRows.sum + MergeTargetRowsPerFile - 1) / MergeTargetRowsPerFile
        math.max(1L, math.min(rewrite.size.toLong, target)).toInt
      }
    // single-task path: a rewrite that fits one output file, assigned on the
    // driver (so the changeset is driver-sized), is written by one task
    // anyway. With both kernel inputs in one partition they report
    // SinglePartition, so the kernel's join, window or aggregate plans no
    // exchange and the merge runs as ONE job instead of a shuffle-map job
    // per exchange plus the write.
    val singleTask = outParts == 1 && asg.keys.isDefined
    val merged0 =
      if (singleTask) applyFn(base.coalesce(1), asg.stableChanges.coalesce(1))
      else applyFn(base, asg.stableChanges)
    // LINK-REUSE SCHEMA GUARD: linked files keep the table's physical types;
    // a kernel that drifts a column's type (e.g. coalescing an INT column
    // with a LONG literal) would publish a MIXED-schema version the full-
    // rewrite path could never create — discovered only at read time, as a
    // vectorized-reader conversion error. Fail here, before staging.
    if (reused.nonEmpty) {
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
      if (shape(merged0.schema) != shape(base.schema))
        throw new IllegalStateException(
          "keyed-merge kernel output schema drifts from the linked files' " +
            s"schema — cast the kernel's columns to the table's types.\n" +
            s"  table:  ${shape(base.schema).mkString(", ")}\n" +
            s"  kernel: ${shape(merged0.schema).mkString(", ")}")
    }
    val rewriteOut = stageDir.resolve("rewrite")
    // bloomed tables get parquet-NATIVE blooms in their rewrite output too
    // (row-group-level skipping inside touched files — the 10^6-file path),
    // NDV-sized from the touched files' sidecar rowCounts
    val wOpts = KeyBloom.rewriteOptions(liveDir, blooms,
      KeyBloom.ndvFor(rewrite, n => rows((n, keyCols.head)).rowCount))
    val keyExprs = keyCols.map(col)
    if (singleTask) {
      merged0.coalesce(1).sortWithinPartitions(keyExprs: _*)
        .write.options(wOpts).mode("overwrite").parquet(rewriteOut.toString)
    } else if (outParts == 1) {
      // one output file from a distributed-regime assignment (a changeset
      // too large to collect): RangePartitioner computes NO range bounds at
      // <=1 partition, so this is one kernel evaluation with the join still
      // parallel upstream of the 1-partition exchange — no sampling pass,
      // nothing to persist
      merged0.repartitionByRange(1, keyExprs: _*).sortWithinPartitions(keyExprs: _*)
        .write.options(wOpts).mode("overwrite").parquet(rewriteOut.toString)
    } else {
      // the kernel output is PERSISTED around the range exchange:
      // RangePartitioner's sampling pass would otherwise re-run the whole
      // merge join a second time for the write
      val merged = merged0.persist()
      try {
        merged.repartitionByRange(outParts, keyExprs: _*)
          .sortWithinPartitions(keyExprs: _*)
          .write.options(wOpts).mode("overwrite").parquet(rewriteOut.toString)
      } finally merged.unpersist(blocking = false)
    }
    TargetedDelete.moveStagedParts(rewriteOut, stageDir)
    reused.foreach(TargetedDelete.linkInto(stageDir, _))
    val staged = TargetedDelete.partFiles(stageDir)
    if (staged.isEmpty)
      throw new IllegalStateException(
        "keyed merge staged a fileless version — the table would be unreadable")
    // self-maintaining sidecar: linked files carry ALL their index rows,
    // rewritten files get fresh rows on EVERY column the predecessor
    // indexed — not just keyCol — in the same footer sweep (one open per
    // file serves all columns; r18 verdict item 2: a Z-ordered two-column
    // table must not lose zero-footer-read box reads after a merge on one
    // dimension). Columns a full-rewrite kernel dropped lapse gracefully.
    val reusedNames = reused.map(_.getFileName.toString).toSet
    KeyBloom.maintainStage(spark, liveDir, stageDir, reusedNames, blooms)
    val carried = sideAll.filter { case ((f, _), _) => reusedNames(f) }
    val reusedKeyRows = (for {
      n <- reusedNames.toSeq; c <- keyCols
    } yield (n, c) -> rows((n, c))).toMap
    val freshFiles = staged.filterNot(p => reusedNames(p.getFileName.toString))
    val outCols = merged0.schema.fieldNames.toSet
    val indexedCols = (sideAll.keys.map(_._2).toSet ++ keyCols)
      .filter(outCols).toSeq.sorted
    val freshRows = KeyStats.statRowsFor(spark, freshFiles, indexedCols)
    KeyStats.writeStats(stageDir, carried ++ reusedKeyRows ++ freshRows)
    MergeStats("", files.size, rewrite.size, reused.size, opened,
      asg.bloomSkipped)
  }

  /** Every merge appends its prune outcome to the table's operations log
    * — the drift signal [[Maintenance.adviseTelemetry]] reads without
    * touching a sidecar (advisory channel: best-effort, never fails the
    * merge). A composite key records under [[CompositeKey.colName]]. */
  private def logged(root: String, keyCols: Seq[String], ms: MergeStats): MergeStats = {
    Maintenance.recordMerge(root, CompositeKey.colName(keyCols), ms.totalFiles,
      ms.rewrittenFiles, ms.bloomSkipped)
    ms
  }

  /** Stats-pruned merge: apply `changes` onto the live version through
    * `applyFn`, rewriting only key-intersecting files, under `writer`'s
    * commit mode. One key column or several (conjunctive hull veto +
    * composite bloom, [[CompositeKey]]) take the same assignment — the
    * reference's (poi_id, url) mention upsert rides the pruned path instead
    * of the full rewrite. Under [[AtomicTable.Writer.Occ]] a lost race re-prunes
    * against the winner's version (its file set differs), so the changeset
    * lands exactly once alongside interleaved merges and deletes; stats
    * reflect the attempt that won. The table must have a committed base
    * ([[AtomicTable.commit]] it first — a merge needs a schema-bearing
    * version to prune against). */
  def merge(spark: SparkSession, root: String, keyCols: Seq[String],
      changes: DataFrame, applyFn: (DataFrame, DataFrame) => DataFrame,
      writer: AtomicTable.Writer = AtomicTable.Writer.Single,
      driverKeyThreshold: Int = DriverKeyThreshold): MergeStats = {
    val (v, ms) = AtomicTable.staged(root, "merge", writer) { (live, stageDir) =>
      stageMerge(spark, Paths.get(root, live), stageDir, keyCols,
        changes, applyFn, driverKeyThreshold)
    }
    logged(root, keyCols, ms.copy(version = v))
  }

  /** Idempotent streaming form — [[AtomicTable.commitBatch]]'s
    * (appId, batchId) redelivery guard over the pruned [[merge]]: a
    * redelivered micro-batch (foreachBatch is at-least-once) is SKIPPED
    * without evaluating `changes`; a new one stages the pruned merge and
    * stamps the manifest with its id in the same publish. Returns None on a
    * skip. One or several key columns, as in [[merge]] (the reference's
    * mention-upsert cadence: micro-batches keyed on (poi_id, url)).
    *
    * `maintainEvery > 0` closes the operations loop INSIDE the cadence
    * (r18 verdict item 5): after every Nth applied batch the
    * [[Maintenance.autoMaintainMulti]] ladder runs against the
    * just-published version with `keyCols.head` as the clustering owner
    * (it runs the full ladder; other components heal index/bloom only, and
    * one column is exactly [[Maintenance.autoMaintain]]) — the advisor's
    * check is metadata-only (free per batch), a heal is an interleaved
    * sequential commit whose publish carries the (appId, batchId) tag
    * forward, so the exactly-once guard survives the version flips
    * (MaintenanceSpec pins it). A redelivered batch skips maintenance too —
    * no new bytes, no new drift. */
  def commitBatchKeyed(spark: SparkSession, root: String, appId: String,
      batchId: Long, keyCols: Seq[String], changes: => DataFrame,
      applyFn: (DataFrame, DataFrame) => DataFrame,
      driverKeyThreshold: Int = DriverKeyThreshold,
      maintainEvery: Int = 0,
      maintainTargetBytes: Long = Compaction.TargetBytes): Option[MergeStats] = {
    if (AtomicTable.lastBatch(root).exists { case (app, b) =>
        app == appId && batchId <= b }) None
    else {
      val c = changes
      val (v, ms) = AtomicTable.staged(root, "merge", AtomicTable.Writer.Single,
          batch = Some((appId, batchId))) { (live, stageDir) =>
        stageMerge(spark, Paths.get(root, live), stageDir, keyCols,
          c, applyFn, driverKeyThreshold)
      }
      val out = Some(logged(root, keyCols, ms.copy(version = v)))
      if (maintainEvery > 0 && batchId % maintainEvery == 0)
        Maintenance.autoMaintainMulti(spark, root, keyCols, maintainTargetBytes)
      out
    }
  }
}
