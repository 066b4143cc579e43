package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** S18 — size-aware SMALL-FILE COMPACTION, the table-maintenance half of the
  * sink story (S9/S10 mutate state, S16/S17 lay data out; this repairs the
  * layout drift that incremental writers leave behind). Every micro-batch
  * appender and every over-parallel writer fragments partition directories
  * into kilobyte files; at 100 TB the scan-planning and open() overhead of
  * millions of small files dominates query time, so compactors run as
  * routine maintenance (Delta OPTIMIZE, Iceberg rewrite_data_files — this
  * is that operator on plain parquet).
  *
  * Shape, deliberately scale-honest:
  *  - the DECISION is metadata-only: directory listing → per-partition
  *    (file count, bytes) → target file count `max(1, ceil(bytes/target))`;
  *    only partitions holding MORE files than their target are touched;
  *  - the REWRITE is one job, not a per-partition loop: affected partitions
  *    are read back with a partition-pruned filter, hash-repartitioned on
  *    (partition, salt) where salt < the partition's target count — each
  *    (partition, salt) combo lands in exactly one task, so a directory
  *    receives at most its target number of files;
  *  - the COMMIT uses dynamic partition overwrite (a write-local option, no
  *    session conf leak): only rewritten directories are replaced —
  *    CompactionSpec pins byte-identical survival of untouched partitions.
  */
object Compaction {

  def tableDir(dir: String): String =
    "spark-warehouse/s18_events_frag_" + new java.io.File(dir).getName

  val FragmentFiles = 8      // deliberate writer over-parallelism
  val TargetBytes = 4L << 20 // 4 MiB target → one file per directory here

  /** The fragmented starting state: an over-parallel partitioned write
    * ([[FragmentFiles]] files in every event_type directory). */
  def fragmentWrite(spark: SparkSession, dir: String): String = {
    val out = tableDir(dir)
    Tables.events(spark, dir)
      .repartition(FragmentFiles)
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    out
  }

  /** Metadata-only partition census: partition value → (files, bytes). */
  def partitionStats(spark: SparkSession, path: String): Map[String, (Int, Long)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path))
      .filter(d => d.isDirectory && d.getPath.getName.contains("=")).map { d =>
      val parts = fs.listStatus(d.getPath).filter(_.getPath.getName.startsWith("part-"))
      d.getPath.getName.split("=", 2)(1) -> ((parts.length, parts.map(_.getLen).sum))
    }.toMap
  }

  /** Compact every partition holding more files than its size target; leave
    * the rest untouched on disk. Returns the affected partition values. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = TargetBytes): Seq[String] = {
    val stats = partitionStats(spark, path)
    val goal = stats.map { case (p, (_, bytes)) =>
      p -> math.max(1L, (bytes + targetBytes - 1) / targetBytes) }
    val affected = stats.collect { case (p, (files, _)) if files > goal(p) => p }.toSeq
    if (affected.nonEmpty) {
      val saltFor = affected.foldLeft(lit(1L)) { (acc, p) =>
        when(col("event_type") === p, lit(goal(p))).otherwise(acc) }
      val totalFiles = affected.map(goal(_).toInt).sum
      // materialize the affected slice BEFORE overwriting: Spark (rightly)
      // refuses to overwrite a path its plan still reads. The production
      // form stages to a new version directory and swaps a manifest
      // (AtomicTable's protocol) — here the affected slice is the small
      // fraction being compacted, so an eager local materialization is the
      // same read-before-delete discipline without the extra table layer.
      // inferred, not footer-read: the table is hive-partitioned, and only
      // Spark's partition discovery reads the partition column from the
      // directory names
      val staged = spark.read.parquet(path)
        .filter(col("event_type").isin(affected: _*)) // partition-pruned read
        .withColumn("salt", pmod(col("event_id"), saltFor))
        .repartition(totalFiles, col("event_type"), col("salt"))
        .drop("salt")
        .localCheckpoint(true)
      staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic") // replace ONLY written dirs
        .partitionBy("event_type").parquet(path)
    }
    affected
  }

  /** The driver-gated round trip: fragment → compact → aggregate read-back;
    * the oracle replays the aggregate over the parquet SOURCE, so the hash
    * row proves the rewrite lost and duplicated nothing. */
  def qS18Compaction(spark: SparkSession, dir: String): DataFrame = {
    val path = fragmentWrite(spark, dir)
    compact(spark, path)
    spark.read.parquet(path) // partitioned: inferred, see compact
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        countDistinct(col("event_id")).as("n_distinct_ids"))
  }

  // ------------------------------------------------- versioned OPTIMIZE

  /** What a versioned compaction did. `linkedFiles` carried by inode;
    * `coalescedInputs` small files were folded into `outputFiles` new ones.
    * On a NO-OP pass (already-optimal layout) `noOp` is true, `version` is
    * the pre-existing live version, and every count except `totalFiles` is 0
    * — an audit consumer must be able to tell "nothing happened" from a real
    * all-link compaction (r16 advice). */
  final case class CompactStats(version: String, totalFiles: Int,
      coalescedInputs: Int, outputFiles: Int, linkedFiles: Int,
      noOp: Boolean = false)

  /** VERSIONED OPTIMIZE on the AtomicTable protocol — Delta's `OPTIMIZE` /
    * Iceberg's `rewrite_data_files` inside the commit log rather than in
    * place: coalesce the live version's small files (< targetBytes/2) into
    * ~targetBytes outputs, HARD-LINK every already-big-enough file into the
    * next version (O(1), no data movement — same reuse as the targeted
    * delete), carry the `_KEYSTATS` sidecar rows of linked files forward and
    * index the fresh outputs on `statsCol` so a maintenance pass never
    * degrades the delete path's zero-footer-read index, and commit through
    * [[AtomicTable.occCommit]]'s claim/rebase CAS so it races safely with
    * concurrent writers. A version with ≤1 small file is already optimal:
    * no new version is committed (maintenance must be idempotent-cheap, not
    * version-churning).
    *
    * 100 TB: the DECISION is one directory listing + (optionally) one
    * sidecar read; the REWRITE touches only the small-file fraction; links
    * do the rest. */
  def compactVersion(spark: SparkSession, root: String,
      targetBytes: Long = TargetBytes,
      statsCol: Option[String] = None): CompactStats = {
    import java.nio.file.{Files => JFiles, Paths}
    val live0 = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no live version at $root"))
    // cheap pre-check outside the commit: nothing to do → no version churn
    TargetedDelete.requireFlatLayout(Paths.get(root, live0), "versioned compaction")
    val files0 = TargetedDelete.partFiles(Paths.get(root, live0))
    val small0 = files0.filter(f => JFiles.size(f) < targetBytes / 2)
    if (small0.size <= 1)
      return CompactStats(live0, files0.size, 0, 0, 0, noOp = true)
    var out: (Int, Int, Int, Int) = (0, 0, 0, 0)
    // the already-optimal check must ALSO hold inside the commit: after an
    // OCC rebase onto a concurrent writer's version the base may have become
    // optimal, and committing a pure-link copy of it would churn a no-op
    // version past retention (and misreport its one small file as coalesced)
    final case class AlreadyOptimal(live: String, nFiles: Int) extends Exception
    val v = try AtomicTable.occCommit(root) { (base, stageDir) =>
      val liveV = base.getOrElse(
        throw new IllegalStateException(s"no live version at $root"))
      val liveDir = Paths.get(root, liveV)
      TargetedDelete.requireFlatLayout(liveDir, "versioned compaction")
      val files = TargetedDelete.partFiles(liveDir)
      val (small, big) = files.partition(f => JFiles.size(f) < targetBytes / 2)
      if (small.size <= 1) throw AlreadyOptimal(liveV, files.size)
      JFiles.createDirectories(stageDir)
      var nOut = 0
      val bytes = small.map(JFiles.size(_)).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val rewriteOut = stageDir.resolve("rewrite")
      // bloomed tables keep parquet-native blooms in the coalesced output
      // (NDV from the inputs' sidecar rowCounts, bytes fallback)
      val blooms = KeyBloom.loadBlooms(liveDir)
      val sideRows = KeyStats.loadStats(liveDir)
      def rcOf(name: String): Long = sideRows.collectFirst {
        case ((f, _), r) if f == name => r.rowCount }.getOrElse(-1L)
      Footers.read(spark, small)
        .repartition(n)
        .write.options(KeyBloom.nativeWriteOptionsCols(
          blooms.keys.map(_._2).toSet ++ BloomManifest.coveredColumns(liveDir),
          KeyBloom.ndvFor(small, rcOf)))
        .mode("overwrite").parquet(rewriteOut.toString)
      nOut = TargetedDelete.moveStagedParts(rewriteOut, stageDir)
      big.foreach(TargetedDelete.linkInto(stageDir, _))
      // stats lifecycle: linked files keep ALL their indexed rows; fresh
      // outputs get statsCol rows from their just-written local footers;
      // linked files also carry their BLOOM rows (same bytes, same bloom —
      // the maintenance pass must not degrade the bloom path)
      val linkedNames = big.map(_.getFileName.toString).toSet
      KeyBloom.maintainStage(spark, liveDir, stageDir, linkedNames, blooms)
      val carried = sideRows
        .filter { case ((f, _), _) => linkedNames(f) }
      // fresh outputs index statsCol PLUS every column the predecessor
      // already indexed — one footer open per file serves them all (r18
      // verdict item 2: compaction must not degrade the other columns)
      val indexedCols =
        (sideRows.keys.map(_._2).toSet ++ statsCol).toSeq.sorted
      val fresh =
        if (indexedCols.isEmpty) Map.empty[(String, String), TargetedDelete.StatRow]
        else {
          val newFiles = TargetedDelete.partFiles(stageDir)
            .filterNot(p => linkedNames(p.getFileName.toString))
          KeyStats.statRowsFor(spark, newFiles, indexedCols)
        }
      if (carried.nonEmpty || fresh.nonEmpty)
        KeyStats.writeStats(stageDir, carried ++ fresh)
      out = (files.size, small.size, nOut, big.size)
    } catch {
      case AlreadyOptimal(live, n) => return CompactStats(live, n, 0, 0, 0, noOp = true)
    }
    CompactStats(v, out._1, out._2, out._3, out._4)
  }

  // ------------------------------------------------- overlap-aware RECLUSTER

  /** What a recluster did. `overlapGroups` counts connected components of
    * ≥2 files whose key hulls overlap (the rewrite set); singleton
    * components are hard-LINKED untouched. On a no-op pass (already
    * pairwise-disjoint) `noOp` is true and no version is committed. */
  final case class ReclusterStats(version: String, totalFiles: Int,
      overlapGroups: Int, rewrittenFiles: Int, outputFiles: Int,
      linkedFiles: Int, footerReads: Int, noOp: Boolean = false)

  /** Connected components of interval overlap: sort hulls by min, extend a
    * running max — a file whose min is ≤ the running max chains into the
    * open component. O(F log F), metadata only. */
  private[sinks] def componentsBy[K](named: Seq[(java.nio.file.Path, K, K)],
      ord: Ordering[K]): Seq[Seq[java.nio.file.Path]] = {
    val sorted = named.sortBy(_._2)(ord)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[java.nio.file.Path]]
    var runningMax: Option[K] = None
    sorted.foreach { case (p, mn, mx) =>
      if (runningMax.exists(rm => ord.lteq(mn, rm))) {
        out.last += p
        runningMax = Some(ord.max(runningMax.get, mx))
      } else {
        out += scala.collection.mutable.ArrayBuffer(p)
        runningMax = Some(mx)
      }
    }
    out.map(_.toSeq).toSeq
  }

  /** Per-file hulls on `keyCol` → overlap components, from the sidecar
    * (footer fallback counted). Files whose stats carry no orderable hull
    * (kind "none": a 0-row schema-bearing rewrite the delete/merge paths
    * legitimately produce, or an all-NULL-key file) cannot overlap any
    * hull on the key — they come back separately: provably-empty files
    * (rowCount==0) for the caller to DROP, the rest to link as singletons.
    * Throws only on genuinely mixed orderable kinds (a broken table). */
  private def overlapComponents(spark: SparkSession, liveDir: java.nio.file.Path,
      keyCol: String): (Seq[Seq[java.nio.file.Path]], Int, Int,
      Seq[java.nio.file.Path], Seq[java.nio.file.Path]) = {
    val files = TargetedDelete.partFiles(liveDir)
    val side = KeyStats.loadStats(liveDir)
      .collect { case ((f, c), r) if c == keyCol => f -> r }
    val unknown = files.filterNot(f => side.contains(f.getFileName.toString))
    val rows = side ++ KeyStats.statRowsFor(spark, unknown, keyCol)
    val (hulled, hullless) =
      files.partition(f => Set("long", "string")(rows(f.getFileName.toString).kind))
    val (emptyFiles, nullKeyed) =
      hullless.partition(f => rows(f.getFileName.toString).rowCount == 0L)
    val kinds = hulled.map(f => rows(f.getFileName.toString).kind).distinct
    if (kinds.size > 1)
      throw new IllegalArgumentException(
        s"recluster found MIXED stats kinds on $keyCol (${kinds.mkString(", ")}) " +
          "— the table's key column types diverge across files")
    val comps =
      if (hulled.isEmpty) Seq.empty
      else if (kinds.head == "long")
        componentsBy[Long](hulled.map { f =>
          val r = rows(f.getFileName.toString); (f, r.min.toLong, r.max.toLong)
        }, Ordering.Long)
      else
        componentsBy[String](hulled.map { f =>
          val r = rows(f.getFileName.toString); (f, r.min, r.max)
        }, KeyStats.Utf8Order)
    (comps, files.size, unknown.size, emptyFiles, nullKeyed)
  }

  /** OVERLAP-AWARE RECLUSTER — the maintenance pass that closes the
    * merge-lifecycle loop. File-granular merges keep a clustered layout
    * roughly clustered (the rewrite output is range-repartitioned), but
    * repeated merges and wide insert blocks drift hulls into overlap, and
    * every overlapping file is one more file a stats read/delete/merge must
    * touch — skipping decays write by write. This pass restores it:
    *
    *  - the DECISION is metadata-only: per-file [min,max] on `keyCol` from
    *    the `_KEYSTATS` sidecar (footer fallback counted in the stats),
    *    connected components of interval overlap;
    *  - singleton components are already disjoint from everything — LINKED
    *    (O(1) per file, no data movement);
    *  - each ≥2-file component is rewritten range-partitioned + sorted ON
    *    ITS OWN hull (per-component output counts sized by bytes), all
    *    components in ONE write action (a union of range-partitioned
    *    children keeps their partitions — no cross-component shuffle). The
    *    per-component form is what makes the result PROVABLY pairwise
    *    disjoint: a global range-repartition could emit a file spanning the
    *    gap between two components and re-overlap a linked singleton.
    *
    * Sidecar + bloom lifecycle matches delete/merge/compaction: linked
    * files carry all index and bloom rows, fresh files get keyCol stats
    * from their just-written footers. Commits through
    * [[AtomicTable.occCommit]]; an already-disjoint layout commits NOTHING
    * (maintenance is idempotent-cheap). This is Iceberg's sort-order
    * rewrite / Delta OPTIMIZE ZORDER restricted to the files that actually
    * drifted. */
  def reclusterVersion(spark: SparkSession, root: String, keyCol: String,
      targetBytes: Long = TargetBytes): ReclusterStats = {
    import java.nio.file.{Files => JFiles, Paths}
    val live0 = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no live version at $root"))
    TargetedDelete.requireFlatLayout(Paths.get(root, live0), "recluster")
    // cheap pre-check outside the commit: already disjoint → no version churn
    val (comps0, total0, _, _, _) =
      overlapComponents(spark, Paths.get(root, live0), keyCol)
    if (!comps0.exists(_.size >= 2))
      return ReclusterStats(live0, total0, 0, 0, 0, 0, 0, noOp = true)
    final case class AlreadyClustered(live: String, nFiles: Int) extends Exception
    var out: (Int, Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0, 0)
    val v = try AtomicTable.occCommit(root) { (base, stageDir) =>
      val liveV = base.getOrElse(
        throw new IllegalStateException(s"no live version at $root"))
      val liveDir = Paths.get(root, liveV)
      TargetedDelete.requireFlatLayout(liveDir, "recluster")
      val (comps, total, footer, emptyFiles, nullKeyed) =
        overlapComponents(spark, liveDir, keyCol)
      val (multi, single) = comps.partition(_.size >= 2)
      if (multi.isEmpty) throw AlreadyClustered(liveV, total)
      JFiles.createDirectories(stageDir)
      val parts = multi.map { comp =>
        val bytes = comp.map(JFiles.size(_)).sum
        val n = math.max(1L, math.min(comp.size.toLong,
          (bytes + targetBytes - 1) / targetBytes)).toInt
        Footers.read(spark, comp)
          .repartitionByRange(n, col(keyCol))
          .sortWithinPartitions(col(keyCol))
      }
      val rewriteOut = stageDir.resolve("rewrite")
      // bloomed tables keep parquet-native blooms in the reclustered output
      val blooms = KeyBloom.loadBlooms(liveDir)
      val sideRows = KeyStats.loadStats(liveDir)
      def rcOf(name: String): Long = sideRows.collectFirst {
        case ((f, _), r) if f == name => r.rowCount }.getOrElse(-1L)
      parts.reduce(_.unionAll(_))
        .write.options(KeyBloom.nativeWriteOptionsCols(
          blooms.keys.map(_._2).toSet ++ BloomManifest.coveredColumns(liveDir),
          KeyBloom.ndvFor(multi.flatten, rcOf)))
        .mode("overwrite").parquet(rewriteOut.toString)
      val nOut = TargetedDelete.moveStagedParts(rewriteOut, stageDir)
      // hull-less files: provably-empty (rowCount==0) rewrites are DROPPED
      // (a rewrite is staging its replacement bytes, so the version stays
      // readable); all-NULL-key files cannot overlap any hull — linked
      val linked = single.flatten ++ nullKeyed
      linked.foreach(TargetedDelete.linkInto(stageDir, _))
      val linkedNames = linked.map(_.getFileName.toString).toSet
      KeyBloom.maintainStage(spark, liveDir, stageDir, linkedNames, blooms)
      val carried = sideRows
        .filter { case ((f, _), _) => linkedNames(f) }
      val freshFiles = TargetedDelete.partFiles(stageDir)
        .filterNot(p => linkedNames(p.getFileName.toString))
      // every predecessor-indexed column rebuilds in the one footer sweep
      // (r18 verdict item 2 — recluster on one dim must not degrade the
      // other dims' zero-footer-read reads)
      val indexedCols = (sideRows.keys.map(_._2).toSet + keyCol).toSeq.sorted
      val fresh = KeyStats.statRowsFor(spark, freshFiles, indexedCols)
      KeyStats.writeStats(stageDir, carried ++ fresh)
      out = (total, multi.size, multi.map(_.size).sum, nOut, linked.size, footer)
    } catch {
      case AlreadyClustered(live, n) =>
        return ReclusterStats(live, n, 0, 0, 0, 0, 0, noOp = true)
    }
    ReclusterStats(v, out._1, out._2, out._3, out._4, out._5, out._6)
  }

  def versionedRoot(dir: String): String =
    "spark-warehouse/s18_events_vers_" + new java.io.File(dir).getName

  /** Driver-gated versioned-OPTIMIZE round trip: commit a deliberately
    * fragmented events table (32 writer-parallel small files), compact it
    * through the OCC protocol, and aggregate the post-compaction live
    * version — the oracle replays the aggregate over the source, so the
    * hash row proves the coalesce+link+commit lost and duplicated nothing.
    * The query also asserts the layout actually improved (fewer live files,
    * some links) so the row cannot go green on a no-op. */
  def qS18CompactionVersioned(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    val root = versionedRoot(dir)
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.events(spark, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .drop("ts") // render once; raw nanos ts must not reach the output
        .repartition(32), root)
    val stats = compactVersion(spark, root, statsCol = Some("event_id"))
    if (stats.version == "v1" || stats.outputFiles >= stats.coalescedInputs)
      throw new IllegalStateException(s"compaction was a no-op: $stats")
    AtomicTable.read(spark, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        countDistinct(col("event_id")).as("n_distinct_ids"),
        max(col("day")).as("max_day"))
  }

  def reclusterRoot(dir: String): String =
    "spark-warehouse/s18_recluster_" + new java.io.File(dir).getName

  /** RECLUSTER round trip — the drift→heal lifecycle, driver-gated. The
    * fixture is the exact state interleaved writers leave behind: a low id
    * block committed properly clustered (4 disjoint files) plus a high
    * block written as two PARITY-interleaved range layouts (every even file
    * overlaps its odd twin — min/max skipping over the high block decays to
    * ~2× the files a clustered layout would plan; asserted as the premise).
    * The query THROWS unless the recluster decision was metadata-only
    * (footerReads==0), it linked the already-disjoint low files, rewrote
    * only the overlapping high files, left the live version's hulls
    * PAIRWISE DISJOINT (checked from the sidecar), and the same block read
    * now plans strictly fewer files. The oracle replays the aggregate over
    * the source — recluster must move bytes, never change them. */
  def qS18ReclusterOverlap(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    val root = reclusterRoot(dir)
    AtomicTable.deleteRecursively(Paths.get(root))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"),
        graft.ops.Relational.quantize(col("c_acctbal"), 2).cast("long").as("bal_c"))
    val maxId = cust.agg(max(col("id"))).head.getLong(0)
    val lowCut = maxId / 4
    val low = cust.filter(col("id") <= lowCut)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    val hi = cust.filter(col("id") > lowCut)
    val hiEven = hi.filter(col("id") % 2 === 0)
      .repartitionByRange(6, col("id")).sortWithinPartitions(col("id"))
    val hiOdd = hi.filter(col("id") % 2 === 1)
      .repartitionByRange(6, col("id")).sortWithinPartitions(col("id"))
    // union of range-partitioned children keeps their partitions: 16 files,
    // the 12 high ones pairwise interleaved across parities
    AtomicTable.commit(low.unionAll(hiEven).unionAll(hiOdd), root,
      statsCols = Seq("id"))
    // premise: a high block read plans the interleaved (≥2-file) layout
    val blockFrom = lowCut * 2
    val blockTo = blockFrom + math.max(2L, maxId / 10)
    val (_, rsBefore) = StatsRead.read(spark, root,
      Seq("id" -> TargetedDelete.LongRange(blockFrom, blockTo)))
    if (rsBefore.footerReads != 0 || rsBefore.filesRead < 2)
      throw new IllegalStateException(
        s"fixture premise broken: interleaved layout not visible ($rsBefore)")
    val st = reclusterVersion(spark, root, "id")
    if (st.noOp || st.footerReads != 0 || st.overlapGroups < 1 ||
        st.linkedFiles < 1 || st.rewrittenFiles < 2)
      throw new IllegalStateException(
        s"recluster did not engage: $st (want footerReads=0, groups>=1, " +
          "linked>=1, rewritten>=2)")
    // payoff 1: live hulls pairwise disjoint, straight from the sidecar
    val liveDir = Paths.get(root, st.version)
    val hulls = KeyStats.loadStats(liveDir)
      .collect { case ((f, c), r) if c == "id" => (f, r.min.toLong, r.max.toLong) }
      .toSeq.sortBy(_._2)
    hulls.sliding(2).foreach {
      case Seq((fa, _, maxA), (fb, minB, _)) =>
        if (minB <= maxA) throw new IllegalStateException(
          s"recluster left overlapping hulls: $fa max=$maxA vs $fb min=$minB")
      case _ => ()
    }
    // payoff 2: the same block read plans strictly fewer files
    val (_, rsAfter) = StatsRead.read(spark, root,
      Seq("id" -> TargetedDelete.LongRange(blockFrom, blockTo)))
    if (rsAfter.footerReads != 0 || rsAfter.filesRead >= rsBefore.filesRead)
      throw new IllegalStateException(
        s"skipping not restored: before=$rsBefore after=$rsAfter")
    AtomicTable.read(spark, root)
      .groupBy((col("id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("bal_c")).as("sum_bal_c"),
        sum(col("id")).as("sum_ids"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s18_compaction" -> (qS18Compaction _),
    "s18_compaction_versioned" -> (qS18CompactionVersioned _),
    "s18_recluster_overlap" -> (qS18ReclusterOverlap _))

  val oracles: Map[String, String] = Map(
    "s18_compaction" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(round(sum(value), 4) AS DOUBLE) AS sum_value,
        |  count(DISTINCT event_id) AS n_distinct_ids
        |FROM events GROUP BY event_type""".stripMargin,
    "s18_compaction_versioned" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(round(sum(value), 4) AS DOUBLE) AS sum_value,
        |  count(DISTINCT event_id) AS n_distinct_ids,
        |  max(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS max_day
        |FROM events GROUP BY event_type""".stripMargin,
    // recluster moves bytes, never changes them: the oracle is the plain
    // source aggregate (exact integer cents)
    "s18_recluster_overlap" ->
      """SELECT c_custkey % 10 AS bucket, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_bal_c,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_ids
        |FROM customer GROUP BY 1""".stripMargin)
}
