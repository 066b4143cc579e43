package graft.sinks

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SELF-SCHEDULING MAINTENANCE — the advisor that closes the lakehouse
  * operations loop (pre-landed r19 candidate). The maintenance operators
  * exist ([[Compaction.compactVersion]], [[Compaction.reclusterVersion]],
  * [[TargetedDelete.indexKeyStats]]); what a 100 TB deployment actually
  * needs is the DECISION: "has this table drifted enough that a rewrite
  * pays?" — answered from METADATA ONLY (one directory listing + one
  * sidecar read; the advisor never opens a footer, never scans a byte),
  * so it can run after every merge batch for free. This is Delta's
  * auto-optimize / Iceberg's maintenance-policy move, driven by the same
  * hull arithmetic the prune uses:
  *
  *  - **coverage**: files without a sidecar row on the key can't be
  *    skipped — the cheapest fix ranks first (`index`, one footer sweep);
  *  - **size**: small files (< targetBytes/2) pay open/plan overhead per
  *    query — `compact` folds them (ranked before recluster because the
  *    size-compactor's hash rewrite may widen hulls; the recluster that
  *    FOLLOWS restores disjointness, never the other way around);
  *  - **drift**: the fraction of hull-bearing files sitting in ≥2-file
  *    overlap components — exactly the files every stats read/delete/
  *    merge must touch past the minimum. Above [[OverlapThreshold]],
  *    `recluster` pays for itself.
  *
  * [[autoMaintain]] executes the advice to a fixed point (each action at
  * most once — index → compact → recluster is a terminating ladder by
  * construction: indexing completes coverage, compaction ends with ≤1
  * small file, recluster leaves hulls pairwise disjoint), returning the
  * Health trail an operations log would record. */
object Maintenance {

  /** One metadata-only health reading. `overlapRatio` = overlapping
    * hulled files / hulled files; `bloomCoverage` is 1.0 when the table
    * carries no blooms at all (nothing to maintain) and the bloomed
    * fraction otherwise; `action` is what the policy would run next
    * ("index" | "bloom" | "compact" | "recluster" | "none"). */
  final case class Health(version: String, totalFiles: Int, hulledFiles: Int,
      overlappingFiles: Int, smallFiles: Int, statsCoverage: Double,
      overlapRatio: Double, action: String, bloomCoverage: Double = 1.0)

  /** Recluster pays once this fraction of hulled files overlap. */
  val OverlapThreshold = 0.3

  /** At or above this overlap fraction on a FULLY-BLOOMED key the overlap
    * is read as structural (a scattered hash key — every hull spans the
    * space from v1), not merge drift; recluster is suppressed there.
    * DISAMBIGUATED BY HISTORY (r18 advisory): structural means the overlap
    * was ALREADY there when the key was first bloomed — the recorded
    * [[bloomBaseline]] must itself sit in the band. A clustered key that
    * carried blooms and then DRIFTED past 90% (many merges before
    * maintenance first ran) has a low first baseline and still heals;
    * only a key born scattered is suppressed. Keys bloomed before the
    * telemetry existed fall back to the instantaneous ratio. */
  val StructuralOverlapRatio = 0.9

  // ------------------------------------------------- operations telemetry

  /** Table-root operations log (`_MAINT_LOG.tsv`) — the advisor's memory
    * across versions. Advisory channel by contract: appends are
    * best-effort (a merge must never fail because its telemetry line
    * could not be written), readers tolerate torn tails, and every
    * decision that CAN fall back to live metadata does. Two record kinds:
    * `baseline <keyCol> <overlapRatio>` written when a key is FIRST
    * bloomed (the structural-vs-drift witness), and
    * `merge <keyCol> <total> <rewritten> <bloomSkipped>` appended by
    * every keyed merge — the drift signal [[adviseTelemetry]] reads
    * WITHOUT touching a sidecar hull. */
  val MaintLog = "_MAINT_LOG.tsv"

  /** Drift reads from the last [[TelemetryWindow]] merges. */
  val TelemetryWindow = 5
  /** Recent mean rewritten/total at or above this says the prune decayed. */
  val DriftRewriteThreshold = 0.25
  /** ...and it must have RISEN vs the first window (a table that always
    * rewrote 30% is shaped that way, not drifting). */
  val DriftRiseFactor = 1.5

  /** The log self-bounds: past this size an append COMPACTS it — every
    * `baseline` line survives (the structural witness is permanent, one
    * line per key) and the newest [[CompactKeepTail]] other lines are
    * kept, far more than any telemetry window reads. Without the bound a
    * maintainEvery=1 stream would make every per-batch advise re-read an
    * ever-growing file — O(total merges ever) on the hot path. */
  val MaxLogBytes: Long = 256L * 1024
  val CompactKeepTail = 1024

  private def logPath(root: String) = Paths.get(root, MaintLog)

  private[graft] def record(root: String, fields: Seq[String]): Unit =
    record(root, fields, blocking = true)

  /** `blocking = false` is the READ-PATH form (probe telemetry): the
    * append runs only if the publish lock is free right now — a probe
    * must never queue behind a writer's publish (or another probe) for a
    * best-effort log line; a dropped sample just thins the advisory
    * window. Write paths keep the blocking form: their lines (merge
    * outcomes, permanent baselines) are the advisor's primary evidence. */
  private[graft] def record(root: String, fields: Seq[String],
      blocking: Boolean): Unit =
    try {
      // under the table's publish lock: the multi-writer (OCC) path can
      // append from two processes, and a size-triggered compaction's
      // read-rewrite-move would otherwise clobber a concurrent append —
      // losing a key's only baseline line silently
      def body: Unit = {
        val p = logPath(root)
        Files.write(p,
          (fields.mkString("\t") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        if (Files.size(p) > MaxLogBytes) {
          val lines = Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
          // every *base record is PERMANENT (one line per key): the bloom
          // baseline, the first-merge-window mean, the first-probe cost —
          // the witnesses history-based advice compares against must
          // survive every self-compaction (r19 advice)
          val (baselines, rest) = lines.partition(l =>
            l.startsWith("baseline\t") || l.startsWith("mergebase\t") ||
              l.startsWith("probebase\t"))
          val tmp = Paths.get(root, s".$MaintLog.tmp")
          Files.writeString(tmp,
            (baselines ++ rest.takeRight(CompactKeepTail)).mkString("\n") + "\n")
          Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
      if (blocking) AtomicTable.withPublishLock(root)(body)
      else { AtomicTable.withPublishLockTry(root)(body); () }
    } catch { case scala.util.control.NonFatal(_) => () } // advisory only

  private def logLines(root: String, kind: String, keyCol: String): Seq[Array[String]] = {
    val p = logPath(root)
    if (!Files.exists(p)) Seq.empty
    else scala.util.Try(Files.readAllLines(p).asScala.toSeq).getOrElse(Seq.empty)
      .map(_.split("\t"))
      .filter(a => a.length >= 3 && a(0) == kind && a(1) == keyCol)
  }

  /** Record the key's overlap ratio at bloom-build time — called by
    * [[KeyBloom.indexKeyBloom]] and [[BloomManifest.indexBloomManifest]];
    * first write wins (the FIRST baseline is the witness), and a key with
    * no orderable hulls records nothing (an unindexed scatter key must
    * not fake a low baseline). */
  private[graft] def recordBloomBaseline(spark: SparkSession, root: String,
      keyCol: String): Unit =
    if (logLines(root, "baseline", keyCol).isEmpty) {
      scala.util.Try {
        val h = advise(spark, root, keyCol)
        if (h.hulledFiles > 0)
          record(root, Seq("baseline", keyCol, h.overlapRatio.toString))
      }
      ()
    }

  /** First-ever recorded overlap baseline for the key, if any. */
  def bloomBaseline(root: String, keyCol: String): Option[Double] =
    logLines(root, "baseline", keyCol).headOption
      .flatMap(a => scala.util.Try(a(2).toDouble).toOption)

  /** Append one merge's prune outcome — called by [[KeyedMerge]]. */
  private[graft] def recordMerge(root: String, keyCol: String,
      total: Int, rewritten: Int, bloomSkipped: Int): Unit =
    record(root, Seq("merge", keyCol, total.toString, rewritten.toString,
      bloomSkipped.toString))

  /** Append one manifest probe's observed cost — called by
    * [[BloomManifest]] from both probe regimes. NON-BLOCKING (reads must
    * never queue on the publish lock for telemetry; a dropped sample just
    * thins the window). */
  private[graft] def recordProbe(root: String, cname: String,
      shardsScanned: Int, admitted: Int): Unit =
    record(root, Seq("probe", cname, shardsScanned.toString, admitted.toString),
      blocking = false)

  /** The key's PERSISTED first-probe-window mean shard cost, if recorded
    * — permanent like [[mergeBaseline]]. */
  def probeBaseline(root: String, cname: String): Option[Double] =
    logLines(root, "probebase", cname).headOption
      .flatMap(a => scala.util.Try(a(2).toDouble).toOption)

  /** A manifest advisory can fire only once probes scan at least this
    * many shards — below it the delta ledger is cheap by construction. */
  val ProbeShardFloor = 8
  /** ...and the recent mean must have risen this much over the persisted
    * first-window cost. */
  val ProbeCostRiseFactor = 2.0

  /** MANIFEST-COMPACTION advice from OBSERVED probe cost (r19 verdict
    * item 5): the staging passes already compact the shard ledger past
    * [[BloomManifest.CompactShardThreshold]], but a probe-heavy table that
    * rarely stages can accumulate delta shards that every probe pays for
    * long before that bound trips. Some("compact-manifest") when the last
    * [[TelemetryWindow]] probes scanned ≥ [[ProbeShardFloor]] shards on
    * average AND that mean rose ≥ [[ProbeCostRiseFactor]]× over the
    * FIRST window's (persisted as a permanent `probebase` line on first
    * computation, the [[mergeBaseline]] pattern). Metadata-free: reads
    * only the operations log. [[autoMaintain]] executes the heal via
    * [[BloomManifest.compactManifest]]. */
  def adviseManifest(root: String, cname: String,
      window: Int = TelemetryWindow): Option[String] = {
    val probes = logLines(root, "probe", cname).flatMap { a =>
      scala.util.Try((a(2).toInt, a(3).toInt)).toOption
    }
    if (probes.size < window) None
    else {
      def mean(xs: Seq[(Int, Int)]): Double =
        xs.map(_._1.toDouble).sum / xs.size
      val base = probeBaseline(root, cname).getOrElse {
        val b = mean(probes.take(window))
        record(root, Seq("probebase", cname, b.toString))
        b
      }
      val recent = mean(probes.takeRight(window))
      if (recent >= ProbeShardFloor &&
          recent >= ProbeCostRiseFactor * math.max(1.0, base))
        Some("compact-manifest")
      else None
    }
  }

  /** The key's PERSISTED first-merge-window rewrite-fraction mean, if
    * recorded. Permanent like [[bloomBaseline]] — survives log
    * self-compaction. */
  def mergeBaseline(root: String, keyCol: String): Option[Double] =
    logLines(root, "mergebase", keyCol).headOption
      .flatMap(a => scala.util.Try(a(2).toDouble).toOption)

  /** TELEMETRY-ONLY drift advice (r18 verdict item 4): does the merge
    * history alone — no directory listing, no sidecar hull — say the
    * prune has decayed? Some("recluster") when the last
    * [[TelemetryWindow]] merges rewrote ≥ [[DriftRewriteThreshold]] of
    * the table on average AND that mean rose ≥ [[DriftRiseFactor]]× over
    * the FIRST window's (needs ≥ 2·window merges to compare). The first
    * window's mean is PERSISTED as a permanent `mergebase` line on first
    * computation (r19 advice): the log self-compacts to its newest 1024
    * merge lines, so without the witness a long-horizon high-cadence
    * stream would eventually compare recent-vs-recent and slow decay
    * would stop triggering. The hull-based [[advise]] remains the precise
    * decision; this is the free pre-filter a merge cadence can evaluate
    * per batch. */
  def adviseTelemetry(root: String, keyCol: String,
      window: Int = TelemetryWindow): Option[String] = {
    val merges = logLines(root, "merge", keyCol).flatMap { a =>
      scala.util.Try((a(2).toInt, a(3).toInt)).toOption
    }.filter(_._1 > 0)
    if (merges.size < 2 * window) None
    else {
      def mean(xs: Seq[(Int, Int)]): Double =
        xs.map { case (t, r) => r.toDouble / t }.sum / xs.size
      val early = mergeBaseline(root, keyCol).getOrElse {
        val e = mean(merges.take(window))
        record(root, Seq("mergebase", keyCol, e.toString))
        e
      }
      val recent = mean(merges.takeRight(window))
      if (recent >= DriftRewriteThreshold && recent >= DriftRiseFactor * early)
        Some("recluster")
      else None
    }
  }

  /** Metadata-only health check on `keyCol`: directory listing + sidecar
    * read, nothing else — files the sidecar does not cover are NOT
    * footer-probed (that would make the advisor cost O(files) IO); they
    * lower `statsCoverage` and the advice becomes `index`. */
  def advise(spark: SparkSession, root: String, keyCol: String,
      targetBytes: Long = Compaction.TargetBytes): Health = {
    val live = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no live version at $root"))
    val liveDir = Paths.get(root, live)
    TargetedDelete.requireFlatLayout(liveDir, "maintenance advisor")
    val files = TargetedDelete.partFiles(liveDir)
    val side = KeyStats.loadStats(liveDir)
      .collect { case ((f, c), r) if c == keyCol => f -> r }
    val covered = files.filter(f => side.contains(f.getFileName.toString))
    val coverage =
      if (files.isEmpty) 1.0 else covered.size.toDouble / files.size
    val hulled = covered.filter(f =>
      Set("long", "string")(side(f.getFileName.toString).kind))
    val kinds = hulled.map(f => side(f.getFileName.toString).kind).distinct
    if (kinds.size > 1)
      throw new IllegalArgumentException(
        s"advisor found MIXED stats kinds on $keyCol (${kinds.mkString(", ")})" +
          " — the table's key column types diverge across files")
    val overlapping =
      if (hulled.isEmpty) 0
      else {
        val kind = kinds.head
        val comps =
          if (kind == "long")
            Compaction.componentsBy[Long](hulled.map { f =>
              val r = side(f.getFileName.toString); (f, r.min.toLong, r.max.toLong)
            }, Ordering.Long)
          else
            Compaction.componentsBy[String](hulled.map { f =>
              val r = side(f.getFileName.toString); (f, r.min, r.max)
            }, KeyStats.Utf8Order)
        comps.filter(_.size >= 2).map(_.size).sum
      }
    val ratio = if (hulled.isEmpty) 0.0 else overlapping.toDouble / hulled.size
    val small = files.count(f => Files.size(f) < targetBytes / 2)
    // bloom coverage: a table with ANY bloom on the key has opted into the
    // unclustered-key prune — files missing their row (a partial index, an
    // interrupted build) silently degrade every point merge/delete/read to
    // conservative touches; staging passes self-maintain, so a gap here
    // means a re-index is due. A bloom-less table scores 1.0 (no opt-in,
    // nothing to heal).
    val bloomed = KeyBloom.loadBlooms(liveDir)
      .collect { case ((f, c), _) if c == keyCol => f }.toSet ++
      BloomManifest.loadHeader(liveDir)
        .collect { case ((f, c), _) if c == keyCol => f }
    val bloomCov =
      if (bloomed.isEmpty || files.isEmpty) 1.0
      else files.count(f => bloomed(f.getFileName.toString)).toDouble / files.size
    // STRUCTURAL vs DRIFT overlap on a bloomed key: a scattered (hash) key
    // shows ~total overlap from its very first version — that is the state
    // the bloom exists FOR, and re-sorting by hash would destroy whatever
    // layout serves the table's other keys, so it is not actionable. A
    // CLUSTERED key that also carries a bloom shows partial overlap only
    // when merges have drifted it — recluster still pays there. The
    // structural band is ratio >= StructuralOverlapRatio with full bloom
    // coverage, AND the key's FIRST bloom baseline must already sit in
    // the band (r18 advisory: a clustered key that drifted past 90%
    // before maintenance first ran is drift, not structure — its low
    // recorded baseline proves it). No baseline → instantaneous fallback.
    val structural = bloomed.nonEmpty && ratio >= StructuralOverlapRatio &&
      bloomBaseline(root, keyCol).forall(_ >= StructuralOverlapRatio)
    val action =
      if (coverage < 1.0) "index"
      else if (bloomCov < 1.0) "bloom"
      else if (small > 1) "compact"
      else if (ratio > OverlapThreshold && !structural) "recluster"
      else "none"
    Health(live, files.size, hulled.size, overlapping, small, coverage,
      ratio, action, bloomCov)
  }

  /** Advise → execute → re-advise, to the ladder's fixed point (each
    * action runs at most once). Returns every Health reading taken — the
    * last one is the post-maintenance state, `action == "none"` when the
    * table is healthy. */
  def autoMaintain(spark: SparkSession, root: String, keyCol: String,
      targetBytes: Long = Compaction.TargetBytes): Seq[Health] = {
    val trail = scala.collection.mutable.ArrayBuffer.empty[Health]
    val ran = scala.collection.mutable.Set.empty[String]
    var h = advise(spark, root, keyCol, targetBytes)
    trail += h
    while (h.action != "none" && !ran(h.action)) {
      ran += h.action
      h.action match {
        case "index" => TargetedDelete.indexKeyStats(spark, root, keyCol)
        case "bloom" =>
          // carry the table's own sizing AND backend: a manifest-backed
          // key heals through the sharded manifest, a TSV key through
          // the sidecar — the widest existing bits either way
          val live = Paths.get(root, AtomicTable.currentVersion(root).get)
          val mHeader = BloomManifest.loadHeader(live)
            .collect { case ((_, c), h) if c == keyCol => h }
          if (mHeader.nonEmpty)
            BloomManifest.indexBloomManifest(spark, root, keyCol,
              mHeader.map(_.bits).max, mHeader.map(_.k).max)
          else {
            val bits = KeyBloom.loadBlooms(live)
              .collect { case ((_, c), b) if c == keyCol => b.bits }
              .foldLeft(KeyBloom.DefaultBits)(math.max)
            KeyBloom.indexKeyBloom(spark, root, keyCol, bits)
          }
        case "compact" =>
          Compaction.compactVersion(spark, root, targetBytes, Some(keyCol))
        case "recluster" =>
          Compaction.reclusterVersion(spark, root, keyCol, targetBytes)
      }
      h = advise(spark, root, keyCol, targetBytes)
      trail += h
    }
    // probe-cost bloat heals through the manifest's own compaction — a
    // metadata-only generation rewrite invisible to the hull Health,
    // advised from the probe telemetry alone ([[adviseManifest]])
    if (adviseManifest(root, keyCol).isDefined)
      BloomManifest.compactManifest(spark, root)
    trail.toSeq
  }

  // ------------------------------------------------- multi-key policy

  /** MULTI-KEY advice (r18 verdict item 4's policy question, answered):
    * `keyCols.head` is the PRIMARY — the clustering owner, declared by
    * the caller's order — and runs the full ladder. Every other key is
    * SECONDARY: its coverage gaps still heal (index/bloom are
    * layout-independent), but its overlap is NEVER actionable as a
    * recluster — re-sorting the table on a secondary would destroy the
    * primary's layout, which is exactly the wrong trade. A secondary
    * whose overlap would have called for recluster is mapped to `bloom`
    * while unbloomed (the layout-independent fix for its point lookups)
    * and to `none` once bloomed; the bloom build records the high
    * baseline, so the single-key advisor converges to the same verdict. */
  def adviseMulti(spark: SparkSession, root: String, keyCols: Seq[String],
      targetBytes: Long = Compaction.TargetBytes): Seq[(String, Health)] = {
    require(keyCols.nonEmpty, "adviseMulti needs at least one key")
    keyCols.zipWithIndex.map { case (c, i) =>
      val h = advise(spark, root, c, targetBytes)
      val action =
        if (i == 0 || h.action != "recluster") h.action
        else {
          val dir = Paths.get(root, h.version)
          val bloomedAtAll = KeyBloom.loadBlooms(dir).exists(_._1._2 == c) ||
            BloomManifest.loadHeader(dir).exists(_._1._2 == c)
          if (bloomedAtAll && h.bloomCoverage >= 1.0) "none" else "bloom"
        }
      c -> h.copy(action = action)
    }
  }

  /** Execute [[adviseMulti]] to each key's fixed point — primary first
    * (its recluster/compact moves bytes the secondaries' advice must see),
    * secondaries heal index/bloom only. */
  def autoMaintainMulti(spark: SparkSession, root: String, keyCols: Seq[String],
      targetBytes: Long = Compaction.TargetBytes): Map[String, Seq[Health]] = {
    require(keyCols.nonEmpty, "autoMaintainMulti needs at least one key")
    val primary = keyCols.head -> autoMaintain(spark, root, keyCols.head, targetBytes)
    val rest = keyCols.tail.map { c =>
      val trail = scala.collection.mutable.ArrayBuffer.empty[Health]
      val ran = scala.collection.mutable.Set.empty[String]
      var h = adviseMulti(spark, root, Seq(keyCols.head, c), targetBytes)(1)._2
      trail += h
      while (Set("index", "bloom")(h.action) && !ran(h.action)) {
        ran += h.action
        h.action match {
          case "index" => TargetedDelete.indexKeyStats(spark, root, c)
          case "bloom" =>
            val live = Paths.get(root, AtomicTable.currentVersion(root).get)
            val mHeader = BloomManifest.loadHeader(live)
              .collect { case ((_, cc), hh) if cc == c => hh }
            if (mHeader.nonEmpty)
              BloomManifest.indexBloomManifest(spark, root, c,
                mHeader.map(_.bits).max, mHeader.map(_.k).max)
            else {
              val bits = KeyBloom.loadBlooms(live)
                .collect { case ((_, cc), b) if cc == c => b.bits }
                .foldLeft(KeyBloom.DefaultBits)(math.max)
              KeyBloom.indexKeyBloom(spark, root, c, bits)
            }
        }
        h = adviseMulti(spark, root, Seq(keyCols.head, c), targetBytes)(1)._2
        trail += h
      }
      c -> trail.toSeq
    }
    // probe-cost telemetry lands under the cname that probed — secondary
    // columns AND the composite tuple name — so the manifest advisory must
    // look there too, not just at the primary (whose check ran inside
    // autoMaintain above). One heal covers every column: compaction
    // rewrites the whole shard generation.
    val otherCnames = keyCols.tail ++
      (if (keyCols.size >= 2) Seq(CompositeKey.colName(keyCols)) else Nil)
    if (otherCnames.exists(c => adviseManifest(root, c).isDefined))
      BloomManifest.compactManifest(spark, root)
    (primary +: rest).toMap
  }

  // ------------------------------------------------- driver query

  def autoRoot(dir: String): String =
    "spark-warehouse/s18_auto_" + new java.io.File(dir).getName

  val AutoInsertBase = 5000000L; val AutoInserts = 50

  /** The drift→detect→heal lifecycle, driver-gated end to end. A clustered
    * table takes a realistic merge (a low update block PLUS net-new ids
    * far above the table's max — the CDC insert pattern); the merge's
    * single rewrite output therefore spans [updateBlock, insertMax],
    * overlapping every file above the block — REAL drift produced by the
    * engine's own merge, not a synthetic layout. The query THROWS unless
    * (a) the advisor detects the drift from metadata alone (action
    * "recluster", overlapRatio > threshold), (b) [[autoMaintain]] heals
    * it to the fixed point (final action "none", hulls pairwise
    * disjoint), and (c) a block read that planned extra files before
    * plans strictly fewer after. `targetBytes` derives from the observed
    * table size so the size dimension is healthy by construction at any
    * SF and the DRIFT dimension drives the run. The oracle replays
    * base + updates + inserts in SQL — maintenance must move bytes,
    * never change them. */
  def qS18AutoMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val root = autoRoot(dir)
    AtomicTable.deleteRecursively(Paths.get(root))
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"),
        graft.ops.Relational.quantize(col("c_acctbal"), 2).cast("long").as("bal_c"))
    AtomicTable.commit(base.repartitionByRange(8, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("id"))
    val liveDir = Paths.get(root, AtomicTable.currentVersion(root).get)
    // target = 2x the SMALLEST live file: no file can read as "small"
    // (small means < target/2 = min, and nothing is < its own minimum), so
    // the size dimension is healthy by CONSTRUCTION even though
    // RangePartitioner's per-run sampling shifts the file sizes — the
    // DRIFT dimension alone drives the run
    val targetBytes = 2 * math.max(64L,
      TargetedDelete.partFiles(liveDir).map(Files.size(_)).min)
    // SF-independent geometry, derived from the data (mirrored by the
    // oracle with DuckDB's // integer division): a LOW update block (so
    // most files sit above it and the wide rewrite hull overlaps them)
    // and a MID probe block outside the updated file's own hull
    val maxId = base.agg(max(col("id"))).head.getLong(0)
    require(maxId < AutoInsertBase,
      s"customer keys reach $maxId >= $AutoInsertBase: inserts would collide")
    val updFrom = maxId / 8; val updTo = updFrom + maxId / 16
    val blockFrom = maxId / 2; val blockTo = blockFrom + maxId / 16
    val h0 = advise(spark, root, "id", targetBytes)
    if (h0.action != "none")
      throw new IllegalStateException(
        s"fixture premise broken: fresh clustered table not healthy: $h0")
    // the engine's own merge produces the drift: updates in a low block +
    // inserts far above max land in ONE rewrite file spanning both
    val changes = base.filter(col("id").between(updFrom, updTo))
      .select(col("id"), (col("id") * 100L).as("bal_c"))
      .unionAll(spark.range(AutoInserts.toLong)
        .select((lit(AutoInsertBase) + col("id")).as("id"),
          (col("id") * 7L).as("bal_c")))
    KeyedMerge.mergeChangesKeyed(spark, root, "id", changes,
      (b, c) => b.join(c.select(col("id"), col("bal_c").as("nb")), Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nb"), col("bal_c")).as("bal_c")))
    val hDrift = advise(spark, root, "id", targetBytes)
    if (hDrift.action != "recluster" || hDrift.overlapRatio <= OverlapThreshold)
      throw new IllegalStateException(
        s"merge drift not detected from metadata: $hDrift")
    val (_, rsBefore) = StatsRead.readKeyRange(spark, root, "id", blockFrom, blockTo)
    // the drifted wide file plus the block's own natural file: >= 2 planned
    if (rsBefore.footerReads != 0 || rsBefore.filesRead < 2)
      throw new IllegalStateException(
        s"drift not visible to the block read: $rsBefore")
    val trail = autoMaintain(spark, root, "id", targetBytes)
    val hEnd = trail.last
    if (hEnd.action != "none" || hEnd.overlappingFiles != 0)
      throw new IllegalStateException(
        s"auto-maintenance did not reach the healthy fixed point: $trail")
    // post-heal the block spans at most two ADJACENT disjoint files (it may
    // legitimately straddle one recluster output boundary — the gate must
    // not depend on where RangePartitioner's per-run sample lands), never
    // more, and never more than before
    val (_, rsAfter) = StatsRead.readKeyRange(spark, root, "id", blockFrom, blockTo)
    if (rsAfter.footerReads != 0 || rsAfter.filesRead > 2 ||
        rsAfter.filesRead > rsBefore.filesRead)
      throw new IllegalStateException(
        s"healing did not restore skipping: before=$rsBefore after=$rsAfter")
    AtomicTable.read(spark, root)
      .groupBy((col("id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("bal_c")).as("sum_bal_c"),
        sum(col("id")).as("sum_ids"))
  }

  def streamRoot(dir: String): String =
    "spark-warehouse/s18_stream_" + new java.io.File(dir).getName

  val StreamBatches = 3; val StreamInsertBase = 5000000L; val StreamInserts = 50

  /** AUTO-MAINTENANCE INSIDE THE STREAMING CADENCE, driver-gated (r18
    * verdict item 5): the drift-producing change feed (each micro-batch
    * updates a LOW id block and inserts far above max — every batch's
    * rewrite output spans the key space) streams AvailableNow into TWO
    * tables from the same files: the MAINTAINED table commits through
    * `commitBatchKeyed(maintainEvery = 1)` — the loop itself advises
    * (metadata-only) and heals after each batch — and a CONTROL table
    * commits the same batches with the hook off. THROWS unless the
    * control table ends DRIFTED (action "recluster" — the feed really
    * injects drift) while the maintained table ends HEALTHY (action
    * "none", hulls disjoint) with NO explicit maintenance call anywhere
    * in the query. Both tables must agree row-for-row (asserted), and the
    * oracle replays base + last-writer-wins updates + all inserts — so
    * the hash row proves the in-loop maintenance moved bytes, never
    * changed them, and never broke a batch. */
  def qS18StreamMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = streamRoot(dir)
    AtomicTable.deleteRecursively(JPaths.get(root))
    val (mRoot, cRoot, feedDir, ckpt) =
      (s"$root/maintained", s"$root/control", s"$root/feed", s"$root/ckpt")
    JFiles.createDirectories(JPaths.get(feedDir))
    // staged ×2 (r22): `base` feeds the two layout commits, the maxId agg
    // and the three feed writes (≈8 evaluations of the customer scan);
    // `layout` additionally pins the range-sample + shuffle ONCE so the
    // twin maintained/control commits write the same cached partitions
    // instead of re-running sample+shuffle each. Both size-gated.
    val base = Tables.stageLocal(Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"),
        graft.ops.Relational.quantize(col("c_acctbal"), 2).cast("long").as("bal_c")))
    val layout = Tables.stageLocal(
      base.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")))
    AtomicTable.commit(layout, mRoot, statsCols = Seq("id"))
    AtomicTable.commit(layout, cRoot, statsCols = Seq("id"))
    val maxId = base.agg(max(col("id"))).head.getLong(0)
    require(maxId < StreamInsertBase, s"keys reach $maxId: inserts would collide")
    val updFrom = maxId / 8; val updTo = updFrom + maxId / 16
    val targetBytes = 2 * math.max(64L,
      TargetedDelete.partFiles(JPaths.get(mRoot,
        AtomicTable.currentVersion(mRoot).get)).map(JFiles.size(_)).min)
    // all three drift-injecting slices in ONE partitioned write job (r22):
    // the per-slice content still differs by i (bal_c multiplier, insert
    // block offset) — the slice tag rides as the partition column and never
    // reaches the data files
    FeedSlices.writeSlices((0 until StreamBatches).map { i =>
      base.filter(col("id").between(updFrom, updTo))
        .select(col("id"), (col("id") * (10L + i)).as("bal_c"))
        .unionAll(spark.range(StreamInserts.toLong)
          .select((lit(StreamInsertBase) + i * 1000L + col("id")).as("id"),
            (col("id") * 7L + i).as("bal_c")))
        .withColumn(FeedSlices.SliceCol, lit(i))
    }.reduce(_ unionAll _), feedDir, StreamBatches)
    val schema = Footers.readDir(spark, Paths.get(feedDir, "b0")).schema
    def upsert(b: DataFrame, c: DataFrame): DataFrame =
      b.join(c.select(col("id"), col("bal_c").as("nb")), Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nb"), col("bal_c")).as("bal_c"))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$feedDir/b*")
      .writeStream
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val stable = b.localCheckpoint(true) // one eval, two tables
        KeyedMerge.commitBatchKeyed(spark, mRoot, "s18-stream-m", bid, "id",
          stable, upsert, maintainEvery = 1, maintainTargetBytes = targetBytes)
        KeyedMerge.commitBatchKeyed(spark, cRoot, "s18-stream-c", bid, "id",
          stable, upsert)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    if (!q.awaitTermination(180000)) {
      q.stop()
      throw new IllegalStateException("s18 maintenance stream timed out")
    }
    // premise on the drift MEASUREMENT, not the action string: the wide
    // merge outputs sit near the small-file boundary, and RangePartitioner's
    // per-run sampling can rank `compact` ahead of `recluster` on the
    // control — the drift is present either way, and that is what the
    // maintained table must have healed (the r18 s18_auto flake class)
    val hControl = advise(spark, cRoot, "id", targetBytes)
    if (hControl.overlapRatio <= OverlapThreshold || hControl.overlappingFiles < 2 ||
        hControl.action == "none")
      throw new IllegalStateException(
        s"fixture premise broken: the feed did not inject drift ($hControl)")
    val hMaint = advise(spark, mRoot, "id", targetBytes)
    if (hMaint.action != "none" || hMaint.overlappingFiles != 0)
      throw new IllegalStateException(
        s"the streaming loop did not heal its own drift: $hMaint")
    val (m, c) = (AtomicTable.read(spark, mRoot), AtomicTable.read(spark, cRoot))
    // both set-difference probes in ONE job (r22): union of the two
    // limit(1) branches — same divergence test, one fewer job submission
    if (m.exceptAll(c).select(lit(1).as("one")).limit(1)
        .unionAll(c.exceptAll(m).select(lit(1).as("one")).limit(1))
        .count() != 0)
      throw new IllegalStateException(
        "maintained and control tables diverged — maintenance changed bytes")
    m.groupBy((col("id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("bal_c")).as("sum_bal_c"),
        sum(col("id")).as("sum_ids"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s18_auto_maintenance" -> (qS18AutoMaintenance _),
    "s18_stream_maintenance" -> (qS18StreamMaintenance _))

  val oracles: Map[String, String] = Map(
    // last-writer-wins updates (batch 2 → id*12) + every batch's inserts
    "s18_stream_maintenance" ->
      s"""WITH base AS (
         |  SELECT c_custkey AS id,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
         |  FROM customer),
         |m AS (SELECT max(c_custkey) AS mx FROM customer),
         |merged AS (
         |  SELECT id,
         |    CASE WHEN id BETWEEN (SELECT mx // 8 FROM m)
         |              AND (SELECT mx // 8 + mx // 16 FROM m)
         |         THEN id * ${10 + StreamBatches - 1} ELSE bal_c END AS bal_c
         |  FROM base
         |  UNION ALL
         |  SELECT $StreamInsertBase + i.range * 1000 + j.range,
         |    j.range * 7 + i.range
         |  FROM range($StreamBatches) i, range($StreamInserts) j)
         |SELECT id % 10 AS bucket, count(*) AS n_rows,
         |  CAST(sum(bal_c) AS BIGINT) AS sum_bal_c,
         |  CAST(sum(id) AS BIGINT) AS sum_ids
         |FROM merged GROUP BY 1""".stripMargin,
    // maintenance moves bytes, never changes them: the oracle replays
    // base + update block + inserts
    "s18_auto_maintenance" ->
      s"""WITH base AS (
         |  SELECT c_custkey AS id,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
         |  FROM customer),
         |m AS (SELECT max(c_custkey) AS mx FROM customer),
         |merged AS (
         |  SELECT id,
         |    CASE WHEN id BETWEEN (SELECT mx // 8 FROM m)
         |              AND (SELECT mx // 8 + mx // 16 FROM m)
         |         THEN id * 100 ELSE bal_c END AS bal_c
         |  FROM base
         |  UNION ALL
         |  SELECT $AutoInsertBase + i.range, i.range * 7
         |  FROM range($AutoInserts) i)
         |SELECT id % 10 AS bucket, count(*) AS n_rows,
         |  CAST(sum(bal_c) AS BIGINT) AS sum_bal_c,
         |  CAST(sum(id) AS BIGINT) AS sum_ids
         |FROM merged GROUP BY 1""".stripMargin)
}
