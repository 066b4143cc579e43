package graft.sinks

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sinks.TargetedDelete.{KeySet, LongRange, StringRange}

/** S16b — STATS-PRUNED READS on the atomic table: the read-path half of the
  * Delta/Iceberg data-skipping move (r16 verdict item 1, its top-next). The
  * `_KEYSTATS` sidecar ([[KeyStats]]) and the footer fallback already let
  * DELETES skip non-intersecting files; until now [[AtomicTable.read]]
  * handed the whole version directory to `spark.read.parquet`, so a
  * point/range query on an id-clustered corpus scanned every file. This
  * object prunes the FILE LIST against the per-file min/max BEFORE the scan
  * is constructed — at 100 TB the difference between "open 10⁶ files, let
  * row-group stats discard most rows" and "open the 1–2 files that can
  * contain the key at all": Spark's own parquet filter pushdown only prunes
  * row groups INSIDE files it has already planned, listed, and opened.
  *
  * Decision cost mirrors the delete path exactly (shared [[TargetedDelete
  * .pruneFiles]]): one small sequential sidecar read when the column is
  * indexed (zero footer reads at any file count), per-file footer metadata
  * reads as the hybrid fallback, executor-parallel past
  * [[KeyStats.ParallelFooterThreshold]]. The row-level tail re-applies the
  * predicate INSIDE the surviving files — stats are file-granular, so the
  * scan still needs the filter (which Spark pushes into the parquet reader's
  * row-group stats; the two prunings compose). NULL keys never match,
  * mirroring the delete path's three-valued-logic contract.
  *
  * Reads are PURE: a footer-fallback read never writes the rows it derived
  * back into the live version's sidecar (a read that mutates table metadata
  * would surprise concurrent writers and audits) — run
  * [[TargetedDelete.indexKeyStats]] once for a durable index; deletes and
  * compactions self-maintain it from there.
  *
  * Reference anchor: the reference pipeline's point lookups are Postgres
  * index scans (utils/database.py); on a parquet lakehouse the manifest
  * min/max IS the coarse index.
  */
object StatsRead {

  /** The read's audit row: how many live files the scan actually planned
    * (`filesRead`) out of `totalFiles`, and how many pruning decisions
    * needed a real parquet footer read (`footerReads` — 0 when the sidecar
    * covers the column). `manifestFiles` counts files whose bloom decision
    * came from the DISTRIBUTED `_KEYBLOOM_PQ` probe ([[BloomManifest]]) —
    * the no-driver-materialization path. */
  final case class ReadStats(version: String, totalFiles: Int,
      filesRead: Int, footerReads: Int = 0, manifestFiles: Int = 0)

  /** The shared resolve every stats-served read, join, count and aggregate
    * starts from: the version (live, or a retained one for time travel),
    * its flat-layout guard, its part files, and its `_KEYSTATS` sidecar. */
  private final case class Resolved(version: String, dir: Path, files: Seq[Path],
      side: Map[(String, String), KeyStats.StatRow]) {
    /** Per-(file, column) stat rows for `cols`: the sidecar first, ONE
      * footer open per file missing any requested column (all columns
      * extracted together — [[KeyStats.footerStatRows]]); with the number
      * of files that took a footer open. */
    def rowsFor(spark: SparkSession, cols: Seq[String])
        : (Map[(String, String), KeyStats.StatRow], Int) = {
      val unknown = files.filter(f =>
        cols.exists(c => !side.contains((f.getFileName.toString, c))))
      (side.filter { case ((_, c), _) => cols.contains(c) } ++
        KeyStats.statRowsFor(spark, unknown, cols), unknown.size)
    }
  }

  private def resolveStats(root: String, op: String,
      version: Option[String] = None): Resolved = {
    val v = version match {
      case Some(w) => // time travel: same retained-AND-published contract as
        // readVersion — an unpublished claim directory is rejected
        AtomicTable.requireRetained(root, w)
        w
      case None => AtomicTable.currentVersion(root).getOrElse(
        throw new IllegalStateException(s"no committed version at $root"))
    }
    val dir = Paths.get(root, v)
    TargetedDelete.requireFlatLayout(dir, op)
    Resolved(v, dir, TargetedDelete.partFiles(dir), KeyStats.loadStats(dir))
  }

  private def rowOf(rows: Map[(String, String), KeyStats.StatRow],
      f: Path, c: String): KeyStats.StatRow =
    rows.getOrElse((f.getFileName.toString, c), KeyStats.StatRow("none", "", ""))

  /** Schema-bearing empty frame: one part file's footer, not a full
    * directory re-list + inference sweep (the fileless-directory form is
    * only needed for a table with no files at all — unreachable through
    * the producers, which always leave a schema-bearing part file). */
  private def emptyLike(spark: SparkSession, r: Resolved): DataFrame =
    (if (r.files.nonEmpty) Footers.read(spark, r.files.take(1))
     else Footers.readDir(spark, r.dir)).where(lit(false))

  /** Read the rows matching EVERY `(column, key set)` predicate, planning
    * only the files that can hold one; `version` reads a retained version
    * instead of the live one. A fully-pruned read (no file can contain a
    * key) returns an empty frame with the table's schema without
    * constructing a data scan.
    *
    * The file prune is CONJUNCTIVE: a file survives only if every
    * predicate's stats range intersects it — the read-side move that makes
    * a Z-ORDERED layout ([[ZorderLayout]]) pay off at the FILE level: each
    * z-clustered file covers a small rectangle of the key plane, so a box
    * predicate's per-dimension ranges jointly exclude most files, where
    * either dimension alone excludes few. Files missing sidecar rows for
    * ANY needed column fall back to ONE footer open each.
    *
    * Time travel and data skipping compose: the sidecar lives INSIDE each
    * version directory, so a historical read prunes with the stats that
    * version was committed with — a GDPR audit ("which files held this id
    * block before the delete?") touches the same 1-2 files a live read
    * would. Asking for a pruned/never-committed version fails loudly,
    * matching [[AtomicTable.readVersion]]'s contract.
    *
    * The ladder is chosen from the table, not by the caller: ONE enumerated
    * predicate ([[TargetedDelete.LongKeys]]/[[TargetedDelete.StringKeys]])
    * on the live version whose `_KEYBLOOM` sidecar or sharded manifest
    * covers the column takes the bloom ladder ([[readBloom]]); everything
    * else the min/max stats ladder. The row-level tail is exact either way,
    * so the ladder decides how many files are planned, never which rows
    * come back. Build `ks` with [[TargetedDelete.KeySet.longs]] /
    * [[TargetedDelete.KeySet.strings]]; ranges and prefixes are
    * [[TargetedDelete.LongRange]], [[TargetedDelete.StringRange]] (under
    * UTF-8 byte order) and [[TargetedDelete.StringPrefix]] (complete by
    * construction — an inclusive upper bound cannot cover a prefix block,
    * astral suffixes sort above U+FFFF). */
  def read(spark: SparkSession, root: String,
      preds: Seq[(String, TargetedDelete.KeySet)],
      version: Option[String] = None): (DataFrame, ReadStats) = {
    require(preds.nonEmpty, "a stats-pruned read needs at least one predicate")
    val r = resolveStats(root, "stats-pruned read", version)
    val bloomRead = preds match {
      case Seq((c, ks)) if version.isEmpty => readBloom(spark, r, c, ks)
      case _ => None
    }
    bloomRead.getOrElse {
      val (rows, opened) = r.rowsFor(spark, preds.map(_._1))
      val touched = r.files.filter { f =>
        preds.forall { case (c, ks) =>
          TargetedDelete.rowIntersects(rowOf(rows, f, c), ks)
        }
      }
      val df =
        if (touched.isEmpty) emptyLike(spark, r)
        else preds.foldLeft(Footers.read(spark, touched)) {
          case (d, (c, ks)) => TargetedDelete.matched(d, c, ks)
        }
      (df, ReadStats(r.version, r.files.size, touched.size, opened))
    }
  }

  /** [[read]] of one STRING key set on the live version — stats compare
    * under parquet's unsigned-UTF-8 byte order ([[KeyStats.Utf8Order]]).
    * Kept as a named entry point because the repository benchmark's upkeep
    * workload (`perfbench/.../Upkeep.scala`) calls it by this name, and the
    * benchmark is measured unchanged across engine changes. */
  def readStringKeyIn(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[String]): (DataFrame, ReadStats) =
    read(spark, root, Seq(keyCol -> TargetedDelete.KeySet.strings(keys)))

  /** DYNAMIC FILE PRUNING, join-shaped (Delta's DFP, decided from the
    * manifest instead of at runtime): join `probe` against the live version
    * on `keyCol`, constructing the scan over ONLY the files whose stats —
    * bloom-checked where a `_KEYBLOOM` row exists — admit a probe key. The
    * file-level prune is a superset of the join's matches and the join
    * itself is the exact row-level filter, so no predicate re-application
    * is needed. The decision is [[KeyedMerge.touchedNames]], the merge
    * prune read-side: probe keys ≤ `driverKeyThreshold` enumerate on the
    * driver; beyond, the assignment runs as a Spark job over the broadcast
    * boundary index and only file names return. The join strategy is left
    * to Catalyst (a micro-batch probe auto-broadcasts; a large probe
    * shuffles — correct either way). Probe-source drift between the prune
    * and the join is neutralized by the assignment's consistency contract
    * (key-filtered in the driver regime, checkpointed in the distributed
    * one — [[KeyedMerge.touchedNames]]). */
  def joinPruned(spark: SparkSession, root: String, keyCol: String,
      probe: DataFrame,
      driverKeyThreshold: Int = KeyedMerge.DriverKeyThreshold)
      : (DataFrame, ReadStats) = {
    require(probe.columns.contains(keyCol),
      s"probe frame must carry the join key column $keyCol")
    val r = resolveStats(root, "pruned join")
    val (rows, opened) = r.rowsFor(spark, Seq(keyCol))
    val KeyedMerge.Assignment(touched, _, stableProbe) =
      KeyedMerge.touchedNames(r.files, rows.map { case ((f, _), row) => f -> row },
        keyCol, probe, driverKeyThreshold, KeyBloom.loadBlooms(r.dir), Some(r.dir))
    val touchedFiles = r.files.filter(f => touched(f.getFileName.toString))
    val base =
      if (touchedFiles.isEmpty) emptyLike(spark, r)
      else Footers.read(spark, touchedFiles)
    (base.join(stableProbe, Seq(keyCol), "inner"),
      ReadStats(r.version, r.files.size, touchedFiles.size, opened))
  }

  // ---- bloom-pruned point lookups (r18 — r17 verdict item 2) -------------

  /** [[read]]'s BLOOM LADDER for a point-lookup batch min/max cannot help
    * with: a file is planned only if its `_KEYBLOOM` row ([[KeyBloom]]) or
    * the sharded manifest ([[BloomManifest]]) admits at least one probe
    * key — layout-INDEPENDENT skipping, the move that serves the dedup
    * gate's "is this doc-hash already in the corpus?" on a corpus that is
    * NOT clustered by that hash. Files without a (matching-kind) bloom fall
    * back to the min/max stats ladder (sidecar, then footer — conservative
    * hybrid, like every other pruning path); the row-level predicate
    * re-applies inside survivors, so a bloom false positive costs one extra
    * file scan, never a wrong row. None when neither bloom backend covers
    * `keyCol` for this key kind: the stats ladder decides alone. */
  private def readBloom(spark: SparkSession, r: Resolved, keyCol: String,
      ks: TargetedDelete.KeySet): Option[(DataFrame, ReadStats)] = {
    val (kind, keyBytes) = ks match {
      case TargetedDelete.LongKeys(sorted) => ("long", sorted.toSeq.map(KeyBloom.longBytes))
      case TargetedDelete.StringKeys(sorted) =>
        ("string", sorted.toSeq.map(KeyBloom.stringBytes))
      // a range or prefix holds unboundedly many keys: no bloom disproves it
      case _ => return None
    }
    // an absent sidecar or manifest costs one existence check each
    val blooms = KeyBloom.loadBlooms(r.dir)
    val mCovered = BloomManifest.coveredFiles(r.dir, keyCol, kind)
    if (mCovered.isEmpty &&
        !blooms.exists { case ((_, c), b) => c == keyCol && b.kind == kind })
      return None
    // backend ladder: the DISTRIBUTED manifest probe first (one Spark job,
    // only admitted names reach the driver — the 10⁶-file path), the
    // driver-materialized TSV sidecar for files the manifest doesn't
    // cover (the small-table fast path), the min/max stats ladder last
    val (manifested, rest0) = r.files.partition(f => mCovered(f.getFileName.toString))
    val (bloomed, rest) = rest0.partition { f =>
      blooms.get((f.getFileName.toString, keyCol)).exists(_.kind == kind)
    }
    // the two ladders COMPOSE on bloomed files: a sidecar min/max row that
    // already disproves the key set vetoes a bloom false positive for free
    // (no footer read is ever paid for a bloomed file — the bloom alone
    // decides when the sidecar is silent)
    val sideAll = r.side.collect {
      case ((f, c), row) if c == keyCol => f -> row
    }
    // the probe job runs only when the stats hull leaves candidates, and
    // a torn manifest (crash between header and shards) degrades to
    // planning every candidate — conservative, never a wrong skip
    val candidates = manifested.filter { f =>
      sideAll.get(f.getFileName.toString)
        .forall(TargetedDelete.rowIntersects(_, ks))
    }
    val manifestTouched =
      if (candidates.isEmpty) Seq.empty[Path]
      else BloomManifest.probe(spark, r.dir, keyCol, kind, keyBytes) match {
        case Some(p) => candidates.filter(f => p.admitted(f.getFileName.toString))
        case None => candidates.filter { f =>
          // probe declined (key set past MaxProbeKeys, or a torn/legacy
          // manifest): a covered file keeps its TSV-bloom second chance
          // when it has one; otherwise planned conservatively
          val n = f.getFileName.toString
          blooms.get((n, keyCol)).filter(_.kind == kind)
            .forall(b => keyBytes.exists(b.mightContain))
        }
      }
    val bloomTouched = bloomed.filter { f =>
      val n = f.getFileName.toString
      sideAll.get(n).forall(TargetedDelete.rowIntersects(_, ks)) &&
        keyBytes.exists(blooms((n, keyCol)).mightContain)
    }
    // hybrid fallback for bloom-less files: the min/max ladder
    val (restTouched, opened) =
      if (rest.isEmpty) (Seq.empty[Path], 0)
      else {
        val unknown = rest.filterNot(f => sideAll.contains(f.getFileName.toString))
        val rows = sideAll ++ KeyStats.statRowsFor(spark, unknown, keyCol)
        (rest.filter(f => TargetedDelete.rowIntersects(
          rows(f.getFileName.toString), ks)), unknown.size)
      }
    val touched = manifestTouched ++ bloomTouched ++ restTouched
    val df =
      if (touched.isEmpty) emptyLike(spark, r)
      else TargetedDelete.matched(Footers.read(spark, touched), keyCol, ks)
    Some((df, ReadStats(r.version, r.files.size, touched.size, opened,
      manifested.size)))
  }

  /** COMPOSITE-KEY point-lookup batch (r19 verdict item 1): plan only the
    * files whose per-column hulls CONJUNCTIVELY admit some probe tuple,
    * tightened by the composite bloom sidecar/manifest
    * ([[CompositeKey.touched]] — the merge prune, read-side). `tuples` is
    * a frame of the key columns. The row-level tail is exact tuple
    * membership via a semi join against the assignment's stable key set;
    * `manifestFiles` counts files whose decision the DISTRIBUTED composite
    * manifest covered. */
  def readTupleIn(spark: SparkSession, root: String, keyCols: Seq[String],
      tuples: DataFrame): (DataFrame, ReadStats) = {
    require(keyCols.size >= 2, "use read for one column")
    val r = resolveStats(root, "composite-pruned read")
    val (rows, opened) = r.rowsFor(spark, keyCols)
    val kindsOpt = CompositeKey.kindsOf(tuples.schema, keyCols)
    // ONE evaluation of the probe frame (the stable-changeset contract,
    // read-side): a driver-sized tuple set is collected HERE and
    // re-presented to the prune as a LOCAL relation, so the file decision
    // and the row tail share the same tuple bytes by construction — a
    // non-stable probe source evaluated twice could otherwise return a
    // tuple's rows from planned files while silently missing them in
    // unplanned ones. Past the threshold the distributed assignment
    // checkpoints, and ITS stable frame is the row tail.
    val collected: Option[Seq[Seq[Any]]] = kindsOpt.flatMap { kinds =>
      val probe = tuples.select(CompositeKey.keySelect(kinds, keyCols): _*)
        .na.drop("any").limit(KeyedMerge.DriverKeyThreshold + 1).collect()
      if (probe.length > KeyedMerge.DriverKeyThreshold) None
      else Some(probe.map(r => keyCols.indices.map(r.get): Seq[Any]).toSeq.distinct)
    }
    val probeFrame = (kindsOpt, collected) match {
      case (Some(kinds), Some(ts)) =>
        CompositeKey.tupleFrame(spark, keyCols, kinds, ts)
      case _ => tuples
    }
    val asg = CompositeKey.touched(r.files, rows, keyCols, probeFrame,
      KeyedMerge.DriverKeyThreshold, KeyBloom.loadBlooms(r.dir), Some(r.dir))
    val touchedFiles = r.files.filter(f => asg.touched(f.getFileName.toString))
    val base =
      if (touchedFiles.isEmpty) emptyLike(spark, r)
      else Footers.read(spark, touchedFiles)
    // row-level tail, tiered like every other key filter: a small tuple
    // set becomes a literal OR-of-ANDs (each conjunct's equalities push
    // into the surviving files' row-group stats); larger driver-sized sets
    // semi-join the SAME local tuple relation the prune used; only the
    // distributed regime joins the assignment's stable frame
    val out = collected match {
      case Some(ts) if ts.isEmpty => base.where(lit(false))
      case Some(ts) if ts.size <= TargetedDelete.IsinKeyThreshold =>
        base.filter(CompositeKey.matchPredicate(keyCols, ts))
      case Some(_) => base.join(broadcast(probeFrame), keyCols, "left_semi")
      case None => base.join(
        asg.stableChanges.select(keyCols.map(col): _*).na.drop("any").distinct(),
        keyCols, "left_semi")
    }
    val manifested = kindsOpt
      .map(k => BloomManifest.coveredFiles(r.dir,
        CompositeKey.colName(keyCols), CompositeKey.kindName(k)))
      .getOrElse(Set.empty[String])
    (out, ReadStats(r.version, r.files.size, touchedFiles.size, opened,
      r.files.count(f => manifested(f.getFileName.toString))))
  }

  /** A metadata-count's audit row: `metadataFiles` contributed their match
    * count from the sidecar alone (`rowCount − nullCount` of a file whose
    * [min,max] lies inside the range), `scannedFiles` (the ≤2 boundary files
    * holding a range endpoint, plus any file with unknown counts) were
    * counted by a real filtered scan, and the rest were stats-disjoint. */
  final case class CountStats(version: String, totalFiles: Int,
      metadataFiles: Int, scannedFiles: Int, footerReads: Int)

  /** Containment FOR COUNTING: every NON-NULL key in the file provably
    * matches `ks`. Unlike the whole-file-drop proof ([[TargetedDelete
    * .rowContained]]) this tolerates null keys — the count arithmetic
    * subtracts them (`rowCount − nullCount`), it never deletes them. String
    * containment compares under [[KeyStats.Utf8Order]], the byte order
    * parquet computed the stats with; a writer-truncated min/max errs toward
    * "not contained" (truncated min is a lower bound, adjusted max an upper
    * bound), so truncation can cost a scan, never a wrong count. */
  private def countContained(r: KeyStats.StatRow,
      ks: TargetedDelete.KeySet): Boolean = ks match {
    case TargetedDelete.LongRange(lo, hi) =>
      r.kind == "long" && r.min.toLong >= lo && r.max.toLong <= hi
    case TargetedDelete.StringRange(lo, hi) =>
      r.kind == "string" && KeyStats.Utf8Order.compare(r.min, lo) >= 0 &&
        KeyStats.Utf8Order.compare(r.max, hi) <= 0
    case p: TargetedDelete.StringPrefix =>
      r.kind == "string" && p.containsRange(r.min, r.max)
    case _ => false
  }

  /** METADATA-ONLY COUNT (r17; generalized to every containment-capable
    * [[TargetedDelete.KeySet]] in r18): `count(*) WHERE <ks matches keyCol>`
    * answered from the stats sidecar for every file the predicate fully
    * contains — on a clustered corpus a huge contiguous block counts by
    * reading ~2 boundary files no matter how many interior files exist
    * (Delta/Iceberg answer these from numRecords the same way). min/max
    * ignore nulls, so a contained file contributes `rowCount − nullCount`;
    * a file with unknown counts is scanned, never guessed. */
  def countWhere(spark: SparkSession, root: String, keyCol: String,
      ks: TargetedDelete.KeySet): (Long, CountStats) = {
    val res = resolveStats(root, "stats-pruned count")
    val (rows, opened) = res.rowsFor(spark, Seq(keyCol))
    val overlapping =
      res.files.filter(f => TargetedDelete.rowIntersects(rowOf(rows, f, keyCol), ks))
    val (metaFiles, scanFiles) = overlapping.partition { f =>
      val r = rowOf(rows, f, keyCol)
      // countable from metadata: containment proven AND both counts known
      r.rowCount >= 0 && r.nullCount >= 0 && countContained(r, ks)
    }
    val metaCount = metaFiles.map { f =>
      val r = rowOf(rows, f, keyCol); r.rowCount - r.nullCount
    }.sum
    val scanned =
      if (scanFiles.isEmpty) 0L
      else Footers.read(spark, scanFiles)
        .filter(ks.matchPredicate(keyCol)).count()
    (metaCount + scanned,
      CountStats(res.version, res.files.size, metaFiles.size, scanFiles.size, opened))
  }

  /** METADATA-ONLY MIN/MAX of an indexed BIGINT column: fold the sidecar's
    * per-file ranges (SQL MIN/MAX ignore nulls, exactly like parquet's
    * min/max stats, so the semantics line up for free); only files whose
    * stats prove nothing ("none" rows — e.g. all-null) fall back to a scan.
    * The Iceberg/Delta "answer aggregates from the manifest" move: O(files)
    * driver work on an index that is driver-sized by nature, zero data IO. */
  def minMaxLong(spark: SparkSession, root: String,
      keyCol: String): (Option[(Long, Long)], CountStats) = {
    val res = resolveStats(root, "stats min/max")
    val (rows, opened) = res.rowsFor(spark, Seq(keyCol))
    val (meta, scan) =
      res.files.partition(f => rowOf(rows, f, keyCol).kind == "long")
    val metaRanges = meta.map { f =>
      val r = rowOf(rows, f, keyCol); (r.min.toLong, r.max.toLong)
    }
    val scanned =
      if (scan.isEmpty) None
      else {
        // cast inside the aggregate: a key column whose footer stats are not
        // INT64 (e.g. INT32-backed) lands here with kind "none", and a bare
        // getLong on its min/max would ClassCastException (r17 advisory).
        // But ONLY for integral columns — on anything else the cast would
        // null out uncastable values and fold a silently PARTIAL answer, so
        // non-integral schema drift fails loudly instead.
        // Stats-less files are where a retyped key column lands, so this
        // scan keeps Spark's schema inference instead of trusting the first
        // file's footer ([[Footers]]) to speak for all of them.
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        val scanDf = spark.read.parquet(scan.map(_.toString): _*)
        scanDf.schema(keyCol).dataType match {
          case LongType | IntegerType | ShortType | ByteType => ()
          case t => throw new IllegalStateException(
            s"minMaxLong: $keyCol is $t in ${scan.size} stats-less files — " +
              "a non-integral key cannot contribute to a BIGINT min/max; " +
              "use minMaxString or repair the schema drift")
        }
        val row = scanDf
          .agg(min(col(keyCol).cast("long")), max(col(keyCol).cast("long"))).head
        if (row.isNullAt(0)) None else Some((row.getLong(0), row.getLong(1)))
      }
    val all = metaRanges ++ scanned
    val result =
      if (all.isEmpty) None else Some((all.map(_._1).min, all.map(_._2).max))
    (result, CountStats(res.version, res.files.size, meta.size, scan.size, opened))
  }

  /** [[minMaxLong]] for STRING columns: fold the sidecar's per-file ranges
    * under [[KeyStats.Utf8Order]] — min/max over Spark strings, parquet
    * stats, and DuckDB memcmp all agree on that order, so the folded value
    * is the SQL answer. Assumes untruncated footer statistics (Spark's
    * parquet writer default — a truncated min would be a below-data bound,
    * not a data value); files whose stats prove nothing fall back to one
    * scan. */
  def minMaxString(spark: SparkSession, root: String,
      keyCol: String): (Option[(String, String)], CountStats) = {
    val res = resolveStats(root, "stats min/max")
    val (rows, opened) = res.rowsFor(spark, Seq(keyCol))
    val (meta, scan) =
      res.files.partition(f => rowOf(rows, f, keyCol).kind == "string")
    val metaRanges = meta.map { f =>
      val r = rowOf(rows, f, keyCol); (r.min, r.max)
    }
    val scanned =
      if (scan.isEmpty) None
      else {
        // inferred, not footer-read: see minMaxLong's stats-less scan
        val row = spark.read.parquet(scan.map(_.toString): _*)
          .agg(min(col(keyCol).cast("string")), max(col(keyCol).cast("string"))).head
        if (row.isNullAt(0)) None else Some((row.getString(0), row.getString(1)))
      }
    val all = metaRanges ++ scanned
    val result =
      if (all.isEmpty) None
      else Some((all.map(_._1).min(KeyStats.Utf8Order),
        all.map(_._2).max(KeyStats.Utf8Order)))
    (result, CountStats(res.version, res.files.size, meta.size, scan.size, opened))
  }

  // ---- declared queries -------------------------------------------------

  def tableRoot(dir: String): String =
    "spark-warehouse/s16_docs_" + new java.io.File(dir).getName

  /** The looked-up id block — same corpus convention as the s22 delete set
    * (ids < 500 exist at every SF). */
  val ReadFrom = 100L; val ReadTo = 299L

  private def docsAgg(df: DataFrame): DataFrame =
    df.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))

  /** RANGE READ over an indexed id-clustered corpus: commit with
    * `statsCols` (the producer indexes its own outputs), then the range
    * lookup must plan a STRICT SUBSET of the files with ZERO footer reads —
    * the query throws otherwise, so the hash row is green only through the
    * manifest-stats skipping path. The oracle replays the range filter over
    * the parquet source, pinning that file-level pruning lost no rows. */
  def qS16KeyedRead(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir)
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_id"))
    val (df, rs) = read(spark, root, Seq("doc_id" -> LongRange(ReadFrom, ReadTo)))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles)
      throw new IllegalStateException(
        s"stats-pruned read did not skip: $rs (want footerReads=0, filesRead < totalFiles)")
    docsAgg(df)
  }

  /** KEY-SET READ through the footer-fallback path: the table is committed
    * WITHOUT a sidecar, so the pruning decision footer-reads each file once
    * (enforced: footerReads > 0) and must still plan a strict subset. The
    * key set is the s22 shape — a contiguous block plus two singletons. */
  def qS16KeyedReadSet(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_set"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root)
    val keys = (ReadFrom to ReadTo) ++ Seq(7L, 421L)
    val (df, rs) = read(spark, root, Seq("doc_id" -> KeySet.longs(keys)))
    if (rs.footerReads == 0 || rs.filesRead >= rs.totalFiles)
      throw new IllegalStateException(
        s"footer-fallback read audit wrong: $rs (want footerReads>0, filesRead < totalFiles)")
    docsAgg(df)
  }

  /** STRING-KEYED READ over a lang-clustered layout: the corpus is
    * range-partitioned on (lang, doc_id) — the natural "cluster by language
    * then id" layout of a multilingual corpus — indexed on `lang`, and the
    * one-language lookup must skip the files whose decoded UTF-8 stats
    * prove they hold other languages only (enforced like [[qS16KeyedRead]]).
    * String stats compare under parquet's unsigned byte order end to end. */
  def qS16KeyedReadStr(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_str"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("lang"), col("doc_id"))
        .sortWithinPartitions(col("lang"), col("doc_id")),
      root, statsCols = Seq("lang"))
    val (df, rs) = readStringKeyIn(spark, root, "lang", Seq("fr"))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles)
      throw new IllegalStateException(
        s"string-stats read did not skip: $rs (want footerReads=0, filesRead < totalFiles)")
    df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  /** LOUD testdata-span guard (r17 advice): the metadata-count and
    * whole-file-drop gates assume the [lo, hi] block FULLY CONTAINS at least
    * one file of the just-committed id-clustered layout (per-file spans ≪
    * block width). At a scale factor where spans outgrow the block, those
    * gates would fail deep inside the query even though the CODE is correct —
    * this names the assumption and fails FIRST, with the observed spans. */
  private[sinks] def requireContainedFile(root: String, keyCol: String,
      ks: KeySet, gate: String): Unit = {
    val live = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    val rows = KeyStats.loadStats(Paths.get(root, live)).collect {
      case ((_, c), r) if c == keyCol => r
    }
    // the whole-file-drop proof: a null-free file whose stats sit inside ks
    if (!rows.exists(TargetedDelete.rowContained(_, ks)))
      throw new IllegalStateException(
        s"TESTDATA SPAN ASSUMPTION BROKEN for $gate: no committed file is " +
          s"fully contained in $ks on $keyCol (observed spans: " +
          rows.map(r => s"[${r.min},${r.max}]").take(6).mkString(", ") +
          s"${if (rows.size > 6) ", …" else ""}) — the containment gate " +
          "would fail although the pruning code is correct; widen the block " +
          "for this SF's per-file spans")
  }

  /** The counted block: long relative to the per-file id span at every SF
    * (64 files over ≥500 ids → spans ≈80 ids at sf0.1, ≈8 below; the 400-id
    * block covers several spans even under range-sampling skew), so the
    * range always fully contains interior files. Ids < 500 exist at every
    * SF, same convention as the s22 delete set. */
  val CountFrom = 50L; val CountTo = 449L
  val CountFiles = 64

  /** METADATA-ONLY COUNT under the hash gate: 64-file id-clustered corpus,
    * committed indexed, then `count(*)` over a 300-id block must come from
    * the sidecar for every interior file — at most the 2 endpoint-holding
    * boundary files scan (enforced), zero footer reads (enforced). The
    * oracle replays the plain SQL count, so the metadata arithmetic
    * (rowCount − nullCount per contained file) is value-checked. */
  def qS16KeyedCount(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_cnt"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(CountFiles, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_id"))
    requireContainedFile(root, "doc_id", LongRange(CountFrom, CountTo), "s16_keyed_count")
    val (n, cs) = countWhere(spark, root, "doc_id", LongRange(CountFrom, CountTo))
    if (cs.footerReads != 0 || cs.scannedFiles > 2 || cs.metadataFiles < 1)
      throw new IllegalStateException(
        s"metadata count did not engage: $cs (want footerReads=0, scanned<=2, metadata>=1)")
    // metadata-served MIN/MAX on the same table: zero scans, zero footers
    val (mm, ms) = minMaxLong(spark, root, "doc_id")
    if (ms.footerReads != 0 || ms.scannedFiles != 0 || mm.isEmpty)
      throw new IllegalStateException(
        s"metadata min/max did not engage: $ms")
    val (lo, hi) = mm.get
    spark.range(1).select(lit(n).as("n_docs"),
      lit(lo).as("min_id"), lit(hi).as("max_id"))
  }

  /** The string-count layout: 24 files clustered on (lang, doc_id) — 'en'
    * is ~40% of the corpus at every SF, so it fully contains several
    * interior files and at most 2 boundary files hold its block edges. */
  val CountStrFiles = 24
  val CountLang = "en"

  /** METADATA-ONLY COUNT ON A STRING KEY (r18 — the r17 "generalize past
    * kind==long" item): the lang-clustered corpus is committed indexed, and
    * `count(*) WHERE lang = 'en'` must come from the sidecar's
    * rowCount−nullCount for every interior all-'en' file — ≤2 boundary
    * scans, zero footer reads, both enforced; then metadata-served string
    * MIN/MAX on the same table (zero scans enforced). The containment
    * arithmetic is byte-order end to end; the oracle replays the plain SQL
    * count + min/max, value-checking the fold. */
  def qS16KeyedCountStr(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_cntstr"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(CountStrFiles, col("lang"), col("doc_id"))
        .sortWithinPartitions(col("lang"), col("doc_id")),
      root, statsCols = Seq("lang"))
    requireContainedFile(root, "lang", StringRange(CountLang, CountLang),
      "s16_keyed_count_str")
    val (n, cs) = countWhere(spark, root, "lang", StringRange(CountLang, CountLang))
    if (cs.footerReads != 0 || cs.scannedFiles > 2 || cs.metadataFiles < 1)
      throw new IllegalStateException(
        s"string metadata count did not engage: $cs (want footerReads=0, scanned<=2, metadata>=1)")
    val (mm, ms) = minMaxString(spark, root, "lang")
    if (ms.footerReads != 0 || ms.scannedFiles != 0 || mm.isEmpty)
      throw new IllegalStateException(s"string metadata min/max did not engage: $ms")
    val (lo, hi) = mm.get
    spark.range(1).select(lit(n).as("n_lang"),
      lit(lo).as("min_lang"), lit(hi).as("max_lang"))
  }

  /** The probed documents — present at every SF (ids < 500). */
  val BloomProbeIds: Seq[Long] = Seq(7L, 143L, 421L)
  val BloomFiles = 24

  /** BLOOM SKIPPING ON AN UNCLUSTERED KEY (r18): the corpus is keyed by
    * `doc_hash = md5(doc_id)` — scattered by construction — but laid out
    * clustered on `doc_id`, so every file's hash [min,max] spans ~the whole
    * key space and min/max stats prune ~NOTHING (asserted in-query: the
    * stats read plans ≥ totalFiles−2). The bloom-probed read of the same
    * three hashes must plan ≤6 of the 24 files with zero footer reads
    * (enforced) — layout-independent point-lookup skipping, the dedup
    * gate's "seen this hash?" shape. The oracle recomputes md5 in SQL, so
    * the hash row value-checks the probe end to end. */
  def qS16KeyedReadBloom(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_bloom"
    AtomicTable.deleteRecursively(Paths.get(root))
    val docs = Tables.documents(spark, dir)
    val nRows = docs.count()
    AtomicTable.commit(
      docs.withColumn("doc_hash", md5(col("doc_id").cast("string")))
        .repartitionByRange(BloomFiles, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, statsCols = Seq("doc_hash"))
    val probes = BloomProbeIds.map(i => KeyBloom.md5hex(i.toString))
    // the premise: min/max stats CANNOT skip on the scattered key
    val (_, rsStats) = readStringKeyIn(spark, root, "doc_hash", probes)
    if (rsStats.filesRead < rsStats.totalFiles - 2)
      throw new IllegalStateException(
        s"fixture premise broken: min/max stats pruned a scattered key ($rsStats)")
    // bits sized from the observed rows-per-file so the filesRead gate
    // below holds at ANY scale factor, not just the tested ones
    KeyBloom.indexKeyBloom(spark, root, "doc_hash",
      KeyBloom.bitsFor(nRows / BloomFiles + 1))
    val (df, rs) = readStringKeyIn(spark, root, "doc_hash", probes)
    if (rs.footerReads != 0 || rs.filesRead > 6 || rs.filesRead < 1)
      throw new IllegalStateException(
        s"bloom read did not skip: $rs (want footerReads=0, 1 <= filesRead <= 6)")
    df.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  /** The sharded-bloom fixture: ≥10³ files (the verdict's scale bar) from
    * a fixed-size lineitem slice — the regime under test is the FILE
    * COUNT, so the slice is SF-stable (orderkeys < [[ShardKeyMax]] exist
    * in full at every SF) and the query's cost stays put as data grows.
    * Probes are rank-picked under the table's own (orderkey, linenumber)
    * order so the oracle can replay them without a side channel. */
  val ShardFiles = 1200
  val ShardKeyMax = 1500L
  val ShardProbeRanks: Seq[Int] = Seq(1, 100, 250)

  /** BLOOM SKIPPING PAST THE DRIVER (r19 headline — the r18 verdict's
    * top-next): the corpus is keyed by a scattered row hash, laid out
    * clustered on the UNRELATED (orderkey, linenumber), and bloomed via
    * the SHARDED PARQUET MANIFEST ([[BloomManifest]]) at the PRODUCTION
    * bloom sizing (2²⁶ bits — the `bitsFor` cap, the sizing whose dense
    * sidecar would be ~8 MB/file and ~80 GB of driver heap at 10⁴ files).
    * The point probe must (a) find min/max powerless (premise: stats plan
    * ~all of ≥1000 files), (b) decide the prune in ONE distributed job —
    * enforced by the [[KeyBloom.loadCalls]] counter staying flat (no TSV
    * bloom row ever materialized on the driver; there is no TSV at all)
    * and `manifestFiles == totalFiles` in the audit row — and (c) plan
    * ≤6 of ≥1000 files with zero footer reads. The oracle recomputes the
    * same md5 keys by rank in SQL, so the hash row value-checks the
    * distributed probe end to end. */
  /** The SF-stable hash-keyed lineitem slice both sharded queries build
    * on. */
  private def shardSource(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < ShardKeyMax)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .withColumn("row_hash",
        md5((col("l_orderkey") * 8 + col("l_linenumber")).cast("string")))

  /** Build (or reuse) the ≥10³-file manifest-bloomed fixture at `root`.
    * The fixture is deterministic — and for the merge query IDEMPOTENT
    * (the merge pins fixed keys to fixed values) — so a prior run's build
    * is reused when its shape still holds (10³ files, full manifest
    * coverage on row_hash, no TSV); every declared audit re-validates the
    * on-disk state per run regardless, and a shape mismatch rebuilds. */
  private def ensureShardFixture(spark: SparkSession, dir: String,
      root: String): Unit = {
    val reusable = AtomicTable.currentVersion(root).exists { v =>
      val vDir = Paths.get(root, v)
      val covered = BloomManifest.loadHeader(vDir)
        .count { case ((_, c), _) => c == "row_hash" }
      covered >= 1000 && TargetedDelete.partFiles(vDir).size == covered &&
        BloomManifest.shardDir(vDir).isDefined && // intact shard generation
        !java.nio.file.Files.exists(vDir.resolve(KeyBloom.BloomFile))
    }
    if (!reusable) {
      AtomicTable.deleteRecursively(Paths.get(root))
      AtomicTable.commit(
        shardSource(spark, dir)
          .repartitionByRange(ShardFiles, col("l_orderkey"), col("l_linenumber"))
          .sortWithinPartitions(col("l_orderkey"), col("l_linenumber")),
        root, statsCols = Seq("row_hash"))
      BloomManifest.indexBloomManifest(spark, root, "row_hash", bits = 1 << 26)
    }
  }

  /** The rank-picked probe hashes (same order both engines can replay). */
  private def shardProbes(spark: SparkSession, dir: String,
      ranks: Seq[Int]): Seq[String] = {
    val ranked = shardSource(spark, dir)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .select(col("row_hash")).limit(ranks.max).collect()
    ranks.map(r => ranked(r - 1).getString(0))
  }

  def qS16KeyedReadBloomSharded(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_shard"
    ensureShardFixture(spark, dir, root)
    val probes = shardProbes(spark, dir, ShardProbeRanks)
    // premise: min/max stats CANNOT skip on the scattered key, and the
    // fixture really is in the >=10^3-file regime
    // premise, decided from the sidecar alone (no 10³-path scan needs to
    // be constructed just to count it): min/max leaves the probe BADLY
    // unpruned — hundreds of files intersect — where the bloom plans ≤6.
    // (Few-row files leave narrow hulls that prune a little by luck.)
    val ksProbe = KeySet.strings(probes)
    val hulls = KeyStats.loadStats(
      Paths.get(root, AtomicTable.currentVersion(root).get)).collect {
      case ((_, c), r) if c == "row_hash" => r
    }
    val statsPlanned = hulls.count(TargetedDelete.rowIntersects(_, ksProbe))
    if (hulls.size < 1000 || statsPlanned < hulls.size / 2)
      throw new IllegalStateException(
        s"fixture premise broken: want >=1000 files with stats planning " +
          s">=half, got $statsPlanned/${hulls.size}")
    val loads0 = KeyBloom.loadCalls.get()
    val (df, rs) = readStringKeyIn(spark, root, "row_hash", probes)
    if (rs.footerReads != 0 || rs.filesRead > 6 || rs.filesRead < 1 ||
        rs.manifestFiles != rs.totalFiles)
      throw new IllegalStateException(
        s"sharded bloom read did not skip distributed: $rs " +
          "(want footerReads=0, 1 <= filesRead <= 6, manifestFiles=totalFiles)")
    if (KeyBloom.loadCalls.get() != loads0)
      throw new IllegalStateException(
        "the probe materialized a TSV bloom sidecar on the driver — the " +
          "sharded path must decide in the distributed join alone")
    if (java.nio.file.Files.exists(
        Paths.get(root, rs.version).resolve(KeyBloom.BloomFile)))
      throw new IllegalStateException(
        "fixture invalid: a TSV sidecar exists beside the manifest")
    df.agg(count(lit(1)).as("n_rows"),
      round(sum(col("l_quantity")), 4).as("sum_qty"),
      sum(col("l_orderkey") * 8 + col("l_linenumber")).as("sum_keys"))
  }

  /** The saturated-regime layout: ~250 rows/file at 2¹⁴ bits — the
    * density where nearly EVERY 64-bit bloom word holds a set bit, i.e.
    * the sparse-word manifest provably in its DENSE regime (rows/file ≈
    * bits/64), while k=7 fpp stays ~1e-7 (bit density ~11%). */
  val SatFiles = 24
  val SatBits: Int = 1 << 14
  val SatProbeRanks: Seq[Int] = Seq(5, 150, 300)

  /** THE SATURATED-MANIFEST REGIME, exercised not asserted (r19 verdict
    * item 2): [[BloomManifest]]'s sparse-word representation was proven at
    * test density (few keys/file → few non-zero words); this pins the
    * OTHER regime the object doc claims production sizing lands in. The
    * fixture's ~250 rows/file at 2¹⁴ bits saturates the words — the query
    * THROWS unless the manifest really is dense (rows ≥ 95% of
    * files × bits/64), so the probe below runs against the
    * dense-as-production shape. Then (a) probes of PRESENT keys plan ≤ 6
    * of ≥ 20 files with zero footer reads, decided fully distributed
    * (manifestFiles == totalFiles), hash-checked against the oracle's
    * rank replay (admitted ⊇ truth — a lost row breaks the hash); and
    * (b) probes of ABSENT keys admit ≤ 2 files — the FP envelope at the
    * saturated density (fpp ≈ 0.107⁷ ≈ 1e-7; whole-word saturation is NOT
    * bit saturation). In-manifest row-group pruning under this density is
    * pinned by BloomManifestSpec with scan metrics. */
  def qS16BloomSaturated(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_sat"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      shardSource(spark, dir)
        .repartitionByRange(SatFiles, col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber")),
      root, statsCols = Seq("row_hash"))
    BloomManifest.indexBloomManifest(spark, root, "row_hash", bits = SatBits)
    val live = Paths.get(root, AtomicTable.currentVersion(root).get)
    // saturation premise: the manifest holds ~the dense row count
    val mDir = BloomManifest.shardDir(live).getOrElse(
      throw new IllegalStateException("manifest generation missing"))
    val mRows = Footers.readDir(spark, mDir)
      .filter(col("cname") === "row_hash").count()
    val nFiles = TargetedDelete.partFiles(live).size
    val dense = nFiles.toLong * (SatBits / 64)
    if (nFiles < 20 || mRows < (dense * 95) / 100)
      throw new IllegalStateException(
        s"saturation premise broken: $mRows manifest rows vs dense $dense " +
          s"over $nFiles files — the fixture is not in the dense-word regime")
    // hull premise: the scattered key leaves min/max badly unpruned
    val probes = shardProbes(spark, dir, SatProbeRanks)
    val ksProbe = KeySet.strings(probes)
    val hulls = KeyStats.loadStats(live).collect {
      case ((_, c), r) if c == "row_hash" => r
    }
    if (hulls.count(TargetedDelete.rowIntersects(_, ksProbe)) < hulls.size / 2)
      throw new IllegalStateException(
        "fixture premise broken: min/max pruned the scattered key")
    // FP envelope at saturated word density: absent keys admit ~nothing
    val absent = Seq("sat-absent-a", "sat-absent-b", "sat-absent-c").map(KeyBloom.md5hex)
    val (_, rsAbs) = readStringKeyIn(spark, root, "row_hash", absent)
    if (rsAbs.footerReads != 0 || rsAbs.filesRead > 2 ||
        rsAbs.manifestFiles != rsAbs.totalFiles)
      throw new IllegalStateException(
        s"saturated-manifest FP envelope broken: $rsAbs (want filesRead <= 2)")
    val (df, rs) = readStringKeyIn(spark, root, "row_hash", probes)
    if (rs.footerReads != 0 || rs.filesRead > 6 || rs.filesRead < 1 ||
        rs.manifestFiles != rs.totalFiles)
      throw new IllegalStateException(
        s"saturated-manifest probe did not skip: $rs")
    df.agg(count(lit(1)).as("n_rows"),
      round(sum(col("l_quantity")), 4).as("sum_qty"),
      sum(col("l_orderkey") * 8 + col("l_linenumber")).as("sum_keys"))
  }

  /** The merged keys (by rank) and the value they are pinned to — fixed,
    * so the merge is IDEMPOTENT and the fixture cache stays valid. */
  val ShardMergeRanks: Seq[Int] = Seq(10, 200, 400)
  val ShardMergeQty = 999.0

  /** THE DEDUP GATE'S WRITE SIDE AT ≥10³ FILES (r19 — the headline's
    * merge-shaped twin): a keyed upsert by scattered row hash against the
    * manifest-bloomed fixture. The merge prune must decide from the
    * DISTRIBUTED manifest probe — THROWS unless footerReads==0, the bloom
    * cleared at least a third of the table past min/max
    * (bloomSkipped ≥ total/3), at most 6 of ≥1000 files rewrote, and the
    * TSV-materialization counter stayed flat (no bloom row on the driver).
    * The kernel pins three rank-picked keys' l_quantity to a fixed value;
    * the oracle replays the same ranks in SQL — the hash row value-checks
    * prune, kernel, link reuse, and the self-maintained manifest end to
    * end. At 100 TB this is "upsert this doc-hash batch" touching the
    * batch's files instead of the corpus. */
  def qS23MergeShardedBloom(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_shardm"
    ensureShardFixture(spark, dir, root)
    val keys = shardProbes(spark, dir, ShardMergeRanks)
    import spark.implicits._
    // distinct: (orderkey, linenumber) is NOT unique in the synthetic
    // lineitem, so two ranks can map to one hash — a duplicate change row
    // would multiply matched base rows through the join
    val changes = keys.distinct.toDF("row_hash")
      .withColumn("nq", lit(ShardMergeQty))
    val loads0 = KeyBloom.loadCalls.get()
    val ms = KeyedMerge.merge(spark, root, Seq("row_hash"), changes,
      (base, c) => base.join(c, Seq("row_hash"), "left")
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("nq"), col("l_quantity")).as("l_quantity"),
          col("row_hash")))
    if (ms.totalFiles < 1000 || ms.footerReads != 0 ||
        ms.rewrittenFiles > 6 || ms.reusedFiles < ms.totalFiles - 6 ||
        ms.bloomSkipped < ms.totalFiles / 3)
      throw new IllegalStateException(
        s"sharded merge did not prune distributed: $ms (want >=1000 files, " +
          "footerReads=0, rewritten<=6, bloomSkipped>=total/3)")
    if (KeyBloom.loadCalls.get() != loads0)
      throw new IllegalStateException(
        "the merge prune materialized a TSV bloom sidecar on the driver")
    AtomicTable.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        sum(col("l_orderkey") * 8 + col("l_linenumber")).as("sum_keys"))
  }

  /** TIME TRAVEL + DATA SKIPPING composed: commit the indexed corpus (v1),
    * range-delete the block (v2), then stats-read the PRIOR version for the
    * deleted block — the GDPR audit shape ("what did we hold before the
    * delete?"). The historical read must prune from v1's own sidecar
    * (footerReads==0, filesRead < totalFiles — the sidecar travels with its
    * version, so skipping works on history too), and the live read of the
    * same block must be EMPTY; both enforced in-query. The oracle replays
    * the block aggregate over the source = the pre-delete state. */
  def qS16KeyedReadAsof(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_asof"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_id"))
    TargetedDelete.delete(spark, root, "doc_id", LongRange(ReadFrom, ReadTo))
    val prev = AtomicTable.previousVersion(root).getOrElse(
      throw new IllegalStateException(s"pre-delete version not retained at $root"))
    val (hist, rs) = read(spark, root,
      Seq("doc_id" -> LongRange(ReadFrom, ReadTo)), Some(prev))
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles)
      throw new IllegalStateException(
        s"historical stats read did not skip: $rs")
    val (live, _) = read(spark, root, Seq("doc_id" -> LongRange(ReadFrom, ReadTo)))
    if (live.limit(1).count() != 0L)
      throw new IllegalStateException(
        "deleted block still visible in the LIVE version")
    docsAgg(hist)
  }

  /** Probe block for the DFP join — inside documents' id range at every SF. */
  val DfpFrom = 50L; val DfpTo = 89L

  /** DYNAMIC-FILE-PRUNING JOIN, driver-gated: enrich a small keyed probe
    * (the "join the changeset with its current rows" shape) against the
    * committed id-clustered corpus through [[joinPruned]] — THROWS unless
    * the scan was constructed over a strict subset of the files with zero
    * footer reads. The oracle replays the equi-join as a range filter (the
    * probe is a contiguous block with a derived payload), so the hash row
    * value-checks both the pruned scan and the join semantics. */
  def qS16DfpJoin(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_dfp"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_id"))
    val probe = spark.range(DfpFrom, DfpTo + 1)
      .select(col("id").as("doc_id"), (col("id") * 7L).as("w"))
    val (df, rs) = joinPruned(spark, root, "doc_id", probe)
    if (rs.footerReads != 0 || rs.filesRead >= rs.totalFiles || rs.filesRead < 1)
      throw new IllegalStateException(
        s"DFP join did not prune: $rs (want footerReads=0, 1 <= filesRead < total)")
    df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("w")).as("sum_w"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s16_dfp_join" -> (qS16DfpJoin _),
    "s16_keyed_read" -> (qS16KeyedRead _),
    "s16_keyed_read_set" -> (qS16KeyedReadSet _),
    "s16_keyed_read_str" -> (qS16KeyedReadStr _),
    "s16_keyed_count" -> (qS16KeyedCount _),
    "s16_keyed_count_str" -> (qS16KeyedCountStr _),
    "s16_keyed_read_bloom" -> (qS16KeyedReadBloom _),
    "s16_keyed_read_bloom_sharded" -> (qS16KeyedReadBloomSharded _),
    "s16_bloom_saturated" -> (qS16BloomSaturated _),
    "s23_merge_sharded_bloom" -> (qS23MergeShardedBloom _),
    "s16_keyed_read_asof" -> (qS16KeyedReadAsof _))

  val oracles: Map[String, String] = Map(
    // the probe is a contiguous block with payload w = doc_id * 7, so the
    // equi-join replays as a range filter
    "s16_dfp_join" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id * 7) AS BIGINT) AS sum_w
         |FROM documents
         |WHERE doc_id BETWEEN $DfpFrom AND $DfpTo
         |GROUP BY source""".stripMargin,
    "s16_keyed_read" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE doc_id BETWEEN $ReadFrom AND $ReadTo
         |GROUP BY lang, source""".stripMargin,
    "s16_keyed_read_set" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE doc_id BETWEEN $ReadFrom AND $ReadTo OR doc_id IN (7, 421)
         |GROUP BY lang, source""".stripMargin,
    "s16_keyed_read_str" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE lang = 'fr'
        |GROUP BY source""".stripMargin,
    "s16_keyed_count" ->
      s"""SELECT (SELECT count(*) FROM documents
         |        WHERE doc_id BETWEEN $CountFrom AND $CountTo) AS n_docs,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents""".stripMargin,
    "s16_keyed_read_bloom" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE md5(CAST(doc_id AS VARCHAR)) IN
         |  (${BloomProbeIds.map(i => s"md5('$i')").mkString(", ")})
         |GROUP BY lang, source""".stripMargin,
    // the probe keys replay by RANK under the same (orderkey, linenumber)
    // order, so the oracle needs no side channel; DuckDB's md5 of the
    // same VARCHAR cast recomputes the identical scattered keys
    "s16_keyed_read_bloom_sharded" ->
      s"""WITH src AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity,
         |    md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)) AS h,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
         |  FROM lineitem WHERE l_orderkey < $ShardKeyMax)
         |SELECT count(*) AS n_rows,
         |  CAST(round(sum(l_quantity), 4) AS DOUBLE) AS sum_qty,
         |  CAST(sum(l_orderkey * 8 + l_linenumber) AS BIGINT) AS sum_keys
         |FROM src
         |WHERE h IN (SELECT h FROM src
         |            WHERE rn IN (${ShardProbeRanks.mkString(", ")}))""".stripMargin,
    // same rank replay as the sharded query, at the saturated fixture's
    // own ranks — admitted ⊇ truth is what the hash row proves
    "s16_bloom_saturated" ->
      s"""WITH src AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity,
         |    md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)) AS h,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
         |  FROM lineitem WHERE l_orderkey < $ShardKeyMax)
         |SELECT count(*) AS n_rows,
         |  CAST(round(sum(l_quantity), 4) AS DOUBLE) AS sum_qty,
         |  CAST(sum(l_orderkey * 8 + l_linenumber) AS BIGINT) AS sum_keys
         |FROM src
         |WHERE h IN (SELECT h FROM src
         |            WHERE rn IN (${SatProbeRanks.mkString(", ")}))""".stripMargin,
    // the merge pins EVERY row sharing a rank-picked HASH ((orderkey,
    // linenumber) is not unique in the synthetic data, so the oracle pins
    // by hash membership, exactly the upsert-by-key semantics)
    "s23_merge_sharded_bloom" ->
      s"""WITH src AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity,
         |    md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)) AS h,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
         |  FROM lineitem WHERE l_orderkey < $ShardKeyMax)
         |SELECT count(*) AS n_rows,
         |  CAST(round(sum(CASE WHEN h IN (SELECT h FROM src
         |                    WHERE rn IN (${ShardMergeRanks.mkString(", ")}))
         |                      THEN $ShardMergeQty ELSE l_quantity END), 4)
         |    AS DOUBLE) AS sum_qty,
         |  CAST(sum(l_orderkey * 8 + l_linenumber) AS BIGINT) AS sum_keys
         |FROM src""".stripMargin,
    "s16_keyed_count_str" ->
      s"""SELECT (SELECT count(*) FROM documents
         |        WHERE lang = '$CountLang') AS n_lang,
         |  min(lang) AS min_lang, max(lang) AS max_lang
         |FROM documents""".stripMargin,
    // the PRIOR version == the un-deleted source, so the oracle is the
    // plain block aggregate — same body as s16_keyed_read
    "s16_keyed_read_asof" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE doc_id BETWEEN $ReadFrom AND $ReadTo
         |GROUP BY lang, source""".stripMargin)
}
