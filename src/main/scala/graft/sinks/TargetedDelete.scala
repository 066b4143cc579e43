package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** S22 — TARGETED ROW DELETE on the atomic table (beyond-reference, the
  * GDPR/"opted-out documents" move a training-data lakehouse cannot skip):
  * delete a key set from the live version by rewriting ONLY the data files
  * whose parquet FOOTER statistics intersect the keys, and carrying every
  * untouched file into the new version as a HARD LINK — O(1) per file, no
  * data movement, exactly the remove-file/add-file reuse a Delta/Iceberg
  * commit log expresses by reference (reference: the engine's own
  * AtomicTable protocol; the reference pipeline's deletes are Postgres row
  * deletes, utils/database.py — this is the lakehouse re-expression).
  *
  * Scale shape (r15 advisories folded in): the pruning decision prefers the
  * version's MANIFEST-HELD stats sidecar ([[StatsFile]] — one small
  * sequential read regardless of file count, the Delta/Iceberg move; build
  * it with [[indexKeyStats]], and every delete writes its output version's
  * sidecar so the index self-maintains); files the sidecar doesn't cover
  * fall back to footer METADATA reads (one ~KB-sized read per file, no row
  * groups), and past [[ParallelFooterThreshold]] files those run as a SPARK
  * JOB over the file list — 10⁵–10⁶-file tables prune at executor
  * parallelism, never in a driver loop. BIGINT and STRING key stats both
  * decode; any other key type falls to the conservative rewrite-everything
  * branch. The rewrite job scans just the intersecting files, and the
  * delete predicate is a literal NOT-IN while the key set is small
  * ([[IsinKeyThreshold]] — codegen-able, scan-pushable) and a broadcast
  * LEFT ANTI join beyond it (10⁶ opted-out ids must not macro-expand into
  * the plan). The link step is metadata-only. On an id-clustered layout
  * (range-partitioned write — the natural layout for a corpus keyed by
  * doc_id), a clustered delete set (one user / one source's documents)
  * touches a handful of files no matter how large the table is. Version
  * pruning stays safe under links: deleting an old version's directory
  * unlinks names, never inodes, so the new version's linked files survive.
  *
  * Cross-filesystem fallback: if the stage directory cannot hard-link to
  * the live files (different device), the file is copied — same semantics,
  * the reuse is an optimization, not a correctness dependency.
  *
  * Concurrency: [[deleteKeys]] is the single-writer path (composes with
  * [[AtomicTable.commit]]'s cadence); [[deleteKeysOcc]] runs the SAME
  * staged prune/rewrite/link through [[AtomicTable.occCommit]]'s
  * claim/rebase protocol, so multi-writer deployments get the targeted
  * delete raced safely against concurrent [[AtomicTable.mergeCommit]]s —
  * a loser rebases on the winner's version and re-prunes. */
object TargetedDelete {

  /** What the delete touched — the audit row a maintenance job logs.
    * `footerReads` counts live files whose pruning decision needed a real
    * parquet footer read (0 when the version's `_KEYSTATS` sidecar already
    * indexed the key column — the manifest-held-stats path). `droppedFiles`
    * (r17) counts files a RANGE delete removed whole — stats proved every
    * non-null key inside the range, so nothing was rewritten or linked for
    * them; `totalFiles == rewrittenFiles + droppedFiles + reusedFiles`. */
  final case class DeleteStats(version: String, totalFiles: Int,
      rewrittenFiles: Int, reusedFiles: Int, footerReads: Int = 0,
      droppedFiles: Int = 0, bloomSkipped: Int = 0)

  /** Above this many delete keys the survivor filter switches from a
    * literal NOT-IN predicate to a broadcast LEFT ANTI join. */
  val IsinKeyThreshold = 1000

  /** A typed, deduplicated, sorted delete-key set: how the footer stats are
    * probed and how the survivor filter is expressed, per key type. NULL is
    * never a deletable key (rows with a NULL key always survive — matching
    * three-valued logic on the NOT-IN path and no-match on the anti join). */
  sealed trait KeySet extends Serializable {
    def size: Int
    /** any key within [mn, mx], where mn/mx are the footer's generic stats
      * values — false only when the stats PROVE no key is in the file */
    def intersectsStats(mn: Any, mx: Any): Boolean
    /** NOT-IN literal predicate (small key sets). */
    def survivorPredicate(keyCol: String): Column
    /** The POSITIVE membership predicate — the read path's filter
      * ([[StatsRead]]): rows whose key IS in the set. NULL keys never match
      * (mirrors three-valued logic on the survivor side). */
    def matchPredicate(keyCol: String): Column
    /** one-column frame of the keys, for the anti/semi join (large key sets). */
    def toDF(spark: SparkSession): DataFrame
    /** Express the filter as a literal predicate (codegen-able, scan-pushable)
      * rather than a broadcast join. True for small enumerated sets and ALL
      * ranges (a range is two comparisons no matter how many keys it spans —
      * macro-expanding it into a join side would be backwards). */
    def preferPredicate: Boolean = size <= IsinKeyThreshold
  }

  final case class LongKeys(sorted: Array[Long]) extends KeySet {
    def size: Int = sorted.length
    def intersectsStats(mn: Any, mx: Any): Boolean = (mn, mx) match {
      case (lo: java.lang.Long, hi: java.lang.Long) =>
        val i = {
          val idx = java.util.Arrays.binarySearch(sorted, lo.longValue)
          if (idx >= 0) idx else -idx - 1
        }
        i < sorted.length && sorted(i) <= hi.longValue
      case _ => true // foreign stats type: conservative
    }
    def survivorPredicate(keyCol: String): Column =
      col(keyCol).isNull || !col(keyCol).isin(sorted.map(Long.box).toIndexedSeq: _*)
    def matchPredicate(keyCol: String): Column =
      col(keyCol).isin(sorted.map(Long.box).toIndexedSeq: _*)
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      sorted.toSeq.toDF("__del_key")
    }
  }

  /** A CONTIGUOUS key range [lo, hi] — the natural shape of "one withdrawn
    * source's documents" on an id-clustered layout, and the read path's
    * point/range lookup. Always expressed as a two-comparison literal
    * predicate (scan-pushable into the parquet reader's row-group stats),
    * never a join, regardless of how many keys the range spans. */
  final case class LongRange(lo: Long, hi: Long) extends KeySet {
    require(lo <= hi, s"empty range [$lo, $hi]")
    def size: Int = math.min(hi - lo + 1, Int.MaxValue.toLong).toInt
    def intersectsStats(mn: Any, mx: Any): Boolean = (mn, mx) match {
      case (fMin: java.lang.Long, fMax: java.lang.Long) =>
        !(hi < fMin.longValue || lo > fMax.longValue)
      case _ => true // foreign stats type: conservative
    }
    def survivorPredicate(keyCol: String): Column =
      col(keyCol).isNull || !col(keyCol).between(lo, hi)
    def matchPredicate(keyCol: String): Column = col(keyCol).between(lo, hi)
    def toDF(spark: SparkSession): DataFrame =
      throw new UnsupportedOperationException(
        "a key range is never expressed as a join side")
    override def preferPredicate: Boolean = true
  }

  /** A CONTIGUOUS STRING key range [lo, hi] under UNSIGNED UTF-8 BYTE order
    * — the doc-hash twin of [[LongRange]]. All three comparison sites agree
    * on the byte order: the stats probe uses [[KeyStats.Utf8Order]], Spark
    * compares strings as UTF8String binary, and DuckDB's default collation
    * is memcmp — so a range predicate means the same thing in the footer,
    * the engine, and the oracle. Always a two-comparison literal predicate,
    * never a join. For "every key starting with p" use [[StringPrefix]] —
    * an inclusive [p, p+X] upper bound CANNOT express a prefix block (under
    * byte order any 4-byte codepoint sorts above U+FFFF, so `p + "￿"`
    * silently excludes p-prefixed keys with astral suffixes). */
  final case class StringRange(lo: String, hi: String) extends KeySet {
    require(lo != null && hi != null && KeyStats.Utf8Order.compare(lo, hi) <= 0,
      s"empty string range [$lo, $hi]")
    def size: Int = Int.MaxValue // unenumerable; preferPredicate overrides
    def intersectsStats(mn: Any, mx: Any): Boolean = (mn, mx) match {
      case (fMin: String, fMax: String) =>
        val c = KeyStats.Utf8Order
        !(c.compare(hi, fMin) < 0 || c.compare(lo, fMax) > 0)
      case _ => true // foreign stats type: conservative
    }
    def survivorPredicate(keyCol: String): Column =
      col(keyCol).isNull || !(col(keyCol) >= lo && col(keyCol) <= hi)
    def matchPredicate(keyCol: String): Column =
      col(keyCol) >= lo && col(keyCol) <= hi
    def toDF(spark: SparkSession): DataFrame =
      throw new UnsupportedOperationException(
        "a string range is never expressed as a join side")
    override def preferPredicate: Boolean = true
  }

  /** EVERY key starting with `prefix`, under UNSIGNED UTF-8 BYTE order —
    * the GDPR "delete a withdrawn source's hash-prefix block" shape. A
    * prefix block is a byte-order interval with NO finite inclusive upper
    * bound (astral suffixes sort above U+FFFF; arbitrarily long max-byte
    * suffixes always exist), so it gets its own KeySet instead of a
    * [[StringRange]] recipe: the stats probe compares a value's FIRST
    * |prefix| BYTES against the prefix (a value below/inside/above the
    * block), and the row predicate is `startsWith` — byte-prefix semantics
    * in Spark's UTF8String, `starts_with`/`LIKE 'p%'` in an oracle.
    * Containment (whole-file drop/metadata count) holds when BOTH stats
    * endpoints start with the prefix: every string between two p-prefixed
    * strings is p-prefixed (byte-interval property); writer-truncated stats
    * err toward "not contained" (a truncated min is a proper prefix → judged
    * below the block; an upward-adjusted max bounds the true max). */
  final case class StringPrefix(prefix: String) extends KeySet {
    require(prefix != null && prefix.nonEmpty, "empty prefix matches everything")
    private val pBytes = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    /** <0: s sorts below every p-prefixed string; 0: s IS p-prefixed;
      * >0: s sorts above every p-prefixed string. */
    private def cmpBlock(s: String): Int = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(b.length, pBytes.length)
      var i = 0
      while (i < n) {
        val d = (b(i) & 0xff) - (pBytes(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      if (b.length >= pBytes.length) 0 else -1 // proper prefix of p → below
    }
    def size: Int = Int.MaxValue // unenumerable; preferPredicate overrides
    def intersectsStats(mn: Any, mx: Any): Boolean = (mn, mx) match {
      case (fMin: String, fMax: String) =>
        !(cmpBlock(fMax) < 0 || cmpBlock(fMin) > 0)
      case _ => true // foreign stats type: conservative
    }
    /** both endpoints inside the block → every key between them is too */
    private[sinks] def containsRange(mn: String, mx: String): Boolean =
      cmpBlock(mn) == 0 && cmpBlock(mx) == 0
    def survivorPredicate(keyCol: String): Column =
      col(keyCol).isNull || !col(keyCol).startsWith(prefix)
    def matchPredicate(keyCol: String): Column = col(keyCol).startsWith(prefix)
    def toDF(spark: SparkSession): DataFrame =
      throw new UnsupportedOperationException(
        "a prefix block is never expressed as a join side")
    override def preferPredicate: Boolean = true
  }

  /** `sorted` MUST be sorted under [[KeyStats.Utf8Order]] (the companion
    * constructor [[TargetedDelete.stringKeySet]] guarantees it) — the range
    * probe replays parquet's unsigned-UTF-8-byte stats order, which Java's
    * default String order diverges from on supplementary-plane content. */
  final case class StringKeys(sorted: Array[String]) extends KeySet {
    def size: Int = sorted.length
    def intersectsStats(mn: Any, mx: Any): Boolean = {
      // stats values arrive as decoded Strings (footer reads and the
      // _KEYSTATS sidecar both decode through KeyStats.footerStatRow).
      // Writers may TRUNCATE binary stats: parquet-mr adjusts a truncated
      // max upward, so the range stays an upper bound; unknown shapes stay
      // conservative via the catch-all.
      (mn, mx) match {
        case (lo: String, hi: String) =>
          val cmp = KeyStats.Utf8Order
          val i = {
            var a = 0; var b = sorted.length
            while (a < b) { // lower_bound under the byte order
              val m = (a + b) >>> 1
              if (cmp.compare(sorted(m), lo) < 0) a = m + 1 else b = m
            }
            a
          }
          i < sorted.length && cmp.compare(sorted(i), hi) <= 0
        case _ => true
      }
    }
    def survivorPredicate(keyCol: String): Column =
      col(keyCol).isNull || !col(keyCol).isin(sorted.toIndexedSeq: _*)
    def matchPredicate(keyCol: String): Column =
      col(keyCol).isin(sorted.toIndexedSeq: _*)
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      sorted.toSeq.toDF("__del_key")
    }
  }

  /** Parquet part files of a directory (skips markers/CRCs). */
  private[sinks] def partFiles(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    finally st.close()
  }

  /** LOUD guard on the flat version layout [[partFiles]] assumes (r16
    * verdict item 4): delete and compaction list only top-level `*.parquet`,
    * so against a PARTITIONED (subdirectory) version layout they would see
    * zero part files and publish an EMPTY next version — silent total data
    * loss. Not constructible through [[AtomicTable.commit]] today, but a
    * hand-assembled or future partitioned version must fail here, not there. */
  private[sinks] def requireFlatLayout(dir: Path, op: String): Unit = {
    val st = Files.list(dir)
    // metadata directories (underscore/dot-prefixed — the `_KEYBLOOM_PQ`
    // manifest, in-flight `.tmp` swaps) are invisible to Spark scans and
    // to partFiles, so they are NOT a partitioned layout
    val subdirs =
      try st.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toList
      finally st.close()
    if (subdirs.nonEmpty)
      throw new IllegalStateException(
        s"$op requires a FLAT version layout but $dir contains " +
          s"subdirectories (${subdirs.sorted.take(3).mkString(", ")}): a " +
          "partitioned version cannot be staged file-by-file — proceeding " +
          "would publish an empty next version")
  }

  // ---------------------------------------- manifest-held key statistics
  // (the machinery lives in [[KeyStats]], shared with Compaction and
  // AtomicTable.mergeCommit; these aliases keep this object the delete-side
  // entry point and the specs' import surface)

  type StatRow = KeyStats.StatRow
  val StatsFile: String = KeyStats.StatsFile
  val ParallelFooterThreshold: Int = KeyStats.ParallelFooterThreshold

  private[sinks] def loadStats(versionDir: Path): Map[(String, String), StatRow] =
    KeyStats.loadStats(versionDir)
  private[sinks] def writeStats(versionDir: Path,
      rows: Map[(String, String), StatRow]): Unit =
    KeyStats.writeStats(versionDir, rows)
  private[sinks] def footerStatRow(f: String, keyCol: String): StatRow =
    KeyStats.footerStatRow(f, keyCol)
  private[sinks] def statRowsFor(spark: SparkSession, files: Seq[Path],
      keyCol: String): Map[String, StatRow] =
    KeyStats.statRowsFor(spark, files, keyCol)

  /** Build (or extend) the LIVE version's `_KEYSTATS` index for `keyCols`:
    * footer-read each unindexed file ONCE — one open serves ALL requested
    * columns (the footer holds every column's block stats; k columns must
    * not cost k sweeps) — executor-parallel past the threshold; then every
    * later delete/read on these columns prunes from the sidecar with zero
    * footer reads. Returns the number of files opened. Adding a sidecar to a
    * committed version is metadata augmentation — data files are never
    * touched. */
  def indexKeyStats(spark: SparkSession, root: String, keyCols: Seq[String]): Int = {
    val live = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no live version at $root"))
    val liveDir = Paths.get(root, live)
    val old = loadStats(liveDir)
    // a file missing ANY requested column gets one open extracting all of
    // them (recomputing an already-present row lands the identical value)
    val missing = partFiles(liveDir).filter(f =>
      keyCols.exists(c => !old.contains((f.getFileName.toString, c))))
    val fresh = KeyStats.statRowsFor(spark, missing, keyCols)
    if (fresh.nonEmpty) writeStats(liveDir, old ++ fresh)
    missing.size
  }

  /** Single-column [[indexKeyStats]]. */
  def indexKeyStats(spark: SparkSession, root: String, keyCol: String): Int =
    indexKeyStats(spark, root, Seq(keyCol))

  /** Does a stat row admit any delete key? "none" is conservative-true. */
  private[sinks] def rowIntersects(row: StatRow, ks: KeySet): Boolean = row.kind match {
    case "long" =>
      ks.intersectsStats(java.lang.Long.valueOf(row.min), java.lang.Long.valueOf(row.max))
    case "string" => ks.intersectsStats(row.min, row.max)
    case _ => true
  }

  /** Is EVERY non-null key in the file provably inside the delete range —
    * i.e. can a range delete DROP the whole file without rewriting a byte?
    * True only for a [[LongRange]] whose bounds contain the file's [min,max]
    * AND a file known to hold zero NULL keys (NULL-key rows always survive a
    * delete, so a file that might hold one must rewrite). Conservative-false
    * everywhere else — a drop decided wrongly is data loss, so every leg of
    * this predicate is a proof, not a heuristic. */
  private[sinks] def rowContained(row: StatRow, ks: KeySet): Boolean = ks match {
    case LongRange(lo, hi) =>
      row.kind == "long" && row.nullCount == 0L &&
        row.min.toLong >= lo && row.max.toLong <= hi
    case StringRange(lo, hi) =>
      // writer-truncated stats stay safe here: a truncated min is a LOWER
      // bound (min >= lo still implies every true key >= lo) and a
      // truncated-then-adjusted max is an UPPER bound — both err toward
      // "not contained", never toward a wrong drop
      row.kind == "string" && row.nullCount == 0L &&
        KeyStats.Utf8Order.compare(row.min, lo) >= 0 &&
        KeyStats.Utf8Order.compare(row.max, hi) <= 0
    case p: StringPrefix =>
      row.kind == "string" && row.nullCount == 0L &&
        p.containsRange(row.min, row.max)
    case _ => false
  }

  private[sinks] final case class Pruned(touched: Seq[Path], reused: Seq[Path],
      footerReads: Int, keyRows: Map[String, StatRow],
      allSideRows: Map[(String, String), StatRow], bloomSkipped: Int = 0,
      blooms: Map[(String, String), KeyBloom.BloomRow] = Map.empty)

  /** Can the file's `_KEYBLOOM` row disprove EVERY key of the set within
    * the file's stats hull? Only enumerated sets probe (a range/prefix
    * holds unboundedly many keys — a bloom cannot disprove it); a file with
    * unusable stats probes ALL keys (the bloom is its only chance at a
    * link). Conservative-false everywhere else. */
  private def bloomClears(b: KeyBloom.BloomRow, row: StatRow, ks: KeySet): Boolean =
    (ks, b.kind) match {
      case (LongKeys(sorted), "long") =>
        if (row.kind == "long")
          !KeyBloom.sliceMaybe(b, sorted, row.min.toLong, row.max.toLong,
            Ordering.Long, KeyBloom.longBytes)
        else !sorted.exists(k => b.mightContain(KeyBloom.longBytes(k)))
      case (StringKeys(sorted), "string") =>
        if (row.kind == "string")
          !KeyBloom.sliceMaybe(b, sorted, row.min, row.max,
            KeyStats.Utf8Order, KeyBloom.stringBytes)
        else !sorted.exists(k => b.mightContain(KeyBloom.stringBytes(k)))
      case _ => false
    }

  /** Partition the live files into (touched, reusable): sidecar rows decide
    * for free; only files the sidecar doesn't cover fall back to footer
    * reads (hybrid — a partial index still prunes maximally). Min/max
    * survivors with a `_KEYBLOOM` row get a second chance: on an
    * UNCLUSTERED key (hash hulls span the key space, min/max prunes
    * nothing — the GDPR delete-by-doc-hash shape) the bloom is the only
    * thing standing between a point delete and a full-table rewrite. The
    * loaded sidecar rides along in the result so the staging pass never
    * re-reads it. */
  private[sinks] def pruneFiles(spark: SparkSession, liveDir: Path, files: Seq[Path],
      keyCol: String, ks: KeySet): Pruned = {
    val sideAll = loadStats(liveDir)
    val side = sideAll.collect {
      case ((f, c), row) if c == keyCol => f -> row
    }
    val unknown = files.filterNot(f => side.contains(f.getFileName.toString))
    val rows = side ++ statRowsFor(spark, unknown, keyCol)
    val (touched0, reused0) =
      files.partition(f => rowIntersects(rows(f.getFileName.toString), ks))
    // sharded-manifest probe for enumerated key sets (one distributed job,
    // no driver bloom materialization); a covered, non-admitted file is
    // provably key-free. Ranges/prefixes can't bloom-probe (unbounded key
    // sets), and a delete the stats hull already fully cleared never pays
    // the probe job — both stay on the stats ladder.
    val manifest =
      if (touched0.isEmpty) None
      else ks match {
        case LongKeys(sorted) => BloomManifest.probe(spark, liveDir, keyCol,
          "long", sorted.toSeq.map(KeyBloom.longBytes))
        case StringKeys(sorted) => BloomManifest.probe(spark, liveDir, keyCol,
          "string", sorted.toSeq.map(KeyBloom.stringBytes))
        case _ => None
      }
    val blooms = KeyBloom.loadBlooms(liveDir)
    val (bloomCleared, touched) =
      if (blooms.isEmpty && manifest.isEmpty) (Seq.empty[Path], touched0)
      else touched0.partition { f =>
        val n = f.getFileName.toString
        manifest.exists(p => p.covered(n) && !p.admitted(n)) ||
          blooms.get((n, keyCol)).exists(b => bloomClears(b, rows(n), ks))
      }
    Pruned(touched, reused0 ++ bloomCleared, unknown.size, rows, sideAll,
      bloomCleared.size, blooms)
  }

  /** The survivor filter over the touched files' rows. */
  private def survivors(df: DataFrame, keyCol: String, ks: KeySet): DataFrame =
    if (ks.preferPredicate) df.filter(ks.survivorPredicate(keyCol))
    else df.join(broadcast(ks.toDF(df.sparkSession)),
      df(keyCol) === col("__del_key"), "left_anti")

  /** The MATCH filter — [[StatsRead]]'s row-level tail after its file-level
    * prune: literal predicate while small/range (scan-pushable), broadcast
    * LEFT SEMI beyond (the positive twin of [[survivors]]). */
  private[sinks] def matched(df: DataFrame, keyCol: String, ks: KeySet): DataFrame =
    if (ks.preferPredicate) df.filter(ks.matchPredicate(keyCol))
    else df.join(broadcast(ks.toDF(df.sparkSession)),
      df(keyCol) === col("__del_key"), "left_semi")

  /** Stage the post-delete state of `liveDir` into `stageDir`: DROP whole
    * files a range delete provably empties ([[rowContained]] — no rewrite,
    * no link, O(1) per file; the GDPR "remove this source's id block" fast
    * path), rewrite the remaining stats-intersecting files, hard-link the
    * rest, and write the NEXT version's `_KEYSTATS` sidecar — reused files
    * carry their rows forward (all indexed columns), freshly-rewritten
    * files get `keyCol` rows from their just-written local footers, so a
    * delete's output version is always fully indexed on the delete column
    * and the next delete on it needs ZERO footer reads. Shared by the
    * single-writer and OCC paths.
    * Returns (total, rewritten, dropped, reused, footerReads, bloomSkipped). */
  private def stageDelete(spark: SparkSession, liveDir: Path, stageDir: Path,
      keyCol: String, ks: KeySet): (Int, Int, Int, Int, Int, Int) = {
    requireFlatLayout(liveDir, "targeted delete")
    val files = partFiles(liveDir)
    val pr = pruneFiles(spark, liveDir, files, keyCol, ks)
    val (dropped0, rewrite0) = pr.touched.partition(f =>
      rowContained(pr.keyRows(f.getFileName.toString), ks))
    // a delete that would drop EVERY file must still publish a READABLE
    // version: demote one dropped file to the rewrite path so its 0-row
    // rewrite leaves a schema-bearing part file (a fileless directory has
    // no footer to take a schema from — the table would be permanently
    // unreadable)
    val (dropped, rewrite) =
      if (rewrite0.isEmpty && pr.reused.isEmpty && dropped0.nonEmpty)
        (dropped0.tail, dropped0.take(1))
      else (dropped0, rewrite0)
    Files.createDirectories(stageDir)
    if (rewrite.nonEmpty) {
      // one job over ONLY the partially-intersecting files; bloomed tables
      // keep parquet-native blooms in the surviving rewrite too
      val rewriteOut = stageDir.resolve("rewrite")
      survivors(Footers.read(spark, rewrite), keyCol, ks)
        .write.options(KeyBloom.nativeWriteOptionsCols(
          pr.blooms.keys.map(_._2).toSet ++ BloomManifest.coveredColumns(liveDir),
          KeyBloom.ndvFor(rewrite, n => pr.keyRows(n).rowCount)))
        .mode("overwrite").parquet(rewriteOut.toString)
      moveStagedParts(rewriteOut, stageDir)
    }
    pr.reused.foreach(linkInto(stageDir, _))
    val reusedNames = pr.reused.map(_.getFileName.toString).toSet
    // bloom lifecycle: linked files carry rows, fresh rewrites get rows
    // REBUILT on every column the predecessor bloomed (self-maintaining)
    KeyBloom.maintainStage(spark, liveDir, stageDir, reusedNames, pr.blooms)
    val carried = pr.allSideRows.filter { case ((f, _), _) => reusedNames(f) }
    val reusedKeyRows = reusedNames.toSeq
      .map(n => (n, keyCol) -> pr.keyRows(n)).toMap
    val freshFiles = partFiles(stageDir).filterNot(p => reusedNames(p.getFileName.toString))
    // executor-parallel past the threshold — a scattered delete rewrites
    // many files and their index rows must not serialize on the driver.
    // Rebuilt on EVERY predecessor-indexed column (one footer open per
    // file serves all — a delete must not degrade the OTHER columns'
    // zero-footer-read reads; r18 verdict item 2)
    val indexedCols = (pr.allSideRows.keys.map(_._2).toSet + keyCol).toSeq.sorted
    val freshRows = KeyStats.statRowsFor(spark, freshFiles, indexedCols)
    writeStats(stageDir, carried ++ reusedKeyRows ++ freshRows)
    (files.size, rewrite.size, dropped.size, pr.reused.size, pr.footerReads,
      pr.bloomSkipped)
  }

  /** Move a staged rewrite's part files up into `stageDir`, then remove the
    * rewrite directory with ALL its committer leftovers (`_SUCCESS`, CRC
    * shadows, a crashed task's `_temporary`). One home for the sequence —
    * delete, merge, and compaction staging all run it. Returns the number
    * of part files moved. */
  private[sinks] def moveStagedParts(rewriteOut: Path, stageDir: Path): Int = {
    var n = 0
    partFiles(rewriteOut).foreach { f =>
      Files.move(f, stageDir.resolve(f.getFileName)); n += 1
    }
    val rest = Files.list(rewriteOut)
    try rest.iterator().asScala.toSeq.foreach(AtomicTable.deleteRecursively)
    finally rest.close()
    Files.delete(rewriteOut)
    n
  }

  /** Link (or copy, cross-device) `src` into `dir` under its own name. */
  private[sinks] def linkInto(dir: Path, src: Path): Unit = {
    val dst = dir.resolve(src.getFileName)
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException | _: java.io.IOException =>
      Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES) }
  }

  /** [[linkInto]]'s STRICT form, shared by restore and manifest carries: a
    * source vanished mid-stage fails loudly (never silently copies a
    * half-gone file); only links-unsupported / cross-device failures fall
    * back to a copy. */
  private[sinks] def linkOrCopyStrict(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch {
      case e: java.nio.file.NoSuchFileException => throw e
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        Files.copy(src, dst)
    }

  private def longKeySet(keys: Seq[Long]): KeySet =
    LongKeys(keys.distinct.sorted.toArray)
  private def stringKeySet(keys: Seq[String]): KeySet =
    StringKeys(keys.filter(_ != null).distinct.sorted(KeyStats.Utf8Order).toArray)

  /** Delete all rows whose BIGINT `keyCol` is in `keys` from the live
    * version, publishing the result as the next version. Single-writer path
    * (composes with [[AtomicTable.commit]]'s cadence; for concurrent
    * writers use [[deleteKeysOcc]]). */
  def deleteKeys(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[Long]): DeleteStats =
    deleteKeySet(spark, root, keyCol, longKeySet(keys))

  /** [[deleteKeys]] for STRING-keyed tables (doc hashes): the footer stats
    * decode as UTF-8 binary, so an id-clustered string layout prunes the
    * same way a BIGINT one does. */
  def deleteStringKeys(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[String]): DeleteStats =
    deleteKeySet(spark, root, keyCol, stringKeySet(keys))

  /** Delete a CONTIGUOUS BIGINT key range [lo, hi] — the "one withdrawn
    * source's id block" shape, expressed as a two-comparison predicate no
    * matter how many keys the range spans (a 10⁹-key GDPR block must not be
    * enumerated). */
  def deleteKeyRange(spark: SparkSession, root: String, keyCol: String,
      lo: Long, hi: Long): DeleteStats =
    deleteKeySet(spark, root, keyCol, LongRange(lo, hi))

  /** [[deleteKeyRange]] for STRING keys under UTF-8 byte order. Contained
    * files drop whole, same as the long form. For "everything with prefix p"
    * use [[deleteStringKeyPrefix]] — an inclusive range cannot express a
    * prefix block. */
  def deleteStringKeyRange(spark: SparkSession, root: String, keyCol: String,
      lo: String, hi: String): DeleteStats =
    deleteKeySet(spark, root, keyCol, StringRange(lo, hi))

  /** Delete EVERY key starting with `prefix` — the withdrawn-source
    * hash-prefix block, complete by construction (astral and max-byte
    * suffixes included, which no inclusive [p, p+X] range can promise).
    * Contained files drop whole. */
  def deleteStringKeyPrefix(spark: SparkSession, root: String, keyCol: String,
      prefix: String): DeleteStats =
    deleteKeySet(spark, root, keyCol, StringPrefix(prefix))

  private def deleteKeySet(spark: SparkSession, root: String, keyCol: String,
      ks: KeySet): DeleteStats = {
    // orphan handling (crashed-bare-stage overwrite vs complete-claim
    // adoption + rebase) lives in [[AtomicTable.singleWriterStaged]],
    // shared with the keyed merge
    @volatile var last: (Int, Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0, 0)
    val next = AtomicTable.singleWriterStaged(root, "del") { (live, stageDir) =>
      last = stageDelete(spark, Paths.get(root, live), stageDir, keyCol, ks)
    }
    DeleteStats(next, last._1, last._2, last._4, last._5, last._3, last._6)
  }

  /** MULTI-WRITER targeted delete: the same staged prune/rewrite/link run
    * through [[AtomicTable.occCommit]]'s claim/rebase protocol — the CAS
    * rename claims v{N+1}, a lost race re-reads the new live version and
    * RE-PRUNES against it (the winner's files differ), so the delete's
    * effect lands exactly once alongside any interleaved [[AtomicTable
    * .mergeCommit]]s. Stats reflect the attempt that won. */
  def deleteKeysOcc(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[Long], maxRetries: Int = 16,
      pruneAgeMs: Long = AtomicTable.MergePruneAgeMs): DeleteStats =
    deleteKeySetOcc(spark, root, keyCol, longKeySet(keys), maxRetries, pruneAgeMs)

  /** [[deleteKeysOcc]] for STRING-keyed tables. */
  def deleteStringKeysOcc(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[String], maxRetries: Int = 16,
      pruneAgeMs: Long = AtomicTable.MergePruneAgeMs): DeleteStats =
    deleteKeySetOcc(spark, root, keyCol, stringKeySet(keys), maxRetries, pruneAgeMs)

  /** [[deleteKeyRange]] through the OCC claim/rebase protocol. */
  def deleteKeyRangeOcc(spark: SparkSession, root: String, keyCol: String,
      lo: Long, hi: Long, maxRetries: Int = 16,
      pruneAgeMs: Long = AtomicTable.MergePruneAgeMs): DeleteStats =
    deleteKeySetOcc(spark, root, keyCol, LongRange(lo, hi), maxRetries, pruneAgeMs)

  private def deleteKeySetOcc(spark: SparkSession, root: String, keyCol: String,
      ks: KeySet, maxRetries: Int, pruneAgeMs: Long): DeleteStats = {
    @volatile var last: (Int, Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0, 0)
    val v = AtomicTable.occCommit(root, maxRetries, pruneAgeMs) { (base, stageDir) =>
      val liveV = base.getOrElse(
        throw new IllegalStateException(s"no live version at $root"))
      last = stageDelete(spark, Paths.get(root, liveV), stageDir, keyCol, ks)
    }
    DeleteStats(v, last._1, last._2, last._4, last._5, last._3, last._6)
  }

  /** COMPOSITE-KEY targeted delete (r19 verdict item 1): remove exact key
    * TUPLES — the "(poi_id, url) pair withdrawn" shape. `tuples` is a frame
    * of the key columns; the prune is [[CompositeKey.touched]]'s
    * conjunctive hull veto + composite bloom, and the anti-join kernel
    * rides the keyed-merge staging (link reuse, self-maintained sidecars,
    * single-writer orphan policy — all shared). Rows with a NULL component
    * always survive, matching the single-key three-valued-logic contract. */
  def deleteTupleKeys(spark: SparkSession, root: String, keyCols: Seq[String],
      tuples: DataFrame): KeyedMerge.MergeStats =
    KeyedMerge.mergeChangesKeyedTuple(spark, root, keyCols, tuples,
      (base, c) => base.join(
        c.select(keyCols.map(col): _*).na.drop("any").distinct(),
        keyCols, "left_anti"))

  // ---- declared query -------------------------------------------------

  /** The opted-out set: one contiguous id block (a withdrawn source's docs
    * on the id-clustered layout) plus two singletons. Present at every SF
    * (ids < 500). */
  val DeleteFrom = 100L; val DeleteTo = 299L
  val DeleteSingles: Seq[Long] = Seq(7L, 421L)
  def deleteSet: Seq[Long] = (DeleteFrom to DeleteTo) ++ DeleteSingles

  def tableRoot(dir: String): String =
    "spark-warehouse/s22_docs_" + new java.io.File(dir).getName

  /** Build the id-clustered corpus table, delete the opted-out set through
    * the footer-pruned path, and aggregate the SURVIVING live version — the
    * oracle replays the survivor aggregate over the parquet source, so the
    * hash row covers layout, pruning, rewrite, link reuse, and the version
    * flip end to end. */
  def qS22TargetedDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir)
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root)
    deleteKeys(spark, root, "doc_id", deleteSet)
    AtomicTable.read(spark, root)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  /** Post-delete survivor aggregate — the shared tail of every s22 query. */
  private def survivorAgg(spark: SparkSession, root: String): DataFrame =
    AtomicTable.read(spark, root)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))

  /** Same delete through the MULTI-WRITER path: table seeded via
    * mergeCommit, keys removed via [[deleteKeysOcc]] — the OCC
    * claim/rebase/marker corridor under the driver's hash gate (the RACE
    * itself is TargetedDeleteSpec territory; this pins the protocol's
    * sequential correctness cross-engine). */
  def qS22TargetedDeleteOcc(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_occ"
    AtomicTable.deleteRecursively(Paths.get(root))
    // the merge writer indexes its own outputs (statsCols), so the delete
    // that follows prunes with ZERO footer reads — the whole multi-writer
    // lifecycle stays on the manifest-stats path, enforced below
    AtomicTable.mergeCommit(spark, root, statsCols = Seq("doc_id"))(_ =>
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")))
    val stats = deleteKeysOcc(spark, root, "doc_id", deleteSet)
    if (stats.footerReads != 0)
      throw new IllegalStateException(
        s"merge-committed version was not indexed: $stats")
    survivorAgg(spark, root)
  }

  /** Volume variant forcing BOTH scale branches at every SF: 24 live files
    * (> [[ParallelFooterThreshold]] → the pruning decision runs as a Spark
    * job) and 2000 delete keys (> [[IsinKeyThreshold]] → broadcast anti
    * join). The key set is scattered (every 3rd id), so this also pins the
    * degenerate rewrite-heavy shape at data volume. */
  val VolKeyStride = 3L; val VolKeyMax = 6000L
  def volDeleteSet: Seq[Long] = 0L.until(VolKeyMax, VolKeyStride)

  def qS22TargetedDeleteVol(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_vol"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(24, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root)
    deleteKeys(spark, root, "doc_id", volDeleteSet)
    survivorAgg(spark, root)
  }

  /** Same delete through the MANIFEST-HELD-STATS path: the key column is
    * indexed into the version's `_KEYSTATS` sidecar first, then the delete's
    * pruning decision reads ZERO parquet footers (enforced — the query
    * throws otherwise, so the hash row is green only through the indexed
    * path). At 10⁶ files this is the difference between a distributed
    * footer sweep and one small sequential metadata read. */
  def qS22TargetedDeleteIndexed(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_idx"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root)
    indexKeyStats(spark, root, "doc_id")
    val stats = deleteKeys(spark, root, "doc_id", deleteSet)
    if (stats.footerReads != 0)
      throw new IllegalStateException(
        s"indexed delete read ${stats.footerReads} footers — sidecar not used")
    survivorAgg(spark, root)
  }

  /** RANGE DELETE with whole-file drops (r17): a withdrawn source's
    * contiguous id block removed from a 64-file id-clustered layout — the
    * interior files' stats prove every key is inside the range (and zero
    * NULLs), so they are DROPPED without rewriting a byte; only the ≤2
    * endpoint-holding boundary files rewrite. Enforced: at least one drop
    * actually happened and the pruning came from the sidecar (footerReads
    * ==0) — at 10⁶ files this turns a block delete from "rewrite the
    * block's files" into "rewrite 2, forget the rest". Same bounds as
    * [[StatsRead.CountFrom]]/[[StatsRead.CountTo]] (ids < 500 at every SF). */
  def qS22TargetedDeleteRange(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_rng"
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      Tables.documents(spark, dir)
        .repartitionByRange(StatsRead.CountFiles, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_id"))
    StatsRead.requireContainedFile(root, "doc_id",
      StatsRead.CountFrom, StatsRead.CountTo, "s22_targeted_delete_range")
    val stats = deleteKeyRange(spark, root, "doc_id",
      StatsRead.CountFrom, StatsRead.CountTo)
    if (stats.footerReads != 0 || stats.droppedFiles < 1 || stats.rewrittenFiles > 2)
      throw new IllegalStateException(
        s"range delete containment did not engage: $stats " +
          "(want footerReads=0, dropped>=1, rewritten<=2)")
    survivorAgg(spark, root)
  }

  /** Delete ids for the bloom-pruned GDPR shape — must exist at every SF. */
  val BloomDeleteIds: Seq[Long] = Seq(11L, 222L, 433L)

  /** BLOOM-PRUNED DELETE — the GDPR shape on an UNCLUSTERED key: "delete
    * these documents BY CONTENT HASH". No layout clusters a hash for
    * min/max skipping (asserted as the premise: stats alone rewrite ~every
    * file), so the `_KEYBLOOM` sidecar makes the file-granular delete
    * possible at all. THROWS unless the prune was metadata-only
    * (footerReads==0) and the bloom did it (bloomSkipped>=1, rewritten<=6,
    * reused>=total-6 — fpp-proof margins under sized blooms). The oracle
    * replays the survivor aggregate with DuckDB's own md5. */
  def qS22TargetedDeleteBloom(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_bloom"
    AtomicTable.deleteRecursively(Paths.get(root))
    val docs = Tables.documents(spark, dir)
      .withColumn("doc_hash", md5(col("doc_id").cast("string")))
    val nRows = docs.count()
    AtomicTable.commit(docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_hash"))
    val delHashes = docs.filter(col("doc_id").isin(BloomDeleteIds: _*))
      .select(col("doc_hash")).collect().map(_.getString(0)).toSeq
    // premise: WITHOUT a bloom this delete rewrites ~everything (probe via
    // the read path's planner — same stats, no mutation)
    val (_, rsStats) = StatsRead.readStringKeyIn(spark, root, "doc_hash", delHashes)
    if (rsStats.filesRead < rsStats.totalFiles - 2)
      throw new IllegalStateException(
        s"fixture premise broken: min/max pruned a scattered hash ($rsStats)")
    KeyBloom.indexKeyBloom(spark, root, "doc_hash",
      KeyBloom.bitsFor(nRows / 16 + 1))
    val stats = deleteStringKeys(spark, root, "doc_hash", delHashes)
    if (stats.footerReads != 0 || stats.bloomSkipped < 1 ||
        stats.rewrittenFiles > 6 || stats.reusedFiles < stats.totalFiles - 6)
      throw new IllegalStateException(
        s"bloom-pruned delete did not engage: $stats (want footerReads=0, " +
          "bloomSkipped>=1, rewritten<=6, reused>=total-6)")
    AtomicTable.read(spark, root)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s22_targeted_delete" -> (qS22TargetedDelete _),
    "s22_targeted_delete_occ" -> (qS22TargetedDeleteOcc _),
    "s22_targeted_delete_vol" -> (qS22TargetedDeleteVol _),
    "s22_targeted_delete_indexed" -> (qS22TargetedDeleteIndexed _),
    "s22_targeted_delete_range" -> (qS22TargetedDeleteRange _),
    "s22_targeted_delete_bloom" -> (qS22TargetedDeleteBloom _))

  private val s22OracleSql: String =
    s"""SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM documents
       |WHERE NOT (doc_id BETWEEN $DeleteFrom AND $DeleteTo
       |           OR doc_id IN (${DeleteSingles.mkString(", ")}))
       |GROUP BY lang, source""".stripMargin

  val oracles: Map[String, String] = Map(
    "s22_targeted_delete" -> s22OracleSql,
    "s22_targeted_delete_occ" -> s22OracleSql,
    "s22_targeted_delete_indexed" -> s22OracleSql,
    "s22_targeted_delete_range" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE doc_id NOT BETWEEN ${StatsRead.CountFrom} AND ${StatsRead.CountTo}
         |GROUP BY lang, source""".stripMargin,
    "s22_targeted_delete_vol" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE NOT (doc_id % $VolKeyStride = 0 AND doc_id < $VolKeyMax)
         |GROUP BY lang, source""".stripMargin,
    // delete-by-hash must land the same survivors a row-level delete would:
    // DuckDB recomputes the same md5 keys
    "s22_targeted_delete_bloom" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE md5(CAST(doc_id AS VARCHAR)) NOT IN
         |  (${BloomDeleteIds.map(i => s"md5('$i')").mkString(", ")})
         |GROUP BY lang, source""".stripMargin)
}
