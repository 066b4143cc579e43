package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.Compaction
import graft.sinks.TargetedDelete.KeySet

/** Pins the three compaction claims the driver's hash row can't see: the
  * size-target bin-packing actually bounds per-directory file counts, the
  * rewrite is SELECTIVE (a second round touches only the re-fragmented
  * partition), and untouched directories survive byte-identical — the
  * dynamic-overwrite contract that makes maintenance safe to run while
  * other partitions serve reads. */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)
  private val sf = "/root/testdata/sf0.01"

  private def fileSig(path: String): Map[String, Set[(String, Long)]] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(path)).filter(_.isDirectory).map { d =>
      d.getPath.getName -> fs.listStatus(d.getPath)
        .filter(_.getPath.getName.startsWith("part-"))
        .map(f => (f.getPath.getName, f.getLen)).toSet
    }.toMap
  }

  test("size-target bin-packing bounds per-directory file counts") {
    val path = Compaction.fragmentWrite(spark, sf)
    val before = Compaction.partitionStats(spark, path)
    assert(before.values.forall(_._1 == Compaction.FragmentFiles),
      "fragmented state must hold FragmentFiles files per directory")
    // tiny target → multi-file bins, still far below the fragment count
    val target = 16L * 1024
    val affected = Compaction.compact(spark, path, target)
    assert(affected.toSet == before.keySet, "every fragmented dir must compact")
    val after = Compaction.partitionStats(spark, path)
    after.foreach { case (p, (files, bytes)) =>
      val goal = math.max(1L, (bytes + target - 1) / target)
      assert(files <= goal && files < Compaction.FragmentFiles,
        s"$p: $files files vs goal $goal")
    }
  }

  test("second round rewrites only the re-fragmented partition; others survive byte-identical") {
    val path = Compaction.fragmentWrite(spark, sf)
    assert(Compaction.compact(spark, path).nonEmpty) // settle: 1 file per dir
    val settled = fileSig(path)
    assert(settled.values.forall(_.size == 1))
    val total0 = spark.read.parquet(path).count()
    val clickRows = spark.read.parquet(path)
      .filter(col("event_type") === "click").count()

    // an incremental writer re-fragments ONE partition
    Tables.events(spark, sf).filter(col("event_type") === "click")
      .repartition(8)
      .write.mode("append").partitionBy("event_type").parquet(path)
    assert(fileSig(path)("event_type=click").size == 9)

    val affected = Compaction.compact(spark, path)
    assert(affected == Seq("click"), s"selective rewrite violated: $affected")
    val after = fileSig(path)
    assert(after("event_type=click").size == 1, "click must re-settle to one file")
    settled.filterNot(_._1 == "event_type=click").foreach { case (dir, sig) =>
      assert(after(dir) == sig, s"$dir was touched by a compaction it wasn't part of")
    }
    // nothing lost, nothing duplicated beyond the deliberate append
    assert(spark.read.parquet(path).count() == total0 + clickRows)
  }

  test("versioned OPTIMIZE: links big files by inode, coalesces small, keeps the stats index alive") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    import graft.sinks.{AtomicTable, TargetedDelete}
    def fileKey(p: Path): AnyRef =
      Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    def parts(dir: Path): Seq[Path] = {
      val st = Files.list(dir)
      try st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally st.close()
    }
    def deleteAll(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val it = Files.list(p)
        try it.iterator().asScala.toSeq.foreach(deleteAll) finally it.close()
      }
      Files.deleteIfExists(p)
    }
    val root = "spark-warehouse/test_s18_versioned"
    deleteAll(Paths.get(root))
    // mixed layout: one BIG id-clustered file (ids 0..99999) + 12 small ones
    val big = spark.range(100000L).select(col("id"), lit("big").as("tag")).coalesce(1)
    val small = spark.range(100000L, 101200L)
      .select(col("id"), lit("small").as("tag")).repartition(12)
    // hand-assemble v1 with the mixed layout: one big + 12 small part files
    Files.createDirectories(Paths.get(root, "v1"))
    big.write.mode("overwrite").parquet(s"$root/.tmp_big")
    small.write.mode("overwrite").parquet(s"$root/.tmp_small")
    (parts(Paths.get(root, ".tmp_big")) ++ parts(Paths.get(root, ".tmp_small")))
      .zipWithIndex.foreach { case (f, i) =>
        Files.move(f, Paths.get(root, "v1", f"part-$i%05d.parquet")) }
    deleteAll(Paths.get(root, ".tmp_big"))
    deleteAll(Paths.get(root, ".tmp_small"))
    AtomicTable.publish(root, "v1")
    TargetedDelete.indexKeyStats(spark, root, "id")
    val bigFile = parts(Paths.get(root, "v1")).maxBy(Files.size(_))
    val bigKey = fileKey(bigFile)
    val nBefore = AtomicTable.read(spark, root).count()

    // threshold chosen so ONLY the 12 tiny files coalesce (big == target is
    // not < target/2), and so the post-delete big REWRITE (marginally
    // smaller than big) still clears target/2 — keeping the later
    // idempotence call a true no-op
    val target = Files.size(bigFile)
    val stats = Compaction.compactVersion(spark, root, target, statsCol = Some("id"))
    assert(stats.version == "v2", stats.toString)
    assert(stats.coalescedInputs == 12 && stats.outputFiles < 12 && stats.linkedFiles == 1,
      stats.toString)
    // the big file traveled by inode, not copy
    val v2big = Paths.get(root, "v2", bigFile.getFileName.toString)
    assert(Files.exists(v2big) && fileKey(v2big) == bigKey, "big file was copied, not linked")
    // nothing lost, nothing duplicated
    assert(AtomicTable.read(spark, root).count() == nBefore)
    // stats lifecycle: a delete on the compacted version reads ZERO footers
    val d = TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(5L, 100050L)))
    assert(d.footerReads == 0, s"compaction degraded the stats index: $d")
    assert(AtomicTable.read(spark, root).count() == nBefore - 2)
    // idempotence: an already-optimal version does not churn a new version,
    // and its stats row says NOTHING HAPPENED (noOp, zero links) — an audit
    // consumer must distinguish a no-op pass from a real all-link compaction
    val again = Compaction.compactVersion(spark, root, target, statsCol = Some("id"))
    assert(again.version == d.version && again.outputFiles == 0,
      s"no-op compaction churned a version: $again")
    assert(again.noOp && again.linkedFiles == 0,
      s"no-op pass misreported as real work: $again")
  }

  // ---- overlap-aware recluster ----

  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._
  import graft.sinks.{AtomicTable, KeyStats}

  private def fileKey(p: Path): AnyRef =
    Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  private def rmAll(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(rmAll) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def hullsOf(liveDir: Path, keyCol: String): Seq[(String, Long, Long)] =
    KeyStats.loadStats(liveDir)
      .collect { case ((f, c), r) if c == keyCol => (f, r.min.toLong, r.max.toLong) }
      .toSeq.sortBy(_._2)

  test("recluster: rewrites only overlapping components, links the rest, restores disjoint hulls") {
    val root = "spark-warehouse/cmp_recluster"
    rmAll(Paths.get(root))
    val base = spark.range(8000L).select(col("id"), (col("id") * 3L).as("v"))
    val low = base.filter(col("id") < 2000L)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    val hiA = base.filter(col("id") >= 2000L && col("id") % 2 === 0)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    val hiB = base.filter(col("id") >= 2000L && col("id") % 2 === 1)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    AtomicTable.commit(low.unionAll(hiA).unionAll(hiB), root, statsCols = Seq("id"))
    val prev = AtomicTable.currentVersion(root).get
    val st = Compaction.reclusterVersion(spark, root, "id")
    assert(!st.noOp && st.footerReads == 0 && st.overlapGroups >= 1 &&
      st.linkedFiles >= 4 && st.rewrittenFiles >= 2,
      s"recluster did not engage as expected: $st")
    // hulls pairwise disjoint afterwards
    val hulls = hullsOf(Paths.get(root, st.version), "id")
    hulls.sliding(2).foreach {
      case Seq((_, _, maxA), (_, minB, _)) => assert(minB > maxA,
        s"overlap survived recluster: $hulls")
      case _ => ()
    }
    // linked by inode; content identical
    val prevDir = Paths.get(root, prev); val liveDir = Paths.get(root, st.version)
    val carried = Files.list(liveDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .filter(p => Files.exists(prevDir.resolve(p.getFileName.toString))).toSeq
    assert(carried.size == st.linkedFiles)
    carried.foreach(p => assert(
      fileKey(p) == fileKey(prevDir.resolve(p.getFileName.toString)),
      s"linked file ${p.getFileName} was copied"))
    assert(AtomicTable.read(spark, root).agg(sum(col("v"))).head.getLong(0) ==
      base.agg(sum(col("v"))).head.getLong(0))
    // idempotence: disjoint layout → noOp, no version churn
    val again = Compaction.reclusterVersion(spark, root, "id")
    assert(again.noOp && again.version == st.version,
      s"no-op recluster churned a version: $again")
  }

  test("recluster/compact rebuild EVERY indexed column's stats on fresh files, not just the key") {
    val root = "spark-warehouse/cmp_allcols"
    rmAll(Paths.get(root))
    val base = spark.range(6000L).select(col("id"), (col("id") * 3L).as("v"))
    val a = base.filter(col("id") % 2 === 0)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    val b = base.filter(col("id") % 2 === 1)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    AtomicTable.commit(a.unionAll(b), root, statsCols = Seq("id", "v"))
    val st = Compaction.reclusterVersion(spark, root, "id")
    assert(!st.noOp && st.rewrittenFiles >= 2, st.toString)
    // every live file carries BOTH columns' rows — a box read over (id, v)
    // still plans from the sidecar with zero footer reads
    val (_, rs) = graft.sinks.StatsRead.read(spark, root, Seq(
      "id" -> graft.sinks.TargetedDelete.LongRange(100L, 200L),
      "v" -> graft.sinks.TargetedDelete.LongRange(300L, 600L)))
    assert(rs.footerReads == 0,
      s"recluster degraded the second column to footer fallback: $rs")
    // same contract through the delete path
    graft.sinks.TargetedDelete.delete(spark, root, "id",
      graft.sinks.TargetedDelete.LongRange(500L, 600L))
    val (_, rs2) = graft.sinks.StatsRead.read(spark, root, Seq(
      "id" -> graft.sinks.TargetedDelete.LongRange(100L, 200L),
      "v" -> graft.sinks.TargetedDelete.LongRange(300L, 600L)))
    assert(rs2.footerReads == 0,
      s"delete degraded the second column to footer fallback: $rs2")
  }

  test("recluster tolerates 0-row files (kind=none stats): drops them, never throws") {
    val root = "spark-warehouse/cmp_recluster_empty"
    rmAll(Paths.get(root))
    val base = spark.range(2000L).select(col("id"), (col("id") * 3L).as("v"))
    val a = base.filter(col("id") % 2 === 0)
      .repartitionByRange(3, col("id")).sortWithinPartitions(col("id"))
    val b = base.filter(col("id") % 2 === 1)
      .repartitionByRange(3, col("id")).sortWithinPartitions(col("id"))
    // a 0-row schema-bearing part file — the shape a drop-all delete or an
    // all-deleting merge batch legitimately leaves behind
    val empty = base.where(lit(false)).repartition(1)
    AtomicTable.commit(a.unionAll(b).unionAll(empty), root, statsCols = Seq("id"))
    val st = Compaction.reclusterVersion(spark, root, "id")
    assert(!st.noOp && st.rewrittenFiles >= 2,
      s"recluster dead-ended on the empty file: $st")
    // the empty file was dropped, the data is intact, hulls disjoint
    val liveDir = Paths.get(root, st.version)
    assert(AtomicTable.read(spark, root).count() == 2000L)
    val hulls = hullsOf(liveDir, "id")
    hulls.sliding(2).foreach {
      case Seq((_, _, maxA), (_, minB, _)) => assert(minB > maxA, hulls.toString)
      case _ => ()
    }
  }

  test("recluster: string-keyed overlap heals under UTF-8 byte order") {
    val root = "spark-warehouse/cmp_recluster_str"
    rmAll(Paths.get(root))
    val base = spark.range(4000L)
      .select(format_string("k%05d", col("id")).as("k"), col("id").as("v"))
    val a = base.filter(col("v") % 2 === 0)
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    val b = base.filter(col("v") % 2 === 1)
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    AtomicTable.commit(a.unionAll(b), root, statsCols = Seq("k"))
    val st = Compaction.reclusterVersion(spark, root, "k")
    assert(!st.noOp && st.footerReads == 0 && st.rewrittenFiles >= 2,
      s"string recluster did not engage: $st")
    val live = Paths.get(root, st.version)
    val hulls = KeyStats.loadStats(live)
      .collect { case ((f, c), r) if c == "k" => (f, r.min, r.max) }
      .toSeq.sortBy(_._2)(KeyStats.Utf8Order)
    hulls.sliding(2).foreach {
      case Seq((_, _, maxA), (_, minB, _)) =>
        assert(KeyStats.Utf8Order.compare(minB, maxA) > 0,
          s"string overlap survived: $hulls")
      case _ => ()
    }
    assert(AtomicTable.read(spark, root).count() == 4000L)
  }
}
