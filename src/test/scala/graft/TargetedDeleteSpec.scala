package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, TargetedDelete}
import graft.sinks.TargetedDelete.{KeySet, LongRange}

/** The file-level contracts of the S22 targeted delete that the hash gate
  * cannot see: footer pruning actually engages (rewritten ⊂ all files),
  * untouched files are REUSED by inode (hard link, not copy), the prior
  * version still serves the deleted rows (time travel), and version pruning
  * under links never corrupts the live version. */
class TargetedDeleteSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def fileKey(p: Path): AnyRef =
    Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  private def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)

  private def deleteAll(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(deleteAll) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def buildTable(root: String, n: Long): Unit = {
    deleteAll(Paths.get(root))
    val df = spark.range(n).select(col("id"),
      (col("id") % 7).as("grp"), concat(lit("row"), col("id")).as("payload"))
    AtomicTable.commit(
      df.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")), root)
  }

  test("clustered delete rewrites only intersecting files; the rest are hard-linked") {
    val root = "spark-warehouse/test_s22_clustered"
    buildTable(root, 8000)
    val v1files = partFiles(Paths.get(root, "v1")).map(p => p.getFileName.toString -> fileKey(p)).toMap
    // one contiguous block: on the range-partitioned layout it lives in 1-2 files
    val stats = TargetedDelete.delete(spark, root, "id", KeySet.longs(100L to 250L))
    assert(stats.version == "v2")
    assert(stats.rewrittenFiles >= 1 && stats.rewrittenFiles <= 2,
      s"expected the clustered block to touch 1-2 of 8 files, got ${stats.rewrittenFiles}")
    assert(stats.reusedFiles == stats.totalFiles - stats.rewrittenFiles)
    // reused = SAME inode as v1's file of the same name
    val v2 = Paths.get(root, "v2")
    val linked = partFiles(v2).filter(p => v1files.contains(p.getFileName.toString))
    assert(linked.size == stats.reusedFiles)
    linked.foreach { p =>
      assert(fileKey(p) == v1files(p.getFileName.toString),
        s"${p.getFileName} should be a hard link to the v1 inode") }
    // row-level contract: deleted gone, survivors byte-identical
    val live = spark.read.parquet(s"$root/v2")
    assert(live.filter(col("id").between(100, 250)).count() == 0)
    assert(live.count() == 8000 - 151)
    val wantSum = (0L until 8000L).filterNot(i => i >= 100 && i <= 250).sum
    assert(live.agg(sum(col("id"))).head.getLong(0) == wantSum)
    // time travel: the PRIOR version still serves the deleted rows
    val prev = AtomicTable.readVersion(spark, root, "v1")
    assert(prev.filter(col("id").between(100, 250)).count() == 151)
    // the commit mode changes the protocol, not the outcome: restore v1 on
    // the same table and run the same delete under Writer.Occ — the same
    // surviving rows and the same audit row, apart from the version name
    def liveRows() = AtomicTable.read(spark, root).orderBy(col("id")).collect().toSeq
    val singleRows = liveRows()
    AtomicTable.restoreVersion(root, "v1")
    val occ = TargetedDelete.delete(spark, root, "id", KeySet.longs(100L to 250L),
      AtomicTable.Writer.Occ())
    assert(occ.version == "v4")
    assert(occ.copy(version = stats.version) == stats)
    assert(liveRows() == singleRows)
  }

  test("KeySet constructors drop nulls, dedupe and sort in stats order") {
    val astral = new String(Character.toChars(0x1F600)) // 4 UTF-8 bytes
    val ks = KeySet.strings(Seq("b", null, "\uFFFF", astral, "a", "b", null, astral))
    // UTF-8 byte order puts the astral key above U+FFFF (UTF-16 order would not)
    assert(ks.sorted.toSeq == Seq("a", "b", "\uFFFF", astral))
    assert(KeySet.longs(Seq(3L, -1L, 3L, 2L)).sorted.toSeq == Seq(-1L, 2L, 3L))
  }

  test("scattered delete degenerates to full rewrite, still correct") {
    val root = "spark-warehouse/test_s22_scattered"
    buildTable(root, 4000)
    // one key per ACTUAL file (its min id): every footer intersects
    val keys = partFiles(Paths.get(root, "v1")).map { f =>
      spark.read.parquet(f.toString).agg(min(col("id"))).head.getLong(0) }
    val stats = TargetedDelete.delete(spark, root, "id", KeySet.longs(keys))
    assert(stats.rewrittenFiles == stats.totalFiles && stats.reusedFiles == 0)
    val live = spark.read.parquet(s"$root/${AtomicTable.currentVersion(root).get}")
    assert(live.count() == 4000 - keys.size)
    assert(live.filter(col("id").isin(keys.map(Long.box): _*)).count() == 0)
  }

  test("NULL keys are never deleted (isin's three-valued logic)") {
    import spark.implicits._
    val root = "spark-warehouse/test_s22_nullkeys"
    deleteAll(Paths.get(root))
    // 50 NULL-key rows interleaved with real keys; footers with nulls are
    // conservative-intersecting, so every file rewrites — NOT(NULL IN set)
    // is NULL and an unguarded filter would silently drop all 50
    val rows = (0L until 200L).map(i =>
      (if (i % 4 == 3) Option.empty[Long] else Option(i), s"p$i"))
    AtomicTable.commit(rows.toDF("id", "payload").repartition(4), root)
    val stats = TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(8L, 16L)))
    val live = spark.read.parquet(s"$root/${stats.version}")
    assert(live.filter(col("id").isNull).count() == 50L,
      "NULL-key rows were lost by the delete rewrite")
    assert(live.filter(col("id").isin(8L, 16L)).count() == 0)
    assert(live.count() == 200L - 2L)
  }

  test("string-keyed clustered delete prunes by decoded UTF-8 footer stats") {
    import spark.implicits._
    val root = "spark-warehouse/test_s22_stringkeys"
    deleteAll(Paths.get(root))
    // zero-padded doc hashes: lexicographic order == numeric order, so the
    // range-partitioned layout clusters a contiguous block into 1-2 files
    val df = spark.range(8000).select(
      format_string("doc%05d", col("id")).as("doc_id"),
      (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(8, col("doc_id")).sortWithinPartitions(col("doc_id")), root)
    val keys = (1000L to 1150L).map(i => f"doc$i%05d")
    val stats = TargetedDelete.deleteStringKeys(spark, root, "doc_id", keys)
    assert(stats.rewrittenFiles >= 1 && stats.rewrittenFiles <= 2,
      s"string footer stats did not prune: rewrote ${stats.rewrittenFiles} of ${stats.totalFiles}")
    assert(stats.reusedFiles == stats.totalFiles - stats.rewrittenFiles)
    val live = spark.read.parquet(s"$root/${stats.version}")
    assert(live.count() == 8000 - 151)
    assert(live.filter(col("doc_id").isin(keys: _*)).count() == 0)
  }

  test("supplementary-plane string keys prune under UTF-8 byte order, not UTF-16 code units") {
    import spark.implicits._
    // parquet computes BINARY stats in unsigned UTF-8 byte order, where
    // U+FFFF (EF BF BF) < U+1F600 (F0 9F 98 80); Java's String order says
    // the opposite (0xFFFF > 0xD83D surrogate). Under the buggy UTF-16
    // comparison this file's stats range [￿, U+1F600] excludes the key
    // ￿ — its own minimum — and the delete silently keeps the row.
    val root = "spark-warehouse/test_s22_astral"
    deleteAll(Paths.get(root))
    val rows = Seq(("￿", 1L), ("😀", 2L), ("😀zz", 3L))
    AtomicTable.commit(rows.toDF("doc_id", "payload").coalesce(1), root)
    val stats = TargetedDelete.deleteStringKeys(spark, root, "doc_id", Seq("￿"))
    assert(stats.rewrittenFiles == 1,
      s"footer stats judged the key's own file disjoint: $stats")
    val live = spark.read.parquet(s"$root/${stats.version}").collect()
      .map(_.getString(0)).toSet
    assert(live == Set("😀", "😀zz"),
      s"UTF-16 ordering kept the deleted row: $live")
    // the sidecar path merges per-block stats under the SAME order
    TargetedDelete.indexKeyStats(spark, root, Seq("doc_id"))
    val stats2 = TargetedDelete.deleteStringKeys(spark, root, "doc_id",
      Seq("😀zz"))
    assert(stats2.footerReads == 0 && stats2.rewrittenFiles == 1, stats2.toString)
    assert(spark.read.parquet(s"$root/${stats2.version}").count() == 1)
  }

  test("past the threshold the footer pruning runs as a Spark job, same verdicts") {
    val root = "spark-warehouse/test_s22_manyfiles"
    deleteAll(Paths.get(root))
    val df = spark.range(12000).select(col("id"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(24, col("id")).sortWithinPartitions(col("id")), root)
    val nFiles = partFiles(Paths.get(root, "v1")).size
    assert(nFiles > TargetedDelete.ParallelFooterThreshold,
      s"fixture must exceed the parallel threshold, got $nFiles files")
    val stats = TargetedDelete.delete(spark, root, "id", KeySet.longs(100L to 250L))
    assert(stats.totalFiles == nFiles)
    assert(stats.rewrittenFiles <= 2,
      s"parallel pruning lost selectivity: rewrote ${stats.rewrittenFiles}")
    val live = spark.read.parquet(s"$root/${stats.version}")
    assert(live.count() == 12000 - 151)
    assert(live.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 12000L).sum - (100L to 250L).sum)
  }

  test("a key set past IsinKeyThreshold routes through the anti join, NULLs kept") {
    import spark.implicits._
    val root = "spark-warehouse/test_s22_bigkeyset"
    deleteAll(Paths.get(root))
    val rows = (0L until 6000L).map(i =>
      (if (i % 10 == 9) Option.empty[Long] else Option(i), s"p$i"))
    AtomicTable.commit(rows.toDF("id", "payload").repartition(4), root)
    val keys = (0L until 6000L).filter(_ % 4 == 0)  // 1500 > threshold
    assert(keys.size > TargetedDelete.IsinKeyThreshold)
    val stats = TargetedDelete.delete(spark, root, "id", KeySet.longs(keys))
    val live = spark.read.parquet(s"$root/${stats.version}")
    val nNull = rows.count(_._1.isEmpty)
    assert(live.filter(col("id").isNull).count() == nNull,
      "anti join dropped NULL-key rows")
    // deleted = non-null keys %4==0 that actually existed as rows
    val deleted = (0L until 6000L).count(i => i % 4 == 0 && i % 10 != 9)
    assert(live.count() == 6000L - deleted)
    assert(live.filter(col("id").isNotNull && col("id") % 4 === 0).count() == 0)
  }

  test("OCC delete raced against a concurrent mergeCommit lands BOTH effects") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val root = "spark-warehouse/test_s22_occ_race"
    deleteAll(Paths.get(root))
    val base = spark.range(4000).select(col("id"), lit("base").as("src"))
    AtomicTable.mergeCommit(spark, root)(_ => base)
    val newRows = (100000L until 100200L).map(i => (i, "merged")).toDF("id", "src")
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val fDel = pool.submit(new java.util.concurrent.Callable[TargetedDelete.DeleteStats] {
      def call() = { gate.await();
        TargetedDelete.delete(spark, root, "id", KeySet.longs(100L to 250L),
          AtomicTable.Writer.Occ()) }
    })
    val fMerge = pool.submit(new java.util.concurrent.Callable[String] {
      def call() = { gate.await();
        AtomicTable.mergeCommit(spark, root, pruneAgeMs = 0L)(live =>
          live.get.unionByName(newRows)) }
    })
    gate.countDown()
    val delStats = fDel.get(120, TimeUnit.SECONDS)
    val mergeV = fMerge.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    assert(Set(delStats.version, mergeV) == Set("v2", "v3"),
      s"expected the two writers to claim v2 and v3, got $delStats / $mergeV")
    val live = AtomicTable.read(spark, root)
    assert(live.filter(col("id").between(100, 250)).count() == 0,
      "the delete's effect was lost in the race")
    assert(live.filter(col("src") === "merged").count() == 200,
      "the merge's effect was lost in the race")
    assert(live.count() == 4000 - 151 + 200)
    // no abandoned stage dirs from the losing attempt
    val stages = Files.list(Paths.get(root)).iterator().asScala
      .count(_.getFileName.toString.startsWith(".stage"))
    assert(stages == 0, s"$stages stage dirs leaked")
  }

  test("indexed delete prunes from the _KEYSTATS sidecar with zero footer reads, and the index self-maintains") {
    val root = "spark-warehouse/test_s22_stats"
    buildTable(root, 8000)
    // un-indexed first delete: every pruning decision is a footer read,
    // but the OUTPUT version's sidecar is written (reused rows carried,
    // fresh rewrite rows computed)
    val d1 = TargetedDelete.delete(spark, root, "id", KeySet.longs(100L to 250L))
    assert(d1.footerReads == d1.totalFiles,
      s"un-indexed delete should footer-read every file, read ${d1.footerReads}")
    assert(Files.exists(Paths.get(root, d1.version, TargetedDelete.StatsFile)))
    // second delete on the self-maintained index: ZERO footer reads, same
    // clustered selectivity
    val d2 = TargetedDelete.delete(spark, root, "id", KeySet.longs(4000L to 4150L))
    assert(d2.footerReads == 0,
      s"sidecar-indexed delete read ${d2.footerReads} footers")
    assert(d2.rewrittenFiles >= 1 && d2.rewrittenFiles <= 2)
    val live = spark.read.parquet(s"$root/${d2.version}")
    assert(live.count() == 8000 - 151 - 151)
    assert(live.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 8000L).sum - (100L to 250L).sum - (4000L to 4150L).sum)
    // explicit indexing on a fresh table gives the zero-read path up front
    val root2 = "spark-warehouse/test_s22_stats2"
    buildTable(root2, 4000)
    assert(TargetedDelete.indexKeyStats(spark, root2, Seq("id")) == 8)
    assert(TargetedDelete.indexKeyStats(spark, root2, Seq("id")) == 0) // idempotent
    val d3 = TargetedDelete.delete(spark, root2, "id", KeySet.longs(100L to 200L))
    assert(d3.footerReads == 0 && d3.rewrittenFiles <= 2)
    assert(spark.read.parquet(s"$root2/${d3.version}").count() == 4000 - 101)
    // every producer path can emit indexed versions: plain commit and
    // streaming commitBatch with statsCols both feed a zero-read delete
    val root3 = "spark-warehouse/test_s22_stats3"
    deleteAll(Paths.get(root3))
    val df3 = spark.range(4000).select(col("id"), (col("id") % 7).as("grp"))
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
    AtomicTable.commit(df3, root3, statsCols = Seq("id"))
    val d4 = TargetedDelete.delete(spark, root3, "id", KeySet.longs(100L to 200L))
    assert(d4.footerReads == 0, s"commit(statsCols) did not index: $d4")
    assert(AtomicTable.commitBatch(df3, root3, "app", 1L, statsCols = Seq("id")))
    val d5 = TargetedDelete.delete(spark, root3, "id", KeySet.longs(300L to 400L))
    assert(d5.footerReads == 0, s"commitBatch(statsCols) did not index: $d5")
  }

  test("a bare orphan v{N+1} from a crashed delete is overwritten, stage cleaned") {
    val root = "spark-warehouse/test_s22_orphan"
    buildTable(root, 2000)
    // simulate a crash between the stage rename and publish: v2 exists on
    // disk (incomplete junk), the manifest still names v1
    val orphan = Paths.get(root, "v2")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
    val stats = TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(5L, 6L)))
    assert(stats.version == "v2")
    val live = spark.read.parquet(s"$root/v2")
    assert(live.count() == 1998 && live.filter(col("id").isin(5L, 6L)).count() == 0)
    val stages = Files.list(Paths.get(root)).iterator().asScala
      .count(_.getFileName.toString.startsWith(".stage"))
    assert(stages == 0, s"$stages stage dirs leaked")
  }

  test("a COMPLETE orphan claim (with the commit marker) is adopted, never destroyed") {
    val root = "spark-warehouse/test_s22_adopt"
    buildTable(root, 2000)
    // an occCommit writer died between its CAS rename and its manifest flip:
    // v2 exists, COMPLETE (marker present, real data), manifest names v1.
    // The old single-writer path deleted it unconditionally — silent loss of
    // the claim's 100 extra rows (r16 advice). Now: adopt + rebase on it.
    val claim = Paths.get(root, "v2")
    val extra = spark.range(100000L, 100100L)
      .select(col("id"), (col("id") % 7).as("grp"),
        concat(lit("row"), col("id")).as("payload"))
    spark.read.parquet(s"$root/v1").unionByName(extra)
      .write.mode("overwrite").parquet(claim.toString)
    Files.write(claim.resolve("_GRAFT_COMMITTED"), Array.emptyByteArray)
    val stats = TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(5L, 6L)))
    assert(stats.version == "v3",
      s"delete must rebase ON TOP of the adopted claim, got ${stats.version}")
    val live = AtomicTable.read(spark, root)
    assert(live.filter(col("id") >= 100000L).count() == 100,
      "the complete claim's rows were destroyed by the delete")
    assert(live.filter(col("id").isin(5L, 6L)).count() == 0)
    assert(live.count() == 2000 + 100 - 2)
  }

  test("a partitioned (subdirectory) version layout fails loudly instead of staging empty") {
    val root = "spark-warehouse/test_s22_flatguard"
    buildTable(root, 1000)
    // plant a partition-style subdirectory inside the live version: partFiles
    // would see only top-level parquet and a silent pass would publish a
    // version missing the subdirectory's data
    val sub = Paths.get(root, "v1", "grp=1")
    Files.createDirectories(sub)
    spark.range(10).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(sub.resolve("inner").toString)
    val before = AtomicTable.currentVersion(root)
    val e1 = intercept[IllegalStateException] {
      TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(5L)))
    }
    assert(e1.getMessage.contains("FLAT version layout"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      graft.sinks.Compaction.compactVersion(spark, root, 1L << 20)
    }
    assert(e2.getMessage.contains("FLAT version layout"), e2.getMessage)
    val e3 = intercept[IllegalStateException] {
      graft.sinks.StatsRead.read(spark, root, Seq("id" -> LongRange(0L, 10L)))
    }
    assert(e3.getMessage.contains("FLAT version layout"), e3.getMessage)
    assert(AtomicTable.currentVersion(root) == before,
      "a refused pass must not have published anything")
  }

  test("pruning old versions unlinks names, never the live version's inodes") {
    val root = "spark-warehouse/test_s22_prune"
    buildTable(root, 4000)
    TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(10L))) // v2 (links most of v1)
    TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(20L))) // v3 (links most of v2)
    TargetedDelete.delete(spark, root, "id", KeySet.longs(Seq(30L))) // v4 -> v1, v2 pruned
    assert(!Files.exists(Paths.get(root, "v1")) && !Files.exists(Paths.get(root, "v2")))
    val live = spark.read.parquet(s"$root/${AtomicTable.currentVersion(root).get}")
    assert(live.count() == 4000 - 3)
    assert(live.filter(col("id").isin(10L, 20L, 30L)).count() == 0)
    assert(live.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 4000L).sum - 10L - 20L - 30L)
  }

  test("bloom sidecar prunes a delete-by-hash that min/max cannot") {
    import graft.sinks.KeyBloom
    val root = "spark-warehouse/tds_bloom"
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val it = Files.list(p)
        try it.iterator().asScala.toSeq.foreach(rm) finally it.close()
      }
      Files.deleteIfExists(p)
    }
    rm(Paths.get(root)); rm(Paths.get(root + "_b"))
    def build(r: String): Unit = AtomicTable.commit(
      spark.range(4000L).select(md5(col("id").cast("string")).as("h"),
        col("id").as("v")).repartitionByRange(16, col("v")),
      r, statsCols = Seq("h"))
    val delKeys = Seq(17L, 1234L, 3999L).map(i =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString))
    // control: no bloom → stats rewrite ~everything, bloomSkipped 0
    build(root)
    val s0 = TargetedDelete.deleteStringKeys(spark, root, "h", delKeys)
    assert(s0.bloomSkipped == 0 && s0.rewrittenFiles >= s0.totalFiles - 2,
      s"premise broken: min/max pruned a scattered hash: $s0")
    // bloom indexed → same delete links almost everything
    build(root + "_b")
    KeyBloom.indexKeyBloom(spark, root + "_b", Seq("h"), KeyBloom.bitsFor(4000L / 16 + 1))
    val s1 = TargetedDelete.deleteStringKeys(spark, root + "_b", "h", delKeys)
    assert(s1.footerReads == 0 && s1.bloomSkipped >= 1 &&
      s1.rewrittenFiles <= 5 && s1.reusedFiles >= s1.totalFiles - 5,
      s"bloom-pruned delete did not engage: $s1")
    // identical survivors both ways
    def state(r: String) = AtomicTable.read(spark, r).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSet
    assert(state(root) == state(root + "_b"))
    assert(AtomicTable.read(spark, root + "_b").count() == 3997L)
    // a range KeySet never bloom-probes (unbounded keys): conservative path
    val s2 = TargetedDelete.delete(spark, root + "_b", "v", LongRange(100L, 120L))
    assert(s2.bloomSkipped == 0, s"range delete must not claim bloom prunes: $s2")
  }
}
