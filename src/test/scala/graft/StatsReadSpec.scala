package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, BloomManifest, KeyBloom, KeyStats, KeyedMerge,
  StatsRead, TargetedDelete}
import graft.sinks.TargetedDelete.{KeySet, LongRange, StringPrefix, StringRange}

/** The read-path data-skipping contracts the driver's hash gate can't see:
  * a stats-pruned read plans a strict SUBSET of the live files yet returns
  * row-for-row the same result as filtering a full scan, the fully-pruned
  * case never constructs a data scan, the indexed path needs zero footer
  * reads, and multi-column indexing opens each footer exactly ONCE. */
class StatsReadSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def deleteAll(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(deleteAll) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def buildTable(root: String, n: Long, statsCols: Seq[String] = Nil): Unit = {
    deleteAll(Paths.get(root))
    val df = spark.range(n).select(col("id"),
      (col("id") % 7).as("grp"), concat(lit("row"), col("id")).as("payload"))
    AtomicTable.commit(
      df.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = statsCols)
  }

  test("range read plans a strict subset with row parity against the full scan") {
    val root = "spark-warehouse/test_s16_range"
    buildTable(root, 8000, statsCols = Seq("id"))
    val (df, rs) = StatsRead.read(spark, root, Seq("id" -> LongRange(1000L, 1200L)))
    assert(rs.footerReads == 0, s"indexed read should not open footers: $rs")
    assert(rs.filesRead >= 1 && rs.filesRead <= 2,
      s"clustered range should plan 1-2 of ${rs.totalFiles} files: $rs")
    // row parity: pruned-scan result == full-scan filter, exactly
    val full = AtomicTable.read(spark, root)
      .filter(col("id").between(1000L, 1200L))
    assert(df.count() == 201 && full.count() == 201)
    assert(df.exceptAll(full).isEmpty && full.exceptAll(df).isEmpty,
      "stats pruning changed the result set")
    // the two prunings COMPOSE: the row-level range predicate must reach
    // the parquet reader of the already-file-pruned scan (row-group stats).
    // A read this small is served on the driver without a scan, so the
    // scan is read where the driver-read gate is off.
    val (scan, _) = PlanTestUtils.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")(
      StatsRead.read(spark, root, Seq("id" -> LongRange(1000L, 1200L))))
    val pushed = scan.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(id,1000)") &&
      pushed.contains("LessThanOrEqual(id,1200)"),
      s"range predicate not pushed into the pruned scan: $pushed")
  }

  test("a range no file can contain returns empty without a data scan, schema intact") {
    val root = "spark-warehouse/test_s16_empty"
    buildTable(root, 2000, statsCols = Seq("id"))
    val (df, rs) = StatsRead.read(spark, root, Seq("id" -> LongRange(500000L, 600000L)))
    assert(rs.filesRead == 0 && rs.footerReads == 0, rs.toString)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "grp", "payload"),
      "empty read must keep the table schema")
  }

  test("unindexed table falls back to footer reads, then the sidecar serves the next read") {
    val root = "spark-warehouse/test_s16_fallback"
    buildTable(root, 4000)
    val (df, rs) = StatsRead.read(spark, root, Seq("id" -> KeySet.longs(Seq(50L, 60L, 3999L))))
    assert(rs.footerReads == rs.totalFiles,
      s"unindexed read should footer-read every file: $rs")
    // 50/60 share the head file(s) unless a sampled range boundary falls
    // between them; 3999 is the tail file — 2 normally, 3 at most
    assert(rs.filesRead >= 2 && rs.filesRead <= 3,
      s"two clustered points + one tail point: $rs")
    assert(df.count() == 3)
    // explicit index → second read is zero-footer
    TargetedDelete.indexKeyStats(spark, root, Seq("id"))
    val (_, rs2) = StatsRead.read(spark, root, Seq("id" -> KeySet.longs(Seq(50L, 60L, 3999L))))
    assert(rs2.footerReads == 0, rs2.toString)
  }

  test("a key set past IsinKeyThreshold routes through the broadcast semi join, same rows") {
    val root = "spark-warehouse/test_s16_bigset"
    buildTable(root, 6000, statsCols = Seq("id"))
    val keys = (0L until 6000L).filter(_ % 4 == 0) // 1500 > threshold
    assert(keys.size > TargetedDelete.IsinKeyThreshold)
    val (df, rs) = StatsRead.read(spark, root, Seq("id" -> KeySet.longs(keys)))
    assert(rs.footerReads == 0)
    assert(df.count() == keys.size)
    assert(df.filter(col("id") % 4 =!= 0).count() == 0)
  }

  test("string-keyed read prunes under UTF-8 stats order with row parity") {
    import spark.implicits._
    val root = "spark-warehouse/test_s16_string"
    deleteAll(Paths.get(root))
    val df = spark.range(4000).select(
      format_string("doc%05d", col("id")).as("doc_id"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(8, col("doc_id")).sortWithinPartitions(col("doc_id")),
      root, statsCols = Seq("doc_id"))
    val keys = (1000L to 1050L).map(i => f"doc$i%05d")
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "doc_id", keys)
    assert(rs.footerReads == 0 && rs.filesRead <= 2, rs.toString)
    assert(out.count() == 51)
    assert(out.select("doc_id").as[String].collect().toSet == keys.toSet)
  }

  test("multi-column indexing opens each footer exactly once") {
    val root = "spark-warehouse/test_s16_multicol"
    buildTable(root, 4000) // 8 files, no sidecar
    val before = KeyStats.footerOpens.get()
    val indexed = TargetedDelete.indexKeyStats(spark, root, Seq("id", "grp"))
    assert(indexed == 8)
    assert(KeyStats.footerOpens.get() - before == 8,
      s"2-column index must cost ONE open per file, took ${KeyStats.footerOpens.get() - before}")
    // both columns landed in the sidecar: reads on either are zero-footer
    val (_, rsId) = StatsRead.read(spark, root, Seq("id" -> LongRange(100L, 200L)))
    val (dfGrp, rsGrp) = StatsRead.read(spark, root, Seq("grp" -> KeySet.longs(Seq(3L))))
    assert(rsId.footerReads == 0 && rsGrp.footerReads == 0,
      s"$rsId / $rsGrp")
    // grp is scattered 0..6 in every file: stats can't prune, rows still right
    assert(rsGrp.filesRead == rsGrp.totalFiles)
    assert(dfGrp.count() == spark.range(4000).filter(col("id") % 7 === 3).count())
    // idempotent: nothing left to open
    val before2 = KeyStats.footerOpens.get()
    assert(TargetedDelete.indexKeyStats(spark, root, Seq("id", "grp")) == 0)
    assert(KeyStats.footerOpens.get() == before2)
  }

  test("conjunctive prune on a z-ordered layout beats either dimension alone") {
    val root = "spark-warehouse/test_s16_zconj"
    deleteAll(Paths.get(root))
    // 256x256 plane z-ordered into 16 files: each file ≈ one 64x64 quad, so
    // a small box predicate lives in ~1 file while either 1-D range alone
    // crosses a full stripe of quads
    val df = spark.range(65536L).select(
      (col("id") / 256L).cast("long").as("x"), (col("id") % 256L).as("y"))
    AtomicTable.commit(
      df.withColumn("z", graft.sinks.ZorderLayout.zcode(col("x"), col("y")))
        .repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
        .drop("z"),
      root, statsCols = Seq("x", "y"))
    val box = Seq(
      "x" -> LongRange(10L, 20L),
      "y" -> LongRange(10L, 20L))
    val (out, rs) = StatsRead.read(spark, root, box)
    val (_, rx) = StatsRead.read(spark, root, Seq("x" -> LongRange(10L, 20L)))
    val (_, ry) = StatsRead.read(spark, root, Seq("y" -> LongRange(10L, 20L)))
    assert(rs.footerReads == 0, rs.toString)
    assert(rs.filesRead <= rx.filesRead && rs.filesRead <= ry.filesRead,
      s"conjunction must never admit more than a single dimension: $rs vs $rx / $ry")
    assert(rs.filesRead < rx.filesRead.max(ry.filesRead),
      s"conjunction should beat the worse dimension on a z layout: $rs vs $rx / $ry")
    assert(rs.filesRead < rs.totalFiles)
    assert(out.count() == 121) // 11 x 11 box
  }

  test("time-travel stats read prunes from the retained version's own sidecar") {
    val root = "spark-warehouse/test_s16_asof"
    buildTable(root, 8000, statsCols = Seq("id"))
    TargetedDelete.delete(spark, root, "id", LongRange(1000L, 1200L)) // v2
    val prev = AtomicTable.previousVersion(root).get
    val (hist, rs) = StatsRead.read(spark, root,
      Seq("id" -> LongRange(1000L, 1200L)), Some(prev))
    assert(rs.version == prev && rs.footerReads == 0 &&
      rs.filesRead >= 1 && rs.filesRead <= 2, rs.toString)
    assert(hist.count() == 201, "history must still serve the deleted block")
    val (live, _) = StatsRead.read(spark, root, Seq("id" -> LongRange(1000L, 1200L)))
    assert(live.count() == 0)
    // fails loudly for a pruned / never-committed version (readVersion contract)
    intercept[IllegalStateException] {
      StatsRead.read(spark, root,
        Seq("id" -> LongRange(0L, 1L)), Some("v99"))
    }
  }

  test("range delete removes the block with the same pruned selectivity") {
    val root = "spark-warehouse/test_s16_rangedel"
    buildTable(root, 8000, statsCols = Seq("id"))
    val stats = TargetedDelete.delete(spark, root, "id", LongRange(2000L, 2150L))
    assert(stats.footerReads == 0, stats.toString)
    assert(stats.rewrittenFiles + stats.droppedFiles >= 1 &&
      stats.rewrittenFiles + stats.droppedFiles <= 2, stats.toString)
    val live = AtomicTable.read(spark, root)
    assert(live.count() == 8000 - 151)
    assert(live.filter(col("id").between(2000L, 2150L)).count() == 0)
  }

  test("a range delete DROPS fully-contained files whole; boundary files rewrite") {
    val root = "spark-warehouse/test_s16_dropdel"
    deleteAll(Paths.get(root))
    // 8000 ids over 64 files ≈ 125 ids/file; [1000, 2000] spans ~8 files —
    // interior ones are provably all-inside (and null-free) → dropped, the
    // ≤2 endpoint files rewrite, everything else hard-links
    val df = spark.range(8000L).select(col("id"),
      (col("id") % 7).as("grp"), concat(lit("row"), col("id")).as("payload"))
    AtomicTable.commit(
      df.repartitionByRange(64, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val stats = TargetedDelete.delete(spark, root, "id", LongRange(1000L, 2000L))
    assert(stats.footerReads == 0, stats.toString)
    assert(stats.droppedFiles >= 4,
      s"interior files should drop whole: $stats")
    assert(stats.rewrittenFiles <= 2,
      s"only endpoint-holding files should rewrite: $stats")
    assert(stats.totalFiles ==
      stats.rewrittenFiles + stats.droppedFiles + stats.reusedFiles, stats.toString)
    val live = AtomicTable.read(spark, root)
    assert(live.count() == 8000 - 1001)
    assert(live.filter(col("id").between(1000L, 2000L)).count() == 0)
    assert(live.agg(sum(col("id"))).head.getLong(0) ==
      (0L until 8000L).sum - (1000L to 2000L).sum)
    // a file that MIGHT hold a NULL key must never drop: nullable key col
    val root2 = "spark-warehouse/test_s16_dropnull"
    deleteAll(Paths.get(root2))
    import spark.implicits._
    val rows = (0L until 1000L).map(i =>
      (if (i % 100 == 99) Option.empty[Long] else Option(i), s"p$i"))
    AtomicTable.commit(rows.toDF("id", "payload")
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      root2, statsCols = Seq("id"))
    val s2 = TargetedDelete.delete(spark, root2, "id", LongRange(0L, 999L))
    val live2 = AtomicTable.read(spark, root2)
    assert(live2.count() == 10 && live2.filter(col("id").isNull).count() == 10,
      s"NULL-key rows lost by a whole-file drop: $s2")
  }

  test("string prefix range: read and delete prune and drop under UTF-8 byte order") {
    val root = "spark-warehouse/test_s16_strrange"
    deleteAll(Paths.get(root))
    // zero-padded doc hashes clustered into 64 files (~125 keys each); the
    // "doc01" prefix block [doc01000, doc01999] spans ~8 of them
    val df = spark.range(8000L).select(
      format_string("doc%05d", col("id")).as("doc_id"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(64, col("doc_id")).sortWithinPartitions(col("doc_id")),
      root, statsCols = Seq("doc_id"))
    val (out, rs) = StatsRead.read(
      spark, root, Seq("doc_id" -> StringRange("doc01000", "doc01999")))
    assert(rs.footerReads == 0 && rs.filesRead < rs.totalFiles, rs.toString)
    assert(out.count() == 1000)
    val stats = TargetedDelete.delete(
      spark, root, "doc_id", StringRange("doc01000", "doc01999"))
    assert(stats.footerReads == 0, stats.toString)
    assert(stats.droppedFiles >= 4, s"interior prefix files should drop: $stats")
    assert(stats.rewrittenFiles <= 2, stats.toString)
    val live = AtomicTable.read(spark, root)
    assert(live.count() == 7000)
    assert(live.filter(col("doc_id").startsWith("doc01")).count() == 0)
    // supplementary-plane guard: the byte order's U+FFFF < U+1F600 must hold
    // on the range form too (a UTF-16 comparison would judge the range empty)
    val root2 = "spark-warehouse/test_s16_strrange_astral"
    deleteAll(Paths.get(root2))
    import spark.implicits._
    AtomicTable.commit(Seq(("￿", 1L), ("😀", 2L), ("😀zz", 3L))
      .toDF("doc_id", "v").coalesce(1), root2, statsCols = Seq("doc_id"))
    val (out2, _) = StatsRead.read(spark, root2, Seq("doc_id" -> StringRange("￿", "😀")))
    assert(out2.select("doc_id").as[String].collect().toSet == Set("￿", "😀"),
      "UTF-8 byte-order range misjudged supplementary-plane bounds")
  }

  test("prefix block ops are COMPLETE: astral and U+FFFF suffixes included") {
    import spark.implicits._
    // the failure a [p, p+"￿"] range recipe hits: p+"😀" sorts ABOVE
    // p+U+FFFF in byte order, so the range silently retains it — a GDPR
    // delete that reports success while keeping data. StringPrefix must
    // catch every suffix.
    val root = "spark-warehouse/test_s16_prefix"
    deleteAll(Paths.get(root))
    val rows = Seq(
      ("src1/a", 1L), ("src1/￿", 2L), ("src1/😀doc", 3L),
      ("src10x", 4L), // starts with "src1" as BYTES → in the src1 block
      ("src0zz", 5L), ("src2aa", 6L))
    AtomicTable.commit(rows.toDF("doc_id", "v").coalesce(1),
      root, statsCols = Seq("doc_id"))
    val (out, _) = StatsRead.read(spark, root, Seq("doc_id" -> StringPrefix("src1")))
    assert(out.select("doc_id").as[String].collect().toSet ==
      Set("src1/a", "src1/￿", "src1/😀doc", "src10x"),
      "prefix read missed a suffix the byte order puts inside the block")
    val del = TargetedDelete.delete(spark, root, "doc_id", StringPrefix("src1"))
    val live = AtomicTable.read(spark, root)
    assert(live.select("doc_id").as[String].collect().toSet ==
      Set("src0zz", "src2aa"),
      s"prefix delete retained or over-deleted: $del")
    // clustered prefix block over many files: interior files DROP whole
    val root2 = "spark-warehouse/test_s16_prefixdrop"
    deleteAll(Paths.get(root2))
    val df = spark.range(8000L).select(
      format_string("doc%05d", col("id")).as("doc_id"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(64, col("doc_id")).sortWithinPartitions(col("doc_id")),
      root2, statsCols = Seq("doc_id"))
    // "doc01" block = doc01000..doc01999, ~8 of 64 files
    val stats = TargetedDelete.delete(spark, root2, "doc_id", StringPrefix("doc01"))
    assert(stats.footerReads == 0 && stats.droppedFiles >= 4 &&
      stats.rewrittenFiles <= 2, stats.toString)
    val live2 = AtomicTable.read(spark, root2)
    assert(live2.count() == 7000)
    assert(live2.filter(col("doc_id").startsWith("doc01")).count() == 0)
  }

  test("a delete that empties the table still publishes a READABLE version") {
    val root = "spark-warehouse/test_s16_dropall"
    buildTable(root, 1000, statsCols = Seq("id"))
    // every file is fully contained: without the demote-one guard the next
    // version would hold zero parquet files and schema inference would
    // throw on every later read — the table permanently unreadable
    val stats = TargetedDelete.delete(spark, root, "id", LongRange(0L, 99999L))
    assert(stats.rewrittenFiles == 1 && stats.droppedFiles == stats.totalFiles - 1,
      s"drop-all must demote exactly one file to keep the schema: $stats")
    val live = AtomicTable.read(spark, root) // must not throw
    assert(live.count() == 0)
    assert(live.columns.toSeq == Seq("id", "grp", "payload"))
    // and the emptied table stays writable/deletable
    val again = TargetedDelete.delete(spark, root, "id", LongRange(0L, 10L))
    assert(again.totalFiles >= 1, again.toString)
  }

  test("metadata-only count: interior files count from the sidecar, boundaries scan") {
    val root = "spark-warehouse/test_s16_count"
    deleteAll(Paths.get(root))
    val df = spark.range(8000L).select(col("id"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(64, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val (n, cs) = StatsRead.countWhere(spark, root, "id", LongRange(1000L, 2000L))
    assert(n == 1001, cs.toString)
    assert(cs.footerReads == 0 && cs.metadataFiles >= 4 && cs.scannedFiles <= 2,
      cs.toString)
    // nulls are invisible to min/max but must not be invisible to the count
    val root2 = "spark-warehouse/test_s16_countnull"
    deleteAll(Paths.get(root2))
    import spark.implicits._
    val rows = (0L until 1000L).map(i =>
      (if (i % 10 == 9) Option.empty[Long] else Option(i), s"p$i"))
    AtomicTable.commit(rows.toDF("id", "payload").coalesce(1),
      root2, statsCols = Seq("id"))
    val (n2, cs2) = StatsRead.countWhere(spark, root2, "id", LongRange(0L, 999L))
    assert(n2 == 900, s"null keys counted as matches: $n2 / $cs2")
    assert(cs2.metadataFiles == 1 && cs2.scannedFiles == 0,
      s"single contained file should count metadata-only: $cs2")
    // min/max served from the sidecar alone on the indexed 64-file table
    val (mm, ms) = StatsRead.minMaxLong(spark, root, "id")
    assert(mm.contains((0L, 7999L)), s"$mm / $ms")
    assert(ms.scannedFiles == 0 && ms.footerReads == 0, ms.toString)
    // a file whose column is ALL NULL has no min/max stats ("none") and
    // must fall back to a scan, not silently vanish from the aggregate
    val root3 = "spark-warehouse/test_s16_minmaxnull"
    deleteAll(Paths.get(root3))
    val mixed = (0L until 200L).map(i =>
      (if (i < 100) Option.empty[Long] else Option(i), if (i < 100) 0L else 1L))
    AtomicTable.commit(mixed.toDF("id", "grp")
      .repartitionByRange(2, col("grp")), root3, statsCols = Seq("id"))
    val (mm3, ms3) = StatsRead.minMaxLong(spark, root3, "id")
    assert(mm3.contains((100L, 199L)), s"$mm3 / $ms3")
    assert(ms3.scannedFiles == 1 && ms3.metadataFiles == 1, ms3.toString)
  }

  test("string containment count + min/max: interior files metadata-only, byte order holds") {
    import spark.implicits._
    val root = "spark-warehouse/test_s16_countstr"
    deleteAll(Paths.get(root))
    val df = spark.range(8000L).select(
      format_string("doc%05d", col("id")).as("doc_id"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(64, col("doc_id")).sortWithinPartitions(col("doc_id")),
      root, statsCols = Seq("doc_id"))
    // contiguous string block [doc01000, doc02000]: interiors metadata-count
    val (n, cs) = StatsRead.countWhere(
      spark, root, "doc_id", StringRange("doc01000", "doc02000"))
    assert(n == 1001, cs.toString)
    assert(cs.footerReads == 0 && cs.metadataFiles >= 4 && cs.scannedFiles <= 2,
      cs.toString)
    // prefix-block count: "doc01" = exactly 1000 keys, interiors metadata-only
    val (np, csp) = StatsRead.countWhere(spark, root, "doc_id", StringPrefix("doc01"))
    assert(np == 1000, csp.toString)
    assert(csp.footerReads == 0 && csp.metadataFiles >= 4 && csp.scannedFiles <= 2,
      csp.toString)
    // metadata-served string min/max on the indexed table, zero scans
    val (mm, ms) = StatsRead.minMaxString(spark, root, "doc_id")
    assert(mm.contains(("doc00000", "doc07999")), s"$mm / $ms")
    assert(ms.scannedFiles == 0 && ms.footerReads == 0, ms.toString)
    // byte-order regression: a fold across files holding U+FFFF and an
    // astral codepoint must pick the ASTRAL value as max (Java's default
    // String order would pick U+FFFF)
    val root2 = "spark-warehouse/test_s16_minmaxastral"
    deleteAll(Paths.get(root2))
    AtomicTable.commit(
      Seq(("a", 0L), ("￿", 0L)).toDF("k", "grp").coalesce(1)
        .unionAll(Seq(("b", 1L), ("😀", 1L)).toDF("k", "grp").coalesce(1))
        .repartitionByRange(2, col("grp")).sortWithinPartitions(col("k")),
      root2, statsCols = Seq("k"))
    val (mm2, ms2) = StatsRead.minMaxString(spark, root2, "k")
    assert(mm2.contains(("a", "😀")),
      s"fold not under UTF-8 byte order: $mm2 / $ms2")
    // null keys subtract from a contained file's count, never match
    val root3 = "spark-warehouse/test_s16_countstrnull"
    deleteAll(Paths.get(root3))
    val rows = (0L until 1000L).map(i =>
      (if (i % 10 == 9) Option.empty[String] else Option(f"k$i%04d"), i))
    AtomicTable.commit(rows.toDF("k", "v").coalesce(1),
      root3, statsCols = Seq("k"))
    val (n3, cs3) = StatsRead.countWhere(spark, root3, "k", StringRange("k0000", "k0999"))
    assert(n3 == 900, s"null keys counted: $n3 / $cs3")
    assert(cs3.metadataFiles == 1 && cs3.scannedFiles == 0, cs3.toString)
  }

  test("DFP join: pruned scan, exact join rows, both regimes, empty and bloom paths") {
    val root = "spark-warehouse/test_s16_dfp"
    deleteAll(Paths.get(root))
    AtomicTable.commit(
      spark.range(4000L).select(col("id"), (col("id") * 3L).as("v"))
        .repartitionByRange(16, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val probe = spark.range(100L, 160L)
      .select(col("id"), (col("id") * 7L).as("w"))
    val (df, rs) = StatsRead.joinPruned(spark, root, "id", probe)
    assert(rs.footerReads == 0 && rs.filesRead >= 1 && rs.filesRead < rs.totalFiles,
      s"DFP join did not prune: $rs")
    val got = df.select(col("id"), col("v"), col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (100L until 160L).map(i => (i, i * 3, i * 7)).toSet
    assert(got == want, "join rows diverge from the exact equi-join")
    // distributed regime (threshold 0): same prune, same rows
    val (df2, rs2) = StatsRead.joinPruned(spark, root, "id", probe,
      driverKeyThreshold = 0)
    assert(rs2.filesRead == rs.filesRead, s"regimes diverged: $rs vs $rs2")
    assert(df2.select(col("id"), col("v"), col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
    // probe entirely outside every hull: empty join, ZERO files scanned
    val miss = spark.range(2L).select((lit(900000L) + col("id")).as("id"),
      lit(0L).as("w"))
    val (df3, rs3) = StatsRead.joinPruned(spark, root, "id", miss)
    assert(rs3.filesRead == 0 && df3.count() == 0L,
      s"out-of-hull probe must not construct a scan: $rs3")
    // unclustered key + bloom: the prune composes with _KEYBLOOM
    val rootH = "spark-warehouse/test_s16_dfp_bloom"
    deleteAll(Paths.get(rootH))
    AtomicTable.commit(
      spark.range(4000L).select(md5(col("id").cast("string")).as("h"),
        col("id").as("v")).repartitionByRange(16, col("v")),
      rootH, statsCols = Seq("h"))
    graft.sinks.KeyBloom.indexKeyBloom(spark, rootH, Seq("h"),
      graft.sinks.KeyBloom.bitsFor(4000L / 16 + 1))
    val probeH = spark.range(3L)
      .select(md5((col("id") * 997L).cast("string")).as("h"), col("id").as("w"))
    val (dfH, rsH) = StatsRead.joinPruned(spark, rootH, "h", probeH)
    assert(rsH.footerReads == 0 && rsH.filesRead <= 5,
      s"bloom did not prune the hash-keyed DFP join: $rsH")
    assert(dfH.count() == 3L)
  }
  /** 16 files clustered on a string key `k`, 250 keys per file; the bloom
    * backend under test is sized at 1024 bits, ~25% false positives, so a
    * probe of every key and a probe of the keys a file's hull admits
    * decide differently. */
  private def admissionTable(root: String, backend: String, tuple: Boolean): Unit = {
    deleteAll(Paths.get(root))
    AtomicTable.commit(
      spark.range(4000L).select(format_string("k%05d", col("id")).as("k"),
        (col("id") % 3).as("g"), col("id").as("v"))
        .repartitionByRange(16, col("k")).sortWithinPartitions(col("k")),
      root, statsCols = Seq("k", "g"))
    val cols = if (tuple) Seq("g", "k") else Seq("k")
    backend match {
      case "tsv" => KeyBloom.indexKeyBloom(spark, root, cols, 1024)
      case "manifest" => BloomManifest.indexBloomManifest(spark, root, cols, 1024)
      case _ => 0
    }
  }

  test("admission parity: read, delete and merge admit the same files on every bloom backend") {
    import spark.implicits._
    // three present keys, and one absent key inside each file's hull
    val keys = Seq("k00100", "k01700", "k03333") ++
      (0 until 16).map(i => f"k${i * 250 + 10}%05dx")
    Seq("tsv", "manifest", "none").foreach { backend =>
      val root = s"spark-warehouse/test_s16_admit_$backend"
      admissionTable(root, backend, tuple = false)
      val (df, rs) = StatsRead.readStringKeyIn(spark, root, "k", keys)
      assert(df.count() == 3L && rs.footerReads == 0, s"$backend: $rs")
      val ds = TargetedDelete.deleteStringKeys(spark, root, "k", keys)
      admissionTable(root, backend, tuple = false)
      val ms = KeyedMerge.merge(spark, root, Seq("k"), keys.toDF("k"), (base, _) => base)
      assert(rs.filesRead == ds.rewrittenFiles + ds.droppedFiles &&
        rs.filesRead == ms.rewrittenFiles,
        s"$backend: read $rs, delete $ds, merge $ms")
      // the same tuples through the two-column forms
      admissionTable(root, backend, tuple = true)
      val tuples = keys.map(k => (k.drop(1).take(5).toLong % 3, k)).toDF("g", "k")
      val (tf, trs) = StatsRead.readTupleIn(spark, root, Seq("g", "k"), tuples)
      assert(tf.count() == 3L && trs.footerReads == 0, s"$backend: $trs")
      val tds = TargetedDelete.deleteTupleKeys(spark, root, Seq("g", "k"), tuples)
      assert(trs.filesRead == tds.rewrittenFiles,
        s"$backend: tuple read $trs, tuple delete $tds")
    }
  }
}
