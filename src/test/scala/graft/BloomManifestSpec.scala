package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, BloomManifest, KeyBloom, KeyedMerge,
  Maintenance, StatsRead, TargetedDelete}
import graft.sinks.TargetedDelete.LongRange

/** Sharded-manifest contracts the declared query proves only in aggregate:
  * the distributed probe's verdicts match the driver-materialized TSV
  * bloom's bit for bit (same hash walk, two backends); staging passes
  * self-maintain the manifest (carried rows by semi-join, fresh rebuilds,
  * removed files dropped); the merge/delete prunes compose it; RESTORE
  * carries it; the advisor sees and heals it. */
class BloomManifestSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def deleteAll(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(deleteAll) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def parts(dir: Path): Seq[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    finally st.close()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Hash-keyed corpus, id-clustered (hash scattered), manifest-bloomed. */
  private def buildManifested(root: String, bits: Int = 1 << 16): Unit = {
    deleteAll(Paths.get(root))
    val df = spark.range(4000L).select(
      col("id"), md5(col("id").cast("string")).as("h"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(32, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("h"))
    assert(BloomManifest.indexBloomManifest(spark, root, "h", bits) == 32)
  }

  private def liveDir(root: String): Path =
    Paths.get(root, AtomicTable.currentVersion(root).get)

  test("distributed probe verdicts == driver TSV bloom verdicts, key by key") {
    val root = "spark-warehouse/test_bmanifest_parity"
    buildManifested(root)
    // build the TSV backend at the SAME bits on a sibling copy of the
    // same files and compare per-file verdicts for a mixed key set
    KeyBloom.indexKeyBloom(spark, root, "h", 1 << 16)
    val dir = liveDir(root)
    val tsv = KeyBloom.loadBlooms(dir)
    val keys = (Seq(0L, 17L, 3999L).map(i => md5hex(i.toString)) ++
      Seq("absent-a", "absent-b").map(md5hex)).sorted
    val probe = BloomManifest.probe(spark, dir, "h", "string",
      keys.map(utf8)).get
    assert(probe.covered.size == 32)
    val names = probe.covered.toSeq.sorted
    names.foreach { n =>
      val tsvAdmits = keys.exists(k =>
        tsv((n, "h")).mightContain(utf8(k)))
      assert(probe.admitted(n) == tsvAdmits,
        s"backend divergence on $n: manifest=${probe.admitted(n)} tsv=$tsvAdmits")
    }
    // present keys are found through the composed read; the TSV counter
    // DOES move here (both backends present) — parity is the point
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("17")))
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(17L) ||
      rs.filesRead >= 30) // stats path plans ~all; value check is below
    val (out2, rs2) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("17")))
    assert(out2.select("id").as[Long].collect().toSet == Set(17L))
    assert(rs2.footerReads == 0 && rs2.filesRead <= 4, rs2.toString)
  }

  test("manifest-only table: point read decides distributed, zero TSV loads") {
    val root = "spark-warehouse/test_bmanifest_only"
    buildManifested(root)
    val dir = liveDir(root)
    assert(!Files.exists(dir.resolve(KeyBloom.BloomFile)))
    val loads0 = KeyBloom.loadCalls.get()
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("1234")))
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(1234L))
    assert(rs.footerReads == 0 && rs.filesRead <= 4 && rs.manifestFiles == 32,
      rs.toString)
    assert(KeyBloom.loadCalls.get() == loads0,
      "probe materialized a TSV sidecar that does not exist")
    // absent key: covered everywhere, admitted ~nowhere
    val (miss, rsMiss) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("nope")))
    assert(miss.count() == 0 && rsMiss.filesRead <= 2, rsMiss.toString)
  }

  test("targeted delete self-maintains the manifest: carry, rebuild, drop") {
    val root = "spark-warehouse/test_bmanifest_maint"
    buildManifested(root)
    val del = TargetedDelete.delete(spark, root, "id", LongRange(1050L, 1949L))
    assert(del.reusedFiles >= 1 && del.rewrittenFiles >= 1, del.toString)
    val dir = liveDir(root)
    val header = BloomManifest.loadHeader(dir)
    val names = parts(dir)
    names.foreach(n => assert(header.contains((n, "h")),
      s"post-delete file $n lost manifest coverage"))
    assert(header.size == names.size,
      s"stale manifest entries for removed files: ${header.keys}")
    // a surviving key is found; a DELETED key's probe plans zero files
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("50")))
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(50L))
    assert(rs.footerReads == 0 && rs.manifestFiles == names.size, rs.toString)
    val (gone, rsGone) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("1500")))
    assert(gone.count() == 0L && rsGone.filesRead == 0,
      s"deleted key admitted by a stale manifest bloom: $rsGone")
  }

  test("keyed merge and delete prunes compose the manifest (bloomSkipped)") {
    val root = "spark-warehouse/test_bmanifest_merge"
    buildManifested(root)
    val changes = spark.createDataFrame(
      Seq((md5hex("77"), 770L), (md5hex("2048"), -1L)))
      .toDF("h", "grp")
    val ms = KeyedMerge.merge(spark, root, Seq("h"), changes,
      (base, c) => base.select(col("id"), col("h"), col("grp"))
        .join(c.select(col("h"), col("grp").as("ng")), Seq("h"), "left")
        .select(coalesce(col("id"), lit(-1L)).as("id"), col("h"),
          coalesce(col("ng"), col("grp")).as("grp")))
    assert(ms.footerReads == 0 && ms.bloomSkipped >= 1 &&
      ms.rewrittenFiles <= 4 && ms.reusedFiles >= ms.totalFiles - 4,
      s"manifest did not prune the merge: $ms")
    // the rewrite output re-enters the manifest (self-maintained)
    val dir = liveDir(root)
    val names = parts(dir)
    val header = BloomManifest.loadHeader(dir)
    names.foreach(n => assert(header.contains((n, "h"))))
    val delStats = TargetedDelete.deleteStringKeys(spark, root, "h",
      Seq(md5hex("3000")))
    assert(delStats.bloomSkipped >= 1 && delStats.rewrittenFiles <= 4,
      s"manifest did not prune the delete: $delStats")
  }

  test("probe scan pushes idx IN (...) into the parquet reader (row-group pruning inside the manifest)") {
    val root = "spark-warehouse/test_bmanifest_pushdown"
    buildManifested(root)
    val gen = BloomManifest.shardDir(liveDir(root)).get
    // the probe's scan shape: cname/kind equality + the idx IN list — the
    // sorted (cname, idx) layout makes the In prune row groups
    val scan = spark.read.parquet(gen.toString)
      .filter(col("cname") === "h" && col("kind") === "string" &&
        col("idx").isin(1, 77, 4095))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(idx"),
      s"idx IN did not reach the parquet scan:\n${plan.take(1500)}")
  }

  test("bulk probe: the distributed merge regime clears files through the manifest too") {
    val root = "spark-warehouse/test_bmanifest_bulk"
    buildManifested(root)
    // probeBulk parity with the point probe on the same key set
    val keys = Seq(md5hex("77"), md5hex("2048"), md5hex("absent"))
    val dir = liveDir(root)
    val point = BloomManifest.probe(spark, dir, "h", "string", keys.map(utf8)).get
    import spark.implicits._
    val bulk = BloomManifest.probeBulk(spark, dir, "h", "string",
      keys.toDF("h")).get
    assert(bulk.covered == point.covered && bulk.admitted == point.admitted,
      s"bulk/point probe divergence: $bulk vs $point")
    // force the DISTRIBUTED regime (driverKeyThreshold = 0): the merge
    // prune must still clear non-matching files via the manifest
    val changes = spark.createDataFrame(
      Seq((md5hex("77"), 770L), (md5hex("2048"), -1L))).toDF("h", "grp")
    val ms = KeyedMerge.merge(spark, root, Seq("h"), changes,
      (base, c) => base.select(col("id"), col("h"), col("grp"))
        .join(c.select(col("h"), col("grp").as("ng")), Seq("h"), "left")
        .select(coalesce(col("id"), lit(-1L)).as("id"), col("h"),
          coalesce(col("ng"), col("grp")).as("grp")),
      driverKeyThreshold = 0)
    assert(ms.footerReads == 0 && ms.bloomSkipped >= ms.totalFiles - 4 &&
      ms.rewrittenFiles <= 4,
      s"bulk-regime merge did not prune through the manifest: $ms")
  }

  test("delta ledger: staging links shards forward (inode-verified); compaction drops stale rows") {
    val root = "spark-warehouse/test_bmanifest_delta"
    buildManifested(root)
    val dir0 = liveDir(root)
    val gen0 = BloomManifest.shardDir(dir0).get
    val shard0 = parts(gen0)
    assert(shard0.nonEmpty)
    // a staging pass with drops + rewrites: predecessor shards must link
    // forward untouched, fresh rows append as new shards
    TargetedDelete.delete(spark, root, "id", LongRange(1050L, 1949L))
    val dir1 = liveDir(root)
    val gen1 = BloomManifest.shardDir(dir1).get
    shard0.foreach { n =>
      assert(KeyedMerge.sameInode(gen0.resolve(n), gen1.resolve(n)),
        s"delta pass rewrote predecessor shard $n instead of linking it")
    }
    assert(parts(gen1).size > shard0.size, "fresh rows did not append as new shards")
    // stale rows for removed files linger (bounded, harmless: dead names
    // are never consulted) until compaction drops them
    val live1 = parts(dir1)
    val stale = spark.read.parquet(gen1.toString)
      .filter(!col("file").isin(live1: _*)).count()
    assert(stale > 0, "expected stale rows for the dropped interior files")
    BloomManifest.compactManifest(spark, root)
    // compaction publishes a NEW generation under the atomic header flip
    // (the predecessor is retained one publish for in-flight probes)
    val gen2 = BloomManifest.shardDir(dir1).get
    assert(gen2 != gen1, "compaction must flip to a fresh generation")
    assert(spark.read.parquet(gen2.toString)
      .filter(!col("file").isin(live1: _*)).count() == 0,
      "compaction left stale rows")
    // probes stay exact through delta AND compaction
    import spark.implicits._
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("50")))
    assert(out.select("id").as[Long].collect().toSet == Set(50L))
    assert(rs.footerReads == 0 && rs.manifestFiles == live1.size, rs.toString)
    val (gone, rsGone) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("1500")))
    assert(gone.count() == 0L && rsGone.filesRead == 0, rsGone.toString)
  }

  /** Rewrite a modern manifest as the pre-generation layout: shards at the
    * manifest top level, header without the @gen pointer. */
  private def degenerate(dir: Path): Unit = {
    val m = BloomManifest.manifestPath(dir)
    val gen = BloomManifest.shardDir(dir).get
    parts(gen).foreach(n => Files.move(gen.resolve(n), m.resolve(n)))
    deleteAll(gen)
    val hdr = Files.readAllLines(m.resolve(BloomManifest.HeaderFile))
      .asScala.filterNot(_.startsWith("@"))
    Files.writeString(m.resolve(BloomManifest.HeaderFile), hdr.mkString("\n"))
    assert(BloomManifest.shardDir(dir).isEmpty &&
      BloomManifest.loadHeader(dir).nonEmpty)
  }

  test("legacy (pre-generation) manifests: no wrong skips, and both upgrade paths migrate the rows") {
    import spark.implicits._
    // path 1: a STAGING pass migrates the legacy shards into its generation
    val root = "spark-warehouse/test_bmanifest_legacy"
    buildManifested(root)
    degenerate(liveDir(root))
    // probes decline on the legacy layout -> conservative planning, the
    // row is still found (coverage-without-rows must never read as skip)
    val (out, _) = StatsRead.readStringKeyIn(spark, root, "h", Seq(md5hex("123")))
    assert(out.select("id").as[Long].collect().toSet == Set(123L))
    TargetedDelete.delete(spark, root, "id", LongRange(100L, 199L))
    val dir2 = liveDir(root)
    assert(BloomManifest.shardDir(dir2).isDefined,
      "staging pass dropped the legacy manifest instead of migrating it")
    val (out2, rs2) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("1234")))
    assert(out2.select("id").as[Long].collect().toSet == Set(1234L))
    assert(rs2.footerReads == 0 && rs2.manifestFiles == rs2.totalFiles &&
      rs2.filesRead <= 4, rs2.toString)
    val (gone, rsGone) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("150"))) // deleted
    assert(gone.count() == 0L && rsGone.filesRead == 0, rsGone.toString)
    // path 2: an INDEX EXTENSION (new column) carries the legacy rows into
    // the new generation and clears the top-level shards
    val root2 = "spark-warehouse/test_bmanifest_legacy2"
    buildManifested(root2)
    degenerate(liveDir(root2))
    assert(BloomManifest.indexBloomManifest(spark, root2, "id") == 32)
    val d2 = liveDir(root2)
    assert(BloomManifest.shardDir(d2).isDefined)
    assert(parts(BloomManifest.manifestPath(d2)).isEmpty,
      "legacy top-level shards must clear after migration")
    val pH = BloomManifest.probe(spark, d2, "h", "string",
      Seq(utf8(md5hex("77")))).get
    assert(pH.covered.size == 32 && pH.admitted.nonEmpty,
      s"legacy rows lost in index-extension migration: $pH")
    val pId = BloomManifest.probe(spark, d2, "id", "long",
      Seq(java.nio.ByteBuffer.allocate(8).putLong(77L).array())).get
    assert(pId.admitted.nonEmpty)
  }

  test("RESTORE carries the manifest: restored version probes distributed") {
    val root = "spark-warehouse/test_bmanifest_restore"
    buildManifested(root)
    val v1 = AtomicTable.currentVersion(root).get
    TargetedDelete.delete(spark, root, "id", LongRange(0L, 999L))
    AtomicTable.restoreVersion(root, v1)
    val dir = liveDir(root)
    assert(BloomManifest.exists(dir), "restore dropped the manifest")
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("500"))) // deleted in v2, alive again after restore
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(500L))
    assert(rs.footerReads == 0 && rs.manifestFiles == rs.totalFiles, rs.toString)
  }

  test("advisor sees manifest coverage and heals through the manifest backend") {
    val root = "spark-warehouse/test_bmanifest_advise"
    buildManifested(root)
    // neutralize the size dimension (2x the smallest live file — nothing
    // reads as small, the s18_auto trick) so the heal is the bloom alone
    val target = 2 * parts(liveDir(root)).map(n =>
      Files.size(liveDir(root).resolve(n))).min
    val h0 = Maintenance.advise(spark, root, "h", target)
    assert(h0.bloomCoverage == 1.0, h0.toString)
    // strip the header to fake a partial build: coverage drops, the heal
    // must re-index through the MANIFEST (no TSV may appear)
    val dir = liveDir(root)
    val header = BloomManifest.loadHeader(dir)
    val victim = header.keys.head
    val mDir = BloomManifest.manifestPath(dir)
    val genLine = Files.readAllLines(mDir.resolve(BloomManifest.HeaderFile))
      .asScala.find(_.startsWith("@gen")).toSeq // keep the generation pointer
    val body = (genLine ++ header.-(victim).toSeq.sortBy(_._1).map { case ((f, c), h) =>
      java.net.URLEncoder.encode(f, "UTF-8") + "\t" +
        java.net.URLEncoder.encode(c, "UTF-8") + s"\t${h.kind}\t${h.bits}\t${h.k}"
    }).mkString("\n")
    Files.writeString(mDir.resolve(BloomManifest.HeaderFile), body)
    val h1 = Maintenance.advise(spark, root, "h", target)
    assert(h1.bloomCoverage < 1.0 && h1.action == "bloom", h1.toString)
    val trail = Maintenance.autoMaintain(spark, root, "h", target)
    assert(trail.last.action == "none" && trail.last.bloomCoverage == 1.0,
      trail.toString)
    assert(!Files.exists(liveDir(root).resolve(KeyBloom.BloomFile)),
      "advisor healed a manifest-backed key through the TSV backend")
    val hdr2 = BloomManifest.loadHeader(liveDir(root))
    assert(hdr2.contains(victim), "heal did not restore the missing entry")
  }

  test("full-rewrite merge dropping the bloomed column lapses the manifest gracefully") {
    val root = "spark-warehouse/test_bmanifest_dropcol"
    deleteAll(Paths.get(root))
    val df = spark.range(200L).select(
      col("id"), md5(col("id").cast("string")).as("h"), (col("id") % 7).as("grp"))
    AtomicTable.commit(df.repartitionByRange(2, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("id"))
    BloomManifest.indexBloomManifest(spark, root, "h")
    val changes = spark.range(2L).select(
      (col("id") * 150L).as("id"), lit(-1L).as("grp"))
    val st = KeyedMerge.merge(spark, root, Seq("id"), changes,
      (b, c) => b.select(col("id"), col("grp"))
        .join(c.select(col("id"), col("grp").as("ng")), Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("ng"), col("grp")).as("grp")))
    assert(st.reusedFiles == 0 && st.rewrittenFiles == 2, st.toString)
    assert(BloomManifest.loadHeader(liveDir(root)).isEmpty,
      "manifest rows for the dropped column must lapse, not linger")
  }

  test("saturated manifest scans prune: idx IN skips row groups, a cname filter reads one column's slice") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = "spark-warehouse/test_bmanifest_satscan"
    deleteAll(Paths.get(root))
    val df = spark.range(32000L).select(col("id"),
      md5(col("id").cast("string")).as("h"))
    AtomicTable.commit(df.repartitionByRange(16, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("h"))
    // tiny row groups so the shard files hold MANY — the in-manifest
    // skipping claim needs row-group granularity to be visible at test
    // bytes; restored after the builds
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hconf.get("parquet.block.size"))
    val oldPage = Option(hconf.get("parquet.page.size"))
    hconf.setInt("parquet.block.size", 16 * 1024)
    hconf.setInt("parquet.page.size", 4 * 1024)
    try {
      // 2000 rows/file at 2^14 bits: every word non-zero (dense regime)
      assert(BloomManifest.indexBloomManifest(spark, root, "h", 1 << 14) == 16)
      assert(BloomManifest.indexBloomManifest(spark, root, "id", 1 << 14) == 16)
    } finally {
      oldBlock.fold(hconf.unset("parquet.block.size"))(v => hconf.set("parquet.block.size", v))
      oldPage.fold(hconf.unset("parquet.page.size"))(v => hconf.set("parquet.page.size", v))
    }
    val mDir = BloomManifest.shardDir(liveDir(root)).get
    val all = spark.read.parquet(mDir.toString)
    val total = all.count()
    // saturation premise: both columns dense — rows ≈ files × bits/64 each
    assert(total >= (2L * 16 * (16384 / 64) * 95) / 100, s"not saturated: $total")
    def scannedRows(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      val scans = PlanTestUtils.flatten(d.queryExecution.executedPlan)
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, "no FileSourceScanExec in the probe plan")
      scans.map(_.metrics("numOutputRows").value).sum
    }
    // the point probe's scan shape: cname equality + idx IN pushes into
    // the (cname, idx)-sorted row groups — reads a small fraction
    val idxScan = scannedRows(all.filter(col("cname") === "h" &&
      col("idx").isin(3, 77, 200)))
    assert(idxScan * 4 <= total,
      s"idx IN scan read $idxScan of $total manifest rows — row groups not pruned")
    // the bulk probe's scan shape: cname filter alone reads ~one column's
    // slice, not the whole manifest (cname is the leading sort key)
    val colScan = scannedRows(all.filter(col("cname") === "h"))
    assert(colScan * 4 <= total * 3,
      s"cname scan read $colScan of $total — bulk probe cost not ∝ column slice")
    // and the probe itself still lands through the dense manifest
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("4242")))
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSeq == Seq(4242L))
    assert(rs.footerReads == 0 && rs.filesRead <= 3, rs.toString)
  }

  test("orphan pre-generation shards are swept even when coverage is complete") {
    val root = "spark-warehouse/test_bmanifest_orphan"
    buildManifested(root)
    val dir = liveDir(root)
    val mDir = BloomManifest.manifestPath(dir)
    // plant the crash debris: a migration that flipped its header but died
    // before deleting the legacy top-level shard leaves it beside the
    // generation directories
    val orphan = mDir.resolve("part-legacy-orphan.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    // full coverage → the r19 early-return path; the sweep must still run
    assert(BloomManifest.indexBloomManifest(spark, root, "h", 1 << 16) == 0)
    assert(!Files.exists(orphan), "orphan legacy shard lingered past a retry")
    // the live generation is untouched and still probes
    val probe = BloomManifest.probe(spark, dir, "h", "string",
      Seq(utf8(md5hex("17")))).get
    assert(probe.covered.size == 32 && probe.admitted.nonEmpty)
  }
}
