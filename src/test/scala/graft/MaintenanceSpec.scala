package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, KeyedMerge, Maintenance}

/** Advisor contracts the driver query proves only end-to-end: each health
  * dimension maps to its action (coverage → index, size → compact, drift →
  * recluster), the ladder terminates at "none" with each action run at most
  * once, and a healthy table is never churned. */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(rm) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def fresh(name: String): String = {
    val root = s"spark-warehouse/maint_$name"; rm(Paths.get(root)); root
  }

  /** Target ≈ the mean live file size, so the size dimension reads healthy
    * by construction and the dimension under test drives each scenario. */
  private def targetFor(root: String): Long = {
    val live = Paths.get(root, AtomicTable.currentVersion(root).get)
    val sizes = Files.list(live).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size(_)).toSeq
    math.max(64L, sizes.sum / math.max(1, sizes.size))
  }

  test("healthy clustered table: advice is none, autoMaintain churns nothing") {
    val root = fresh("healthy")
    AtomicTable.commit(spark.range(4000L).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val t = targetFor(root)
    val h = Maintenance.advise(spark, root, "id", t)
    assert(h.action == "none" && h.overlappingFiles == 0 && h.statsCoverage == 1.0, h.toString)
    val v0 = AtomicTable.currentVersion(root)
    val trail = Maintenance.autoMaintain(spark, root, "id", t)
    assert(trail.size == 1 && AtomicTable.currentVersion(root) == v0,
      s"healthy table churned a version: $trail")
  }

  test("uncovered stats: advice is index; autoMaintain restores coverage first") {
    val root = fresh("index")
    AtomicTable.commit(spark.range(2000L).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")), root) // NO statsCols
    val t = targetFor(root)
    val h = Maintenance.advise(spark, root, "id", t)
    assert(h.action == "index" && h.statsCoverage == 0.0, h.toString)
    val trail = Maintenance.autoMaintain(spark, root, "id", t)
    assert(trail.last.action == "none" && trail.last.statsCoverage == 1.0,
      trail.toString)
  }

  test("merge drift: advice is recluster; the ladder heals to a disjoint fixed point") {
    val root = fresh("drift")
    AtomicTable.commit(spark.range(4000L).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val t = targetFor(root)
    // the engine's own merge produces the drift: low update block + far inserts
    val changes = spark.range(500L, 560L).select(col("id"), lit(-1L).as("nv"))
      .unionAll(spark.range(20L).select((lit(9000000L) + col("id")).as("id"),
        lit(-2L).as("nv")))
    KeyedMerge.merge(spark, root, Seq("id"), changes,
      (b, c) => b.join(c, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nv"), col("v")).as("v")))
    val h = Maintenance.advise(spark, root, "id", t)
    assert(h.action == "recluster" && h.overlapRatio > Maintenance.OverlapThreshold,
      h.toString)
    val trail = Maintenance.autoMaintain(spark, root, "id", t)
    assert(trail.last.action == "none" && trail.last.overlappingFiles == 0,
      trail.toString)
    // each action ran at most once; content survived the heal
    val actions = trail.init.map(_.action)
    assert(actions.distinct.size == actions.size, s"action repeated: $trail")
    assert(AtomicTable.read(spark, root).count() == 4020L)
  }

  test("partial bloom coverage: advice is bloom; re-index carries the widest existing bits") {
    import graft.sinks.KeyBloom
    val root = fresh("bloomcov")
    AtomicTable.commit(spark.range(2000L).select(
      md5(col("id").cast("string")).as("h"), col("id").as("v"))
      .repartitionByRange(8, col("v")), root, statsCols = Seq("h"))
    val t = targetFor(root)
    KeyBloom.indexKeyBloom(spark, root, "h", 1 << 15)
    assert(Maintenance.advise(spark, root, "h", t).action == "none")
    // a partial index: drop half the bloom rows (the interrupted-build shape)
    val live = Paths.get(root, AtomicTable.currentVersion(root).get)
    val all = KeyBloom.loadBlooms(live)
    KeyBloom.writeBlooms(live, all.take(all.size / 2))
    val h = Maintenance.advise(spark, root, "h", t)
    assert(h.action == "bloom" && h.bloomCoverage < 1.0, h.toString)
    val trail = Maintenance.autoMaintain(spark, root, "h", t)
    assert(trail.last.action == "none" && trail.last.bloomCoverage == 1.0,
      trail.toString)
    // re-indexed rows carry the table's own (widened) sizing
    val after = KeyBloom.loadBlooms(live)
    assert(after.size == 8 && after.values.forall(_.bits == (1 << 15)),
      s"re-index lost the table's bloom sizing: ${after.values.map(_.bits).toSet}")
  }

  test("clustered-but-bloomed key: drift still heals; scattered-key overlap reads structural") {
    import graft.sinks.KeyBloom
    // clustered key carrying a bloom: merge drift gives PARTIAL overlap,
    // below the structural band — recluster must still be advised
    val root = fresh("cb")
    AtomicTable.commit(spark.range(8000L).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(16, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val t = targetFor(root)
    KeyBloom.indexKeyBloom(spark, root, "id", KeyBloom.bitsFor(8000L / 16 + 1))
    assert(Maintenance.advise(spark, root, "id", t).action == "none")
    val changes = spark.range(3000L, 3060L).select(col("id"), lit(-1L).as("nv"))
      .unionAll(spark.range(10L).select((lit(9000000L) + col("id")).as("id"),
        lit(-2L).as("nv")))
    KeyedMerge.merge(spark, root, Seq("id"), changes,
      (b, c) => b.join(c, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nv"), col("v")).as("v")))
    val h = Maintenance.advise(spark, root, "id", t)
    assert(h.action == "recluster" &&
      h.overlapRatio > Maintenance.OverlapThreshold &&
      h.overlapRatio < Maintenance.StructuralOverlapRatio,
      s"drift on a bloomed clustered key must still heal: $h")
    val trail = Maintenance.autoMaintain(spark, root, "id", t)
    assert(trail.last.action == "none" && trail.last.overlappingFiles == 0,
      trail.toString)
    // scattered hash key, fully bloomed: ~total overlap from birth is the
    // state the bloom exists FOR — structural, never "reclustered away"
    val rootH = fresh("cbh")
    AtomicTable.commit(spark.range(2000L).select(
      md5(col("id").cast("string")).as("h"), col("id").as("v"))
      .repartitionByRange(8, col("v")), rootH, statsCols = Seq("h"))
    KeyBloom.indexKeyBloom(spark, rootH, "h", KeyBloom.bitsFor(2000L / 8 + 1))
    val hh = Maintenance.advise(spark, rootH, "h", targetFor(rootH))
    assert(hh.action == "none" &&
      hh.overlapRatio >= Maintenance.StructuralOverlapRatio,
      s"scattered-key overlap misread as drift: $hh")
  }

  test("structural is decided by HISTORY: a bloomed clustered key drifted past 90% still heals") {
    import graft.sinks.KeyBloom
    val root = fresh("hist")
    AtomicTable.commit(spark.range(8000L).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(16, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val t = targetFor(root)
    KeyBloom.indexKeyBloom(spark, root, "id", KeyBloom.bitsFor(8000L / 16 + 1))
    // the first-bloom witness: a clustered key records a LOW baseline
    assert(Maintenance.bloomBaseline(root, "id").exists(_ < 0.5))
    // drift past the structural band with the engine's own merge: updates
    // at the BOTTOM + inserts far above max land in one rewrite file
    // spanning the whole key space — every hull overlaps it (ratio ~1.0),
    // and the staging pass CARRIES the blooms (coverage stays full)
    val changes = spark.range(0L, 60L).select(col("id"), lit(-1L).as("nv"))
      .unionAll(spark.range(10L).select((lit(9000000L) + col("id")).as("id"),
        lit(-2L).as("nv")))
    KeyedMerge.merge(spark, root, Seq("id"), changes,
      (b, c) => b.join(c, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nv"), col("v")).as("v")))
    val h = Maintenance.advise(spark, root, "id", t)
    assert(h.overlapRatio >= Maintenance.StructuralOverlapRatio &&
      h.bloomCoverage == 1.0,
      s"fixture premise: want full-bloom >=90% overlap, got $h")
    // the r18 advisory's trap: the instantaneous rule would read this as
    // structural and reach the "none" fixed point with a degraded layout;
    // the recorded baseline proves drift and the ladder must heal it
    assert(h.action == "recluster",
      s"90%-drifted clustered key misread as structural: $h")
    val trail = Maintenance.autoMaintain(spark, root, "id", t)
    assert(trail.last.action == "none" && trail.last.overlappingFiles == 0,
      trail.toString)
  }

  test("multi-key policy: secondary overlap maps to bloom then none, never recluster") {
    val root = fresh("multi")
    val n = 8000L
    // clustered on id (primary); v is a scrambled permutation — every
    // file's v-hull spans the space (the scattered-secondary shape)
    AtomicTable.commit(spark.range(n).select(col("id"),
        (col("id") * 37L % n).as("v"))
      .repartitionByRange(16, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id", "v"))
    val t = targetFor(root)
    val v0 = AtomicTable.currentVersion(root)
    val advice = Maintenance.adviseMulti(spark, root, Seq("id", "v"), t)
    assert(advice.head._2.action == "none", advice.toString)
    // single-key advice on v would recluster (overlapping, unbloomed);
    // the policy downgrades the secondary to the layout-independent heal
    assert(Maintenance.advise(spark, root, "v", t).action == "recluster")
    assert(advice(1)._2.action == "bloom", advice.toString)
    val trails = Maintenance.autoMaintainMulti(spark, root, Seq("id", "v"), t)
    assert(trails("v").last.action == "none", trails("v").toString)
    assert(trails("id").size == 1 && trails("id").head.action == "none")
    // the heal was metadata augmentation only: no version churn, and the
    // primary's clustering untouched
    assert(AtomicTable.currentVersion(root) == v0,
      "secondary heal must not rewrite the table")
    // converged: the single-key advisor now agrees (structural by its own
    // recorded high baseline)
    assert(Maintenance.advise(spark, root, "v", t).action == "none")
  }

  test("adviseTelemetry: rising rewrite fraction recommends recluster from the log alone") {
    val root = fresh("telem")
    (1 to 5).foreach(_ => Maintenance.recordMerge(root, "id", 20, 1, 0))
    assert(Maintenance.adviseTelemetry(root, "id").isEmpty,
      "needs two full windows before judging")
    (1 to 5).foreach(_ => Maintenance.recordMerge(root, "id", 20, 8, 0))
    assert(Maintenance.adviseTelemetry(root, "id").contains("recluster"),
      "0.05 -> 0.40 rewrite fraction is drift")
    // a table that ALWAYS rewrites 40% is shaped that way, not drifting
    val root2 = fresh("telem2")
    (1 to 10).foreach(_ => Maintenance.recordMerge(root2, "id", 20, 8, 0))
    assert(Maintenance.adviseTelemetry(root2, "id").isEmpty)
    // end-to-end: a real merge appends its line
    val root3 = fresh("telem3")
    AtomicTable.commit(spark.range(500L).select(col("id"), col("id").as("v"))
      .repartitionByRange(4, col("id")), root3, statsCols = Seq("id"))
    KeyedMerge.merge(spark, root3, Seq("id"),
      spark.range(5L).select(col("id"), lit(-1L).as("nv")),
      (b, c) => b.join(c, Seq("id"), "left")
        .select(col("id"), coalesce(col("nv"), col("v")).as("v")))
    val log = Paths.get(root3, Maintenance.MaintLog)
    assert(Files.exists(log) &&
      Files.readString(log).linesIterator.exists(_.startsWith("merge\tid\t")),
      "merge did not append its telemetry line")
  }

  test("streaming cadence: autoMaintain between micro-batches keeps the table healthy, exactly-once intact") {
    val root = fresh("stream")
    AtomicTable.commit(spark.range(4000L).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    val t = targetFor(root)
    val upsert = (b: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =>
      b.join(c, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nv"), col("v")).as("v"))
    // three drifting micro-batches (each: a block update + far inserts),
    // the advisor run after every commit — the maintenance loop a real
    // deployment schedules
    (0 until 3).foreach { i =>
      val batch = spark.range(400L + i * 37, 460L + i * 37)
        .select(col("id"), lit(-1L - i).as("nv"))
        .unionAll(spark.range(10L).select(
          (lit(9000000L) + lit(i * 100L) + col("id")).as("id"), lit(-9L).as("nv")))
      val ms = KeyedMerge.commitBatchKeyed(spark, root, "maint-stream", i.toLong,
        Seq("id"), batch, upsert)
      assert(ms.nonEmpty, s"batch $i skipped unexpectedly")
      Maintenance.autoMaintain(spark, root, "id", t)
      val h = Maintenance.advise(spark, root, "id", t)
      assert(h.action == "none", s"batch $i left the table unhealthy: $h")
    }
    // redelivery of batch 2 after maintenance flipped versions: still skipped
    var evaluated = false
    val skipped = KeyedMerge.commitBatchKeyed(spark, root, "maint-stream", 2L,
      Seq("id"), { evaluated = true; spark.range(1).select(col("id"), lit(0L).as("nv")) },
      upsert)
    assert(skipped.isEmpty && !evaluated,
      "maintenance commits must not reset the streaming redelivery guard")
    assert(AtomicTable.read(spark, root).count() == 4030L)
  }

  test("small files: advice is compact; recluster follows if compaction widened hulls") {
    val root = fresh("small")
    // 16 deliberately tiny files of a 400-row table
    AtomicTable.commit(spark.range(400L).select(col("id"), (col("id") * 3L).as("v"))
      .repartitionByRange(16, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    // a target far above any file's size marks everything small
    val t = 1L << 20
    val h = Maintenance.advise(spark, root, "id", t)
    assert(h.action == "compact" && h.smallFiles == 16, h.toString)
    val trail = Maintenance.autoMaintain(spark, root, "id", t)
    assert(trail.last.action == "none" && trail.last.smallFiles <= 1,
      trail.toString)
    assert(AtomicTable.read(spark, root).count() == 400L)
  }

  test("probe telemetry: a delta-bloated manifest triggers compaction advice; the heal makes probes cheaper") {
    import graft.sinks.{BloomManifest, KeyBloom, StatsRead}
    val root = fresh("probeadvise")
    val df = spark.range(3000L).select(col("id"),
      md5(col("id").cast("string")).as("h"), (col("id") * 2L).as("v"))
    AtomicTable.commit(df.repartitionByRange(12, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("h"))
    BloomManifest.indexBloomManifest(spark, root, "h", 1 << 16)
    def hx(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def probeOnce(i: Long): Unit = {
      val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
        Seq(hx(i.toString)))
      assert(out.count() == 1L && rs.footerReads == 0, rs.toString)
    }
    // first window: the fresh single-generation manifest — cheap probes,
    // baseline persisted on first advise
    (1L to Maintenance.TelemetryWindow).foreach(probeOnce)
    assert(Maintenance.adviseManifest(root, "h").isEmpty)
    val base = Maintenance.probeBaseline(root, "h")
    assert(base.exists(_ <= 2.0), base.toString)
    // bloat the delta ledger: each keyed merge's staging pass links the
    // shard set forward and appends fresh shards
    (1 to 10).foreach { i =>
      KeyedMerge.merge(spark, root, Seq("h"),
        spark.range(1).select(md5(lit((i * 100).toString)).as("h"), lit(-i.toLong).as("nv")),
        (b, c) => b.join(c, Seq("h"), "left")
          .select(col("id"), col("h"), coalesce(col("nv"), col("v")).as("v")))
    }
    val dir = Paths.get(root, AtomicTable.currentVersion(root).get)
    val shardsNow = {
      val d = BloomManifest.shardDir(dir).get
      val st = Files.list(d)
      try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally st.close()
    }
    assert(shardsNow >= Maintenance.ProbeShardFloor,
      s"fixture: ledger only reached $shardsNow shards")
    // recent window observes the bloat → the advisory fires from the log
    (1L to Maintenance.TelemetryWindow).foreach(i => probeOnce(i + 20))
    assert(Maintenance.adviseManifest(root, "h").contains("compact-manifest"))
    // the heal (as autoMaintain would run it): one generation again, and
    // the NEXT probe observably scans fewer shards than before
    BloomManifest.compactManifest(spark, root)
    probeOnce(42L)
    val lastLine = Files.readAllLines(
      Paths.get(root, Maintenance.MaintLog)).asScala
      .filter(_.startsWith("probe\t")).last.split("\t")
    assert(lastLine(2).toInt < shardsNow && lastLine(2).toInt <= 2,
      s"post-heal probe still scanned ${lastLine(2)} shards (was $shardsNow)")
  }

  test("composite manifest probe cost advises too: autoMaintainMulti heals the tuple ledger") {
    import graft.sinks.{BloomManifest, CompositeKey, StatsRead}
    val root = fresh("probeadvise_ck")
    val df = spark.range(3000L).select(col("id"),
      md5(col("id").cast("string")).as("h1"),
      md5((col("id") + 7777L).cast("string")).as("h2"), (col("id") * 2L).as("v"))
    AtomicTable.commit(df.repartitionByRange(12, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("h1", "h2"))
    BloomManifest.indexBloomManifestTuple(spark, root, Seq("h1", "h2"), 1 << 16)
    def hx(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    import spark.implicits._
    def probeOnce(i: Long): Unit = {
      val (out, rs) = StatsRead.readTupleIn(spark, root, Seq("h1", "h2"),
        Seq((hx(i.toString), hx((i + 7777L).toString))).toDF("h1", "h2"))
      assert(out.count() == 1L && rs.footerReads == 0, rs.toString)
    }
    (1L to Maintenance.TelemetryWindow).foreach(probeOnce)
    val cname = CompositeKey.colName(Seq("h1", "h2"))
    assert(Maintenance.adviseManifest(root, cname).isEmpty)
    // bloat the ledger through tuple merges, then observe through probes
    (1 to 10).foreach { i =>
      KeyedMerge.merge(spark, root, Seq("h1", "h2"),
        spark.range(1).select(md5(lit((i * 100).toString)).as("h1"),
          md5(lit((i * 100 + 7777).toString)).as("h2"), lit(-i.toLong).as("nv")),
        (b, c) => b.join(c, Seq("h1", "h2"), "left")
          .select(col("id"), col("h1"), col("h2"),
            coalesce(col("nv"), col("v")).as("v")))
    }
    (1L to Maintenance.TelemetryWindow).foreach(i => probeOnce(i + 20))
    assert(Maintenance.adviseManifest(root, cname).contains("compact-manifest"))
    // the heal fires from the MULTI-key cadence hook (the probes recorded
    // under the COMPOSITE cname, which the single-key ladder never reads)
    Maintenance.autoMaintainMulti(spark, root, Seq("h1", "h2"))
    val dir = Paths.get(root, AtomicTable.currentVersion(root).get)
    val shards = {
      val d = BloomManifest.shardDir(dir).get
      val st = Files.list(d)
      try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally st.close()
    }
    assert(shards <= 2, s"autoMaintainMulti did not compact the tuple ledger: $shards shards")
    probeOnce(42L)
  }

  test("adviseTelemetry persists the first-window mean and compares against it") {
    val root = fresh("mergebase")
    Files.createDirectories(Paths.get(root))
    // 5 healthy merges (rewrite 1/10) then 5 decayed ones (4/10): the first
    // advise must both fire and persist the first-window witness
    (1 to 5).foreach(_ => Maintenance.recordMerge(root, "id", 10, 1, 0))
    (1 to 5).foreach(_ => Maintenance.recordMerge(root, "id", 10, 4, 0))
    assert(Maintenance.mergeBaseline(root, "id").isEmpty)
    assert(Maintenance.adviseTelemetry(root, "id").contains("recluster"))
    val base = Maintenance.mergeBaseline(root, "id")
    assert(base.exists(b => math.abs(b - 0.1) < 1e-9), base.toString)
    // simulate the self-compaction losing the early lines: even with ONLY
    // decayed lines retained (recent-vs-recent mean ratio 1.0 — the r19
    // advisory trap), the persisted witness keeps the drift visible
    val p = Paths.get(root, Maintenance.MaintLog)
    val kept = Files.readAllLines(p).asScala.toSeq
      .filter(l => l.startsWith("mergebase\t") ||
        (l.startsWith("merge\t") && l.endsWith("\t4\t0")))
    Files.writeString(p, kept.mkString("\n") + "\n")
    // top the retained decayed tail back up to 2 windows
    (1 to 5).foreach(_ => Maintenance.recordMerge(root, "id", 10, 4, 0))
    assert(Maintenance.adviseTelemetry(root, "id").contains("recluster"),
      "drift signal degenerated to recent-vs-recent after compaction")
    // and a genuinely always-hot table (flat history, no witness gap)
    // still does NOT fire: baseline == recent
    val root2 = fresh("mergeflat")
    Files.createDirectories(Paths.get(root2))
    (1 to 10).foreach(_ => Maintenance.recordMerge(root2, "id", 10, 4, 0))
    assert(Maintenance.adviseTelemetry(root2, "id").isEmpty)
    assert(Maintenance.mergeBaseline(root2, "id").exists(b => math.abs(b - 0.4) < 1e-9))
  }
}
