package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.{AtomicTable, ScriptSinks, SinkQueries}
import graft.ops.SerpCache

/** Sink and cache invariants beyond the oracle hash checks. */
class SinkSpec extends AnyFunSuite {

  lazy val spark = Sessions.local(4)

  test("S9 upsert: update wins, partial update keeps existing, insert stamped") {
    val rows = SinkQueries.qS9Upsert(spark, "").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.size == 4)
    assert(rows("g1").getAs[Double]("rating") == 4.6) // updated
    assert(rows("g2").getAs[Double]("rating") == 4.0) // null incoming keeps existing
    assert(rows("g2").getAs[String]("name") == "Old Bar Renamed")
    assert(rows("g3").getAs[String]("first_ingested_date") == "2024-03-01") // untouched
    assert(rows("g4").getAs[String]("first_ingested_date") == "2025-06-01") // insert stamped asOf
  }

  test("S10 conditional append: suppresses fresh, allows >=7d and new keys") {
    val kept = SinkQueries.qS10ConditionalAppend(spark, "").collect()
      .map(r => (r.getString(0), r.getString(4))).toSet
    assert(kept == Set(
      ("p1", "2025-06-07"), // 8 days after latest → allowed
      ("p9", "2025-06-01"), // new poi → allowed
      ("p4", "2025-06-05"))) // exactly 7 days → allowed (>= boundary)
    // ("p1","2025-06-01") at 2 days is suppressed
  }

  test("incremental pipeline: day-2 suppression sees day-1 accepted snapshots") {
    val rows = SinkQueries.qIncrementalPipeline(spark, "").collect()
      .map(r => r.getString(1) -> r).toMap
    // candidates: never-scored (g4, g5, g6) nulls-first by updated_at desc,
    // then g1 (scored long ago); g2 skipped (scored within 24 h of day 2),
    // g3 excluded (stale update, previously scored)
    assert(rows.keySet == Set("g1", "g4", "g5", "g6"))
    assert(rows("g6").getLong(0) == 1L && rows("g5").getLong(0) == 2L &&
      rows("g4").getLong(0) == 3L && rows("g1").getLong(0) == 4L)
    // g1's day-2 snapshot landed 1 day after its ACCEPTED day-1 snapshot →
    // suppressed, so g1 keeps 2 snapshots (base + day 1), g5 keeps 1
    assert(rows("g1").getAs[Long]("n_snapshots") == 2L)
    assert(rows("g5").getAs[Long]("n_snapshots") == 1L)
    assert(rows("g6").getAs[Long]("n_snapshots") == 1L)
    assert(rows("g4").getAs[Long]("n_snapshots") == 0L)
    // day-1 insert g5 carries its stamped first_ingested date into day 2
    assert(rows("g5").getAs[String]("first_ingested_date") == "2025-06-06")
  }

  test("S14 sql-codegen sink: escaped upsert script assembles in order") {
    val stmts = ScriptSinks.qS14SqlCodegen(spark, "")
    val rows = stmts.collect()
    assert(rows.length == 98)
    // the real data exercises the quote-escaping path
    val aux = rows.map(_.getString(2)).find(_.contains("Auxerrois"))
    assert(aux.exists(_.contains("l''Auxerrois")), "apostrophes must be doubled")
    assert(rows.forall(_.getString(2).endsWith("created_at = NOW();")))
    val out = java.nio.file.Files.createTempDirectory("graftsql").resolve("geom.sql")
    ScriptSinks.writeSqlScript(stmts, out.toString)
    val script = java.nio.file.Files.readString(out)
    assert(script.startsWith("-- Geometry upsert script"))
    assert(script.contains("BEGIN;") && script.trim.endsWith("COMMIT;"))
    assert("INSERT INTO urban_areas".r.findAllIn(script).length == 98)
  }

  test("S15 blob sink: written files match the manifest paths and sizes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val photos = Seq(
      ("p1", "hello world", 0.87), ("p1", "other bytes", 0.29), ("p2", "x", 0.999))
      .toDF("poi_id", "text", "quality")
      .select(col("poi_id"), col("text").cast("binary").as("payload"), col("quality"))
    val root = java.nio.file.Files.createTempDirectory("graftblobs").toString
    ScriptSinks.writeBlobs(photos, root)
    val manifest = ScriptSinks.blobManifest(photos).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(manifest.length == 3)
    // truncation semantics: int(0.29 * 100) = 28, not 29
    assert(manifest.exists(_._1.startsWith("p1/28_")))
    assert(manifest.exists(_._1.startsWith("p2/99_")))
    manifest.foreach { case (rel, len) =>
      val p = java.nio.file.Paths.get(root, rel)
      assert(java.nio.file.Files.exists(p), s"missing $rel")
      assert(java.nio.file.Files.size(p) == len)
    }
  }

  test("atomic commit: a reader between stage and publish still sees the old version") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftatomic").toString
    AtomicTable.commit(Seq(("g1", 1), ("g2", 1)).toDF("k", "ver"), root)
    assert(AtomicTable.read(spark, root).count() == 2)

    // merge in flight: v2 fully staged on disk, manifest not yet flipped
    val staged = AtomicTable.stage(
      Seq(("g1", 2), ("g2", 2), ("g3", 2)).toDF("k", "ver"), root)
    val during = AtomicTable.read(spark, root).collect()
    assert(during.length == 2 && during.forall(_.getInt(1) == 1),
      "reader observed staged-but-unpublished data")

    AtomicTable.publish(root, staged)
    val after = AtomicTable.read(spark, root).collect()
    assert(after.length == 3 && after.forall(_.getInt(1) == 2))
  }

  test("atomic commit: an abandoned stage (crash before publish) is never exposed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftatomic2").toString
    AtomicTable.commit(Seq(("a", 1)).toDF("k", "ver"), root)
    AtomicTable.stage(Seq(("a", 2), ("b", 2)).toDF("k", "ver"), root) // writer dies here
    assert(AtomicTable.read(spark, root).collect().forall(_.getInt(1) == 1))
    // the next writer commits over the orphan and wins cleanly
    AtomicTable.commit(Seq(("a", 3), ("b", 3), ("c", 3)).toDF("k", "ver"), root)
    val rows = AtomicTable.read(spark, root).collect()
    assert(rows.length == 3 && rows.forall(_.getInt(1) == 3))
  }

  test("commitAppend: live files hard-link (inode-verified), sidecar carries and extends, blooms self-maintain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.nio.file.Paths
    val root = java.nio.file.Files.createTempDirectory("graftappend").toString
    AtomicTable.commitAppend(
      spark.range(1000L).select(col("id"), md5(col("id").cast("string")).as("h"))
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    graft.sinks.KeyBloom.indexKeyBloom(spark, root, "h")
    def parts(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val st = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      } finally st.close()
    }
    val v1 = Paths.get(root, AtomicTable.currentVersion(root).get)
    val v1Parts = parts(v1)
    AtomicTable.commitAppend(
      spark.range(1000L, 1010L).select(col("id"), md5(col("id").cast("string")).as("h")),
      root)
    val v2 = Paths.get(root, AtomicTable.currentVersion(root).get)
    assert(v2 != v1)
    // every v1 part is inode-identical in v2 (linked, not copied/rewritten)
    v1Parts.foreach { p =>
      assert(graft.sinks.KeyedMerge.sameInode(p, v2.resolve(p.getFileName.toString)),
        s"append did not hard-link ${p.getFileName}")
    }
    assert(AtomicTable.read(spark, root).count() == 1010L)
    // sidecar: carried rows + fresh-file rows on EVERY indexed column
    val side = graft.sinks.KeyStats.loadStats(v2)
    val v1Names = v1Parts.map(_.getFileName.toString).toSet
    val freshNames = parts(v2).map(_.getFileName.toString).filterNot(v1Names)
    assert(freshNames.nonEmpty)
    freshNames.foreach { n =>
      assert(side.contains((n, "id")), s"fresh append file $n missing id stats")
    }
    // blooms: fresh files got rows rebuilt; the appended key is findable
    val blooms = graft.sinks.KeyBloom.loadBlooms(v2)
    freshNames.foreach { n =>
      assert(blooms.contains((n, "h")), s"fresh append file $n missing bloom row")
    }
    val probe = java.security.MessageDigest.getInstance("MD5")
      .digest("1005".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (out, rs) = graft.sinks.StatsRead.readStringKeyIn(spark, root, "h", Seq(probe))
    assert(out.select("id").as[Long].collect().toSeq == Seq(1005L))
    assert(rs.footerReads == 0 && rs.filesRead <= 2, rs.toString)
  }

  test("commitBatch: redelivered ids skip, legacy manifests upgrade, ids survive plain commits") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftbatch").toString
    // legacy path: a plain commit carries no batch id
    AtomicTable.commit(Seq(("a", 1)).toDF("k", "ver"), root)
    assert(AtomicTable.lastBatchId(root).isEmpty)
    // first streaming batch applies and records its id
    assert(AtomicTable.commitBatch(Seq(("a", 2)).toDF("k", "ver"), root, "app1", 0L))
    assert(AtomicTable.lastBatch(root).contains(("app1", 0L)))
    // same id redelivered (crash-before-checkpoint): skipped, never evaluated
    assert(!AtomicTable.commitBatch(
      spark.range(1).select(org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit("evaluated")).as("boom")), root, "app1", 0L))
    assert(AtomicTable.read(spark, root).collect().map(_.getInt(1)).toSeq == Seq(2))
    // a later id applies; a STALE id after it is also a no-op (<= semantics)
    assert(AtomicTable.commitBatch(Seq(("a", 3)).toDF("k", "ver"), root, "app1", 1L))
    assert(!AtomicTable.commitBatch(Seq(("a", 99)).toDF("k", "ver"), root, "app1", 0L))
    assert(AtomicTable.read(spark, root).collect().map(_.getInt(1)).toSeq == Seq(3))
    // a plain maintenance commit between batches CARRIES the tag forward, so
    // a redelivery arriving after it is still a no-op
    AtomicTable.commit(Seq(("a", 4)).toDF("k", "ver"), root)
    assert(AtomicTable.lastBatch(root).contains(("app1", 1L)),
      "plain commit erased the absorbed-batch tag")
    assert(!AtomicTable.commitBatch(Seq(("a", 99)).toDF("k", "ver"), root, "app1", 1L))
    assert(AtomicTable.read(spark, root).collect().map(_.getInt(1)).toSeq == Seq(4))
    // a DIFFERENT query identity restarting its ids at 0 (fresh checkpoint)
    // is new data, not a redelivery — it must apply
    assert(AtomicTable.commitBatch(Seq(("a", 5)).toDF("k", "ver"), root, "app2", 0L))
    assert(AtomicTable.lastBatch(root).contains(("app2", 0L)))
    assert(AtomicTable.read(spark, root).collect().map(_.getInt(1)).toSeq == Seq(5))
  }

  test("atomic commit: every read during a commit storm is one complete version") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftatomic3").toString
    // version v has exactly v rows, all tagged v — a torn read would mix tags
    // or see a count that disagrees with its tag
    AtomicTable.commit(Seq.fill(1)(1).toDF("ver"), root)
    val writer = new Thread(() => (2 to 6).foreach { v =>
      AtomicTable.commit(Seq.fill(v)(v).toDF("ver"), root)
    })
    writer.start()
    try {
      while (writer.isAlive) {
        try {
          val rows = AtomicTable.read(spark, root).collect()
          val vers = rows.map(_.getInt(0)).distinct
          assert(vers.length == 1, s"torn read mixed versions: ${vers.toSeq}")
          assert(rows.length == vers.head,
            s"version ${vers.head} read with ${rows.length} rows")
        } catch {
          // a reader >=2 versions behind can lose its directory to retention
          // (KeepVersions bounds the window); that is the documented
          // snapshot-lifetime tradeoff, not a torn read — only tearing fails
          case _: org.apache.spark.sql.AnalysisException => ()
          case e: org.apache.spark.SparkException
            // Spark words the lost-to-retention read two ways depending on
            // where the prune lands: FileNotFound (listing) or
            // FAILED_READ_FILE.FILE_NOT_EXIST (mid-scan)
            if e.getMessage != null && (e.getMessage.contains("FileNotFound") ||
              e.getMessage.contains("FILE_NOT_EXIST")) => ()
        }
      }
    } finally writer.join()
    // retention: live + predecessor kept, older pruned
    val kept = new java.io.File(root).list().filter(_.startsWith("v")).sorted
    assert(kept.sameElements(Array("v5", "v6")), kept.mkString(","))
  }

  test("mergeCommit: two sessions racing interleaved merges land every row exactly once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftocc").toString
    val batchesPerWriter = 5
    val rowsPerBatch = 3
    // each writer appends its own disjoint batches through the optimistic
    // path; a lost-update (last-writer-wins overwrite) would drop a whole
    // batch, a double-apply on CAS retry would duplicate one
    def writer(session: org.apache.spark.sql.SparkSession, wid: Int) = new Thread(() => {
      import session.implicits._
      (0 until batchesPerWriter).foreach { b =>
        val incoming = (0 until rowsPerBatch)
          .map(i => (s"w$wid-b$b-r$i", wid, b)).toDF("id", "writer", "batch")
        AtomicTable.mergeCommit(session, root) {
          case None       => incoming
          case Some(live) => live.unionByName(incoming)
        }
      }
    })
    val t1 = writer(spark, 1)
    val t2 = writer(spark.newSession(), 2)
    t1.start(); t2.start(); t1.join(); t2.join()
    val rows = AtomicTable.read(spark, root).collect().map(_.getString(0))
    assert(rows.length == 2 * batchesPerWriter * rowsPerBatch,
      s"expected every batch exactly once, got ${rows.length} rows")
    assert(rows.distinct.length == rows.length, "CAS retry double-applied a batch")
    // every commit claimed its own version number: the chain is linear
    assert(AtomicTable.currentVersion(root).contains(s"v${2 * batchesPerWriter}"))
    // no abandoned staging dirs survive a clean run
    assert(AtomicTable.vacuumStaging(root, olderThanMs = -1) == 0)
  }

  test("mergeCommit: an orphaned claim (crash between rename and flip) is adopted, not starved") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftoccadopt").toString
    AtomicTable.mergeCommit(spark, root) { _ => Seq(("a", 1)).toDF("k", "src") }
    // simulate a writer that fully staged and CAS-renamed v2, then died
    // before flipping the manifest: complete data + the protocol's own
    // completeness marker (what mergeCommit writes pre-rename), stale _CURRENT
    val tmp = java.nio.file.Files.createTempDirectory("graftstage").toString
    Seq(("b", 2)).toDF("k", "src").write.mode("overwrite").parquet(tmp)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_GRAFT_COMMITTED"), Array.emptyByteArray)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(root, "v2"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(AtomicTable.currentVersion(root).contains("v1"))

    // the next writer must adopt v2 (it is complete) and land its merge as v3
    AtomicTable.mergeCommit(spark, root) {
      case Some(live) => live.unionByName(Seq(("c", 3)).toDF("k", "src"))
      case None       => Seq(("c", 3)).toDF("k", "src")
    }
    assert(AtomicTable.currentVersion(root).contains("v3"))
    val rows = AtomicTable.read(spark, root).collect().map(_.getString(0)).sorted
    assert(rows.sameElements(Array("b", "c")),
      s"merge must rebase on the ADOPTED v2 (its data is the base): ${rows.mkString(",")}")
  }

  test("mergeCommit: a torn claimed dir (no completeness marker) is cleared, not adopted") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftocctorn").toString
    AtomicTable.mergeCommit(spark, root) { _ => Seq(("a", 1)).toDF("k", "src") }
    // a crashed bare stage: directory with data fragments but no _SUCCESS
    val torn = java.nio.file.Paths.get(root, "v2")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("part-junk.parquet"), "partial")
    AtomicTable.mergeCommit(spark, root) {
      case Some(live) => live.unionByName(Seq(("d", 4)).toDF("k", "src"))
      case None       => Seq(("d", 4)).toDF("k", "src")
    }
    assert(AtomicTable.currentVersion(root).contains("v2"))
    val rows = AtomicTable.read(spark, root).collect().map(_.getString(0)).sorted
    assert(rows.sameElements(Array("a", "d")),
      s"torn dir must be discarded, merge based on v1: ${rows.mkString(",")}")
  }

  test("mergeCommit: adoption works with Spark committer markers disabled") {
    // Deployments can set marksuccessfuljobs=false; adoption must key on the
    // protocol's own _GRAFT_COMMITTED, not on the _SUCCESS Spark happens to
    // emit (VERDICT r14 advisory: with _SUCCESS-keyed adoption, a COMPLETE
    // claim would be misjudged as a crashed stage and deleted).
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = hconf.get("mapreduce.fileoutputcommitter.marksuccessfuljobs")
    hconf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    try {
      val root = java.nio.file.Files.createTempDirectory("graftoccnosucc").toString
      AtomicTable.mergeCommit(spark, root) { _ => Seq(("a", 1)).toDF("k", "src") }
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "v1", "_SUCCESS")),
        "precondition: committer markers must actually be off")
      // orphaned complete claim (rename done, flip lost), no _SUCCESS anywhere
      val tmp = java.nio.file.Files.createTempDirectory("graftstage2").toString
      Seq(("b", 2)).toDF("k", "src").write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "_GRAFT_COMMITTED"), Array.emptyByteArray)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(root, "v2"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      AtomicTable.mergeCommit(spark, root) {
        case Some(live) => live.unionByName(Seq(("c", 3)).toDF("k", "src"))
        case None       => Seq(("c", 3)).toDF("k", "src")
      }
      assert(AtomicTable.currentVersion(root).contains("v3"))
      val rows = AtomicTable.read(spark, root).collect().map(_.getString(0)).sorted
      assert(rows.sameElements(Array("b", "c")),
        s"complete markerless-_SUCCESS claim must still be adopted: ${rows.mkString(",")}")
    } finally {
      if (prev == null) hconf.unset("mapreduce.fileoutputcommitter.marksuccessfuljobs")
      else hconf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", prev)
    }
  }

  test("mergeCommit: a bare stage() claim (has _SUCCESS, no protocol marker) is not force-published") {
    // The other half of the same advisory: a deliberately staged-but-
    // unpublished single-writer version carries Spark's _SUCCESS but not the
    // protocol marker — _SUCCESS-keyed adoption would force-publish data its
    // writer never committed. It must be treated as an orphan and cleared.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftoccbare").toString
    AtomicTable.mergeCommit(spark, root) { _ => Seq(("a", 1)).toDF("k", "src") }
    val staged = AtomicTable.stage(Seq(("z", 9)).toDF("k", "src"), root) // v2, never published
    assert(staged == "v2")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v2", "_SUCCESS")))
    AtomicTable.mergeCommit(spark, root) {
      case Some(live) => live.unionByName(Seq(("c", 3)).toDF("k", "src"))
      case None       => Seq(("c", 3)).toDF("k", "src")
    }
    val rows = AtomicTable.read(spark, root).collect().map(_.getString(0)).sorted
    assert(rows.sameElements(Array("a", "c")),
      s"the unpublished stage's data must NOT be force-published: ${rows.mkString(",")}")
  }

  test("mergeCommit: age-gated retention lets a slow reader finish against a commit burst") {
    // With count-only retention (KeepVersions=2), three committers racing can
    // prune the directory a reader resolved moments earlier. The age gate
    // guarantees any version younger than pruneAgeMs survives, so a reader
    // whose scan starts within the window never loses its files mid-collect.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftoccslow").toString
    AtomicTable.mergeCommit(spark, root) { _ => Seq((0, 0)).toDF("wid", "batch") }
    val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val committers = (1 to 3).map { wid =>
      val session = spark.newSession()
      new Thread(() => {
        import session.implicits._
        try (1 to 4).foreach { b =>
          AtomicTable.mergeCommit(session, root) {
            case Some(live) => live.unionByName(Seq((wid, b)).toDF("wid", "batch"))
            case None       => Seq((wid, b)).toDF("wid", "batch")
          }
        } catch { case t: Throwable => failures.compareAndSet(null, t) }
      })
    }
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val df = AtomicTable.read(spark, root) // resolves _CURRENT now...
          Thread.sleep(20)                       // ...scan starts "late"
          df.collect()                           // must still find its files
        }
      } catch { case t: Throwable => failures.compareAndSet(null, t) }
    })
    reader.start(); committers.foreach(_.start()); committers.foreach(_.join())
    stop.set(true); reader.join()
    assert(failures.get() == null,
      s"slow reader or committer failed under burst: ${failures.get()}")
    // 13 versions committed in well under the age window: ALL must survive
    assert(AtomicTable.versions(root).size == 13,
      s"age gate must retain burst versions: ${AtomicTable.versions(root)}")
    // and pruneAgeMs=0 restores count-based retention on the next commit
    AtomicTable.mergeCommit(spark, root, pruneAgeMs = 0L) {
      case Some(live) => live
      case None       => Seq((9, 9)).toDF("wid", "batch")
    }
    assert(AtomicTable.versions(root) == Seq("v13", "v14"),
      s"explicit pruneAgeMs=0 must restore the count window: ${AtomicTable.versions(root)}")
  }

  test("mergeCommit: fresh-table race — exactly one writer seeds v1, the other rebases") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftocc2").toString
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(session: org.apache.spark.sql.SparkSession, wid: Int) = new Thread(() => {
      import session.implicits._
      val incoming = Seq((s"seed-$wid", wid)).toDF("id", "writer")
      barrier.await() // both observe base=None before either commits
      AtomicTable.mergeCommit(session, root) {
        case None       => incoming
        case Some(live) => live.unionByName(incoming)
      }
    })
    val t1 = writer(spark, 1)
    val t2 = writer(spark.newSession(), 2)
    t1.start(); t2.start(); t1.join(); t2.join()
    val ids = AtomicTable.read(spark, root).collect().map(_.getString(0)).sorted
    assert(ids.sameElements(Array("seed-1", "seed-2")),
      s"fresh-table race lost a seed: ${ids.mkString(",")}")
    assert(AtomicTable.currentVersion(root).contains("v2"))
  }

  test("time travel: previous version stays queryable, pruned versions fail loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("grafttt").toString
    AtomicTable.commit(Seq(("g1", 1)).toDF("k", "ver"), root)
    AtomicTable.commit(Seq(("g1", 2)).toDF("k", "ver"), root)
    AtomicTable.commit(Seq(("g1", 3)).toDF("k", "ver"), root)
    assert(AtomicTable.versions(root) == Seq("v2", "v3")) // retention window 2
    assert(AtomicTable.previousVersion(root).contains("v2"))
    assert(AtomicTable.readVersion(spark, root, "v2").collect().head.getInt(1) == 2)
    assert(AtomicTable.read(spark, root).collect().head.getInt(1) == 3)
    intercept[IllegalStateException] {
      AtomicTable.readVersion(spark, root, "v1") // pruned: loud, not live-fallback
    }
  }

  test("commitAppend: a schema-drifting batch fails loudly before publish") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graftappdrift").toString
    AtomicTable.commitAppend(
      spark.range(100L).select(col("id"), (col("id") * 3L).as("v")), root)
    val v1 = AtomicTable.currentVersion(root)
    // retyped column: v drifts long -> double — the mixed-schema version a
    // plain read would interpret silently wrong must never publish
    val e1 = intercept[IllegalStateException] {
      AtomicTable.commitAppend(
        spark.range(100L, 110L).select(col("id"), (col("id") * 1.5).as("v")), root)
    }
    assert(e1.getMessage.contains("schema drifts"), e1.getMessage)
    // extra column drifts too
    intercept[IllegalStateException] {
      AtomicTable.commitAppend(
        spark.range(100L, 110L).select(col("id"), (col("id") * 3L).as("v"),
          lit("x").as("extra")), root)
    }
    assert(AtomicTable.currentVersion(root) == v1,
      "a drifted append published a version")
    assert(AtomicTable.read(spark, root).count() == 100L)
    // a conforming append still lands
    AtomicTable.commitAppend(
      spark.range(100L, 110L).select(col("id"), (col("id") * 3L).as("v")), root)
    assert(AtomicTable.read(spark, root).count() == 110L)
  }

  test("S4 cache: HIT within TTL, STALE past TTL, MISS when absent") {
    val st = SerpCache.qCacheLookup(spark, "").collect()
      .map(r => r.getString(0) -> (r.getString(4), Option(r.getString(2)))).toMap
    assert(st("q1") == (("HIT", Some("resp1"))))   // 10h old, 24h TTL
    assert(st("q2") == (("STALE", None)))          // 3.5d old, 24h TTL
    assert(st("q3") == (("HIT", Some("resp3"))))   // 30min old, 1h TTL
    assert(st("q4") == (("MISS", None)))
    assert(st("q5") == (("HIT", Some("resp4"))))   // 6.5d old, 7d TTL
  }
}
