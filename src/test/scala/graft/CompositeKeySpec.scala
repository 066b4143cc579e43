package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, BloomManifest, CompositeKey, KeyBloom,
  KeyedMerge, StatsRead, TargetedDelete}

/** Composite-key contracts the declared queries prove only in aggregate:
  * the framed tuple encoding is injective, the conjunctive hull veto
  * prunes strictly tighter than either column alone, both bloom backends
  * serve tuples and SELF-MAINTAIN across merges, the distributed
  * (>threshold) regime lands the same rows, and NULL components never
  * match. */
class CompositeKeySpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(rm) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def fresh(name: String): String = {
    val root = s"spark-warehouse/ck_$name"; rm(Paths.get(root)); root
  }

  private def liveDir(root: String): Path =
    Paths.get(root, AtomicTable.currentVersion(root).get)

  private def parts(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally st.close()
  }

  test("tuple bytes are length-framed (injective across component splits)") {
    val k2 = Seq("string", "string")
    assert(!java.util.Arrays.equals(
      CompositeKey.tupleBytes(k2, Seq("ab", "c")),
      CompositeKey.tupleBytes(k2, Seq("a", "bc"))))
    assert(java.util.Arrays.equals(
      CompositeKey.tupleBytes(k2, Seq("ab", "c")),
      CompositeKey.tupleBytes(k2, Seq("ab", "c"))))
    // long components canonicalize through the same 8-byte form as the
    // single-key bloom, int inputs included
    assert(java.util.Arrays.equals(
      CompositeKey.tupleBytes(Seq("long", "string"), Seq(7L, "x")),
      CompositeKey.tupleBytes(Seq("long", "string"), Seq(java.lang.Integer.valueOf(7), "x"))))
  }

  /** 16-file table clustered on (grp, name): grp has 4 values (each
    * spanning ~4 files), name subdivides — the fixture where conjunction
    * beats either column alone. */
  private def mentionsTable(root: String): Unit = {
    val df = spark.range(1600L).select(
      (col("id") % 4).as("grp"),
      format_string("n%04d", col("id")).as("name"),
      (col("id") * 3L).as("v"))
    AtomicTable.commit(
      df.repartitionByRange(16, col("grp"), col("name"))
        .sortWithinPartitions(col("grp"), col("name")),
      root, statsCols = Seq("grp", "name"))
  }

  test("conjunctive hull veto: tuple prune touches fewer files than either column") {
    val root = fresh("conj")
    mentionsTable(root)
    import spark.implicits._
    // one tuple: grp=2, name of id 998 (998 % 4 = 2)
    val tuples = Seq((2L, "n0998")).toDF("grp", "name")
    val (out, rs) = StatsRead.readTupleIn(spark, root, Seq("grp", "name"), tuples)
    assert(out.select("v").as[Long].collect().toSeq == Seq(998L * 3))
    assert(rs.footerReads == 0, rs.toString)
    // grp=2 alone spans ~4 of 16 files; the conjunction must beat it
    val live = liveDir(root)
    val hulls = graft.sinks.KeyStats.loadStats(live).collect {
      case ((f, c), r) if c == "grp" && r.kind == "long" => (f, r)
    }
    val grpOnly = hulls.count { case (_, r) => r.min.toLong <= 2L && 2L <= r.max.toLong }
    assert(grpOnly >= 3, s"fixture: grp hulls admit $grpOnly files")
    assert(rs.filesRead < grpOnly && rs.filesRead >= 1,
      s"conjunction planned ${rs.filesRead}, first column alone $grpOnly")
  }

  test("composite merge: update + insert land exactly, reuse is hard-linked, sidecar self-maintains") {
    val root = fresh("merge")
    mentionsTable(root)
    val prev = liveDir(root)
    import spark.implicits._
    val changes = Seq((2L, "n0998", -7L), (3L, "n0999", -8L), (1L, "zzz-new", -9L))
      .toDF("grp", "name", "nv")
    val ms = KeyedMerge.merge(spark, root, Seq("grp", "name"),
      changes, (b, c) => b.join(c, Seq("grp", "name"), "full_outer")
        .select(col("grp"), col("name"), coalesce(col("nv"), col("v")).as("v")))
    assert(ms.footerReads == 0 && ms.rewrittenFiles <= 3 && ms.rewrittenFiles >= 1 &&
      ms.reusedFiles >= ms.totalFiles - 3, ms.toString)
    val cur = liveDir(root)
    val reused = parts(cur).map(_.getFileName.toString)
      .filter(n => Files.exists(prev.resolve(n)))
    assert(reused.nonEmpty)
    assert(KeyedMerge.sameInode(prev.resolve(reused.head), cur.resolve(reused.head)))
    val rows = AtomicTable.read(spark, root)
      .filter(col("v") < 0).select("grp", "name", "v").as[(Long, String, Long)]
      .collect().toSet
    assert(rows == Set((2L, "n0998", -7L), (3L, "n0999", -8L), (1L, "zzz-new", -9L)))
    assert(AtomicTable.read(spark, root).count() == 1601L)
    // the NEXT tuple merge still prunes with zero footer reads — the
    // sidecar self-maintained through the staging pass
    val ms2 = KeyedMerge.merge(spark, root, Seq("grp", "name"),
      Seq((0L, "n0004", -11L)).toDF("grp", "name", "nv"),
      (b, c) => b.join(c, Seq("grp", "name"), "full_outer")
        .select(col("grp"), col("name"), coalesce(col("nv"), col("v")).as("v")))
    assert(ms2.footerReads == 0 && ms2.rewrittenFiles <= 2, ms2.toString)
  }

  test("NULL components match nothing: merge/delete/read all pass them through") {
    val root = fresh("nulls")
    mentionsTable(root)
    import spark.implicits._
    val pairs = Seq((Some(2L), Some("n0998")), (None, Some("n0001")),
      (Some(1L), None)).toDF("grp", "name")
    val ms = TargetedDelete.deleteTupleKeys(spark, root, Seq("grp", "name"), pairs)
    assert(ms.footerReads == 0, ms.toString)
    assert(AtomicTable.read(spark, root).count() == 1599L,
      "a NULL-component tuple deleted a row")
    val (out, _) = StatsRead.readTupleIn(spark, root, Seq("grp", "name"),
      Seq((Option.empty[Long], Some("n0001"))).toDF("grp", "name"))
    assert(out.count() == 0L, "a NULL-component tuple matched rows")
  }

  test("composite TSV bloom on scattered columns: prune past powerless hulls, self-maintains") {
    val root = fresh("bloom")
    val df = spark.range(2000L).select(col("id"),
      md5(col("id").cast("string")).as("h1"),
      md5((col("id") + 9999L).cast("string")).as("h2"),
      (col("id") * 2L).as("v"))
    AtomicTable.commit(df.repartitionByRange(16, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("h1", "h2"))
    assert(KeyBloom.indexKeyBloomTuple(spark, root, Seq("h1", "h2"), 1 << 16) == 16)
    def hx(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    import spark.implicits._
    val tuples = Seq((hx("42"), hx("10041"))).toDF("h1", "h2")
    val (out, rs) = StatsRead.readTupleIn(spark, root, Seq("h1", "h2"), tuples)
    assert(out.select("id").as[Long].collect().toSeq == Seq(42L))
    assert(rs.footerReads == 0 && rs.filesRead <= 3, rs.toString)
    // merge through the same bloom; fresh files get composite rows REBUILT
    val ms = KeyedMerge.merge(spark, root, Seq("h1", "h2"),
      Seq((hx("42"), hx("10041"), -1L)).toDF("h1", "h2", "nv"),
      (b, c) => b.join(c, Seq("h1", "h2"), "left")
        .select(col("id"), col("h1"), col("h2"),
          coalesce(col("nv"), col("v")).as("v")))
    assert(ms.footerReads == 0 && ms.rewrittenFiles <= 3 &&
      ms.bloomSkipped >= ms.totalFiles / 2, ms.toString)
    val cname = CompositeKey.colName(Seq("h1", "h2"))
    val blooms = KeyBloom.loadBlooms(liveDir(root))
    val freshNames = parts(liveDir(root))
      .map(_.getFileName.toString)
      .filterNot(n => blooms.contains((n, cname)))
    assert(freshNames.isEmpty,
      s"staged files missing composite bloom rows: $freshNames")
    // and the probe still lands after the merge
    val (out2, rs2) = StatsRead.readTupleIn(spark, root, Seq("h1", "h2"), tuples)
    assert(out2.select("v").as[Long].collect().toSeq == Seq(-1L))
    assert(rs2.footerReads == 0 && rs2.filesRead <= 3, rs2.toString)
  }

  test("composite OCC merge: the claim/rebase protocol lands the tuple changeset") {
    val root = fresh("occ")
    mentionsTable(root)
    import spark.implicits._
    val ms = KeyedMerge.merge(spark, root, Seq("grp", "name"),
      Seq((2L, "n0998", -7L)).toDF("grp", "name", "nv"),
      (b, c) => b.join(c, Seq("grp", "name"), "full_outer")
        .select(col("grp"), col("name"), coalesce(col("nv"), col("v")).as("v")),
      AtomicTable.Writer.Occ())
    assert(ms.footerReads == 0 && ms.rewrittenFiles <= 2, ms.toString)
    assert(AtomicTable.read(spark, root).filter(col("v") === -7L).count() == 1L)
    // the OCC claim left a marker-bearing version the next writer adopts
    val ms2 = KeyedMerge.merge(spark, root, Seq("grp", "name"),
      Seq((3L, "n0999", -8L)).toDF("grp", "name", "nv"),
      (b, c) => b.join(c, Seq("grp", "name"), "full_outer")
        .select(col("grp"), col("name"), coalesce(col("nv"), col("v")).as("v")),
      AtomicTable.Writer.Occ())
    assert(ms2.footerReads == 0, ms2.toString)
    assert(AtomicTable.read(spark, root).filter(col("v") < 0).count() == 2L)
  }

  test("streamed composite merge: redelivered (appId, batchId) skips without evaluating") {
    val root = fresh("stream")
    mentionsTable(root)
    import spark.implicits._
    def kern(b: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      b.join(c, Seq("grp", "name"), "full_outer")
        .select(col("grp"), col("name"), coalesce(col("nv"), col("v")).as("v"))
    val st0 = KeyedMerge.commitBatchKeyed(spark, root, "ck-stream", 0L,
      Seq("grp", "name"), Seq((2L, "n0998", -7L)).toDF("grp", "name", "nv"), kern)
    assert(st0.exists(s => s.footerReads == 0 && s.rewrittenFiles <= 2), st0.toString)
    // redelivery (crash before the engine checkpointed offsets): the batch
    // must skip without ever executing the changes frame
    val boom = spark.range(1).select(
      raise_error(lit("evaluated")).cast("long").as("grp"),
      lit("x").as("name"), lit(0L).as("nv"))
    assert(KeyedMerge.commitBatchKeyed(spark, root, "ck-stream", 0L,
      Seq("grp", "name"), boom, kern).isEmpty)
    // the next batch applies and the tuple prune still holds
    val st1 = KeyedMerge.commitBatchKeyed(spark, root, "ck-stream", 1L,
      Seq("grp", "name"), Seq((3L, "n0999", -8L)).toDF("grp", "name", "nv"), kern)
    assert(st1.exists(s => s.footerReads == 0 && s.rewrittenFiles <= 2), st1.toString)
    val neg = AtomicTable.read(spark, root).filter(col("v") < 0)
      .select("grp", "name", "v").as[(Long, String, Long)].collect().toSet
    assert(neg == Set((2L, "n0998", -7L), (3L, "n0999", -8L)))
  }

  test("composite manifest self-maintains across a merge; bulk regime lands the same rows") {
    val root = fresh("manifest")
    val df = spark.range(2000L).select(col("id"),
      md5(col("id").cast("string")).as("h1"),
      md5((col("id") + 9999L).cast("string")).as("h2"),
      (col("id") * 2L).as("v"))
    AtomicTable.commit(df.repartitionByRange(16, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("h1", "h2"))
    assert(BloomManifest.indexBloomManifestTuple(spark, root, Seq("h1", "h2"),
      1 << 16) == 16)
    def hx(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    import spark.implicits._
    // DISTRIBUTED tuple regime: threshold 2 forces the per-column
    // intersection + composite bulk probe path over 5 tuples
    val ids = Seq(3L, 42L, 777L, 1500L, 1999L)
    val changes = ids.map(i => (hx(i.toString), hx((i + 9999L).toString), -i))
      .toDF("h1", "h2", "nv")
    val ms = KeyedMerge.merge(spark, root, Seq("h1", "h2"),
      changes, (b, c) => b.join(c, Seq("h1", "h2"), "left")
        .select(col("id"), col("h1"), col("h2"),
          coalesce(col("nv"), col("v")).as("v")),
      driverKeyThreshold = 2)
    assert(ms.footerReads == 0 && ms.rewrittenFiles <= 7 &&
      ms.reusedFiles >= ms.totalFiles - 7, ms.toString)
    val updated = AtomicTable.read(spark, root).filter(col("v") < 0)
      .select("id").as[Long].collect().toSet
    assert(updated == ids.toSet)
    // fresh files carry composite manifest coverage forward
    val cname = CompositeKey.colName(Seq("h1", "h2"))
    val header = BloomManifest.loadHeader(liveDir(root))
    parts(liveDir(root)).map(_.getFileName.toString)
      .foreach { n =>
        assert(header.contains((n, cname)), s"$n lost composite manifest coverage")
      }
    // the point read decides from the manifest with no TSV materialized
    assert(!Files.exists(liveDir(root).resolve(KeyBloom.BloomFile)))
    val loads0 = KeyBloom.loadCalls.get()
    val (out, rs) = StatsRead.readTupleIn(spark, root, Seq("h1", "h2"),
      Seq((hx("42"), hx("10041"))).toDF("h1", "h2"))
    assert(out.select("v").as[Long].collect().toSeq == Seq(-42L))
    assert(rs.footerReads == 0 && rs.filesRead <= 3 &&
      rs.manifestFiles == rs.totalFiles, rs.toString)
    assert(KeyBloom.loadCalls.get() == loads0)
  }
}
