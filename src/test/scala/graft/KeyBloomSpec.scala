package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, KeyBloom, StatsRead, TargetedDelete}
import graft.sinks.TargetedDelete.{KeySet, LongRange}

/** Bloom-sidecar contracts the hash gate proves only in aggregate: a probe
  * of present keys finds every row while planning ~|keys| files on a layout
  * min/max cannot prune; an absent key plans ~zero files; false positives
  * cost a scan, never a wrong row (row predicate re-applied); kind-mismatch
  * and bloom-less files fall back to the stats ladder; linked files carry
  * their blooms across a delete. */
class KeyBloomSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def deleteAll(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(deleteAll) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  /** 4000 rows keyed by a hex hash, laid out clustered by the UNRELATED id —
    * the hash key is scattered across every file. */
  private def buildHashed(root: String): Unit = {
    deleteAll(Paths.get(root))
    val df = spark.range(4000L).select(
      col("id"), md5(col("id").cast("string")).as("h"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(32, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("h"))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("present keys: every row found, files planned ~|keys| where stats plan all") {
    val root = "spark-warehouse/test_bloom_present"
    buildHashed(root)
    val probes = Seq(11L, 1234L, 3999L).map(i => md5hex(i.toString))
    val (_, rsStats) = StatsRead.readStringKeyIn(spark, root, "h", probes)
    assert(rsStats.filesRead >= rsStats.totalFiles - 2,
      s"fixture premise: stats should plan ~all files, got $rsStats")
    assert(KeyBloom.indexKeyBloom(spark, root, Seq("h")) == 32)
    val (df, rs) = StatsRead.readStringKeyIn(spark, root, "h", probes)
    import spark.implicits._
    assert(df.select("id").as[Long].collect().toSet == Set(11L, 1234L, 3999L))
    assert(rs.footerReads == 0 && rs.filesRead <= 6,
      s"bloom did not skip: $rs")
    // absent key: ~zero files planned, empty result, schema intact
    val (miss, rsMiss) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("not-a-key")))
    assert(miss.count() == 0 && rsMiss.filesRead <= 2, rsMiss.toString)
    assert(miss.columns.contains("grp"))
    // re-index is a no-op
    assert(KeyBloom.indexKeyBloom(spark, root, Seq("h")) == 0)
  }

  test("long keys probe under the same canonical bytes; fp costs a scan not a row") {
    val root = "spark-warehouse/test_bloom_long"
    deleteAll(Paths.get(root))
    // ids SHUFFLED by md5 so the long key is unclustered in every file
    val df = spark.range(4000L).select(col("id"), md5(col("id").cast("string")).as("h"))
    AtomicTable.commit(
      df.repartitionByRange(32, col("h")).sortWithinPartitions(col("h"))
        .select(col("id"), col("h")), root)
    KeyBloom.indexKeyBloom(spark, root, Seq("id"))
    val (hit, rs) = StatsRead.read(spark, root, Seq("id" -> KeySet.longs(Seq(5L, 2718L))))
    import spark.implicits._
    assert(hit.select("id").as[Long].collect().toSet == Set(5L, 2718L))
    assert(rs.filesRead <= 5, rs.toString)
    // row predicate re-applies inside survivors: a key ABSENT from the data
    // returns zero rows even if a bloom false-positive plans its file
    val (none, _) = StatsRead.read(spark, root, Seq("id" -> KeySet.longs(Seq(999999L))))
    assert(none.count() == 0)
  }

  test("bloom-less and kind-mismatched files fall back to the stats ladder") {
    val root = "spark-warehouse/test_bloom_fallback"
    deleteAll(Paths.get(root))
    val df = spark.range(1000L).select(col("id"), (col("id") % 7).as("grp"))
    AtomicTable.commit(
      df.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      root, statsCols = Seq("id"))
    // NO bloom built: the bloom read must still answer via min/max stats
    val (out, rs) = StatsRead.read(spark, root, Seq("id" -> KeySet.longs(Seq(42L, 900L))))
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(42L, 900L))
    assert(rs.footerReads == 0 && rs.filesRead < rs.totalFiles,
      s"stats fallback should still prune the clustered key: $rs")
  }

  test("a targeted delete SELF-MAINTAINS blooms: linked carry, rewrites rebuild") {
    val root = "spark-warehouse/test_bloom_carry"
    buildHashed(root)
    KeyBloom.indexKeyBloom(spark, root, Seq("h"))
    // delete an id block deliberately MISALIGNED with file boundaries:
    // interior files drop whole, boundary files rewrite, the rest hard-link
    val del = TargetedDelete.delete(spark, root, "id", LongRange(1050L, 1949L))
    assert(del.reusedFiles >= 1 && del.rewrittenFiles >= 1, del.toString)
    val live = Paths.get(root, AtomicTable.currentVersion(root).get)
    val blooms = KeyBloom.loadBlooms(live)
    val names = Files.list(live).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    // EVERY live file has a bloom row: linked files carried theirs, fresh
    // rewrites got theirs rebuilt in the staging pass (self-maintenance —
    // a bloomed table must stay bloomed across maintenance)
    names.foreach(n => assert(blooms.contains((n, "h")),
      s"post-delete file $n lost its bloom row"))
    // the maintained sidecar still answers point reads: a surviving key is
    // found; a DELETED key's probe plans ZERO files (its rebuilt bloom no
    // longer contains it)
    val (out, rs) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("50")))
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(50L))
    assert(rs.footerReads == 0, rs.toString)
    val (gone, rsGone) = StatsRead.readStringKeyIn(spark, root, "h",
      Seq(md5hex("1500")))
    assert(gone.count() == 0L)
    assert(rsGone.filesRead == 0,
      s"deleted key still admitted by a stale bloom: $rsGone")
  }

  test("full-rewrite merge dropping a bloomed column lapses its rows instead of failing") {
    import graft.sinks.KeyedMerge
    val root = "spark-warehouse/test_bloom_dropcol"
    deleteAll(Paths.get(root))
    val df = spark.range(200L).select(
      col("id"), md5(col("id").cast("string")).as("h"), (col("id") % 7).as("grp"))
    AtomicTable.commit(df.repartitionByRange(2, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("id"))
    KeyBloom.indexKeyBloom(spark, root, Seq("h"))
    // changeset spans both files -> full rewrite (reused empty, the
    // link-reuse schema guard never runs) and the kernel DROPS column h;
    // before the r19 fix, maintainStage's bloom rebuild threw on h
    val changes = spark.range(2L).select(
      (col("id") * 150L).as("id"), lit(-1L).as("grp"))
    val st = KeyedMerge.merge(spark, root, Seq("id"), changes,
      (b, c) => b.select(col("id"), col("grp"))
        .join(c.select(col("id"), col("grp").as("ng")), Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("ng"), col("grp")).as("grp")))
    assert(st.reusedFiles == 0 && st.rewrittenFiles == 2, st.toString)
    val live = Paths.get(root, AtomicTable.currentVersion(root).get)
    assert(!AtomicTable.read(spark, root).columns.contains("h"))
    assert(KeyBloom.loadBlooms(live).isEmpty,
      "bloom rows for the dropped column must lapse, not linger")
  }

  test("bloomed table's merge rewrite carries a parquet-NATIVE bloom; unbloomed doesn't") {
    import graft.sinks.KeyedMerge
    def nativeBloom(p: Path, col: String): Boolean = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val rg = r.getRowGroups.get(0)
        val cc = rg.getColumns.asScala.find(_.getPath.toDotString == col).get
        r.getBloomFilterDataReader(rg).readBloomFilter(cc) != null
      } finally r.close()
    }
    val upsert = (b: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =>
      b.join(c, Seq("h"), "full_outer")
        .select(col("h"), coalesce(col("nv"), col("id")).as("id"),
          coalesce(col("grp"), lit(0L)).as("grp"))
    def changes() = spark.range(2L).select(
      md5((col("id") * 997L).cast("string")).as("h"), lit(-1L).as("nv"))
    def freshFiles(root: String, prevV: String): Seq[Path] = {
      val live = Paths.get(root, AtomicTable.currentVersion(root).get)
      val prev = Paths.get(root, prevV)
      Files.list(live).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .filterNot(p => Files.exists(prev.resolve(p.getFileName.toString))).toSeq
    }
    // sidecar-bloomed table: the staging rewrite opts into native blooms
    val rootB = "spark-warehouse/test_bloom_native_b"
    buildHashed(rootB)
    KeyBloom.indexKeyBloom(spark, rootB, Seq("h"))
    val prevB = AtomicTable.currentVersion(rootB).get
    KeyedMerge.merge(spark, rootB, Seq("h"), changes(), upsert)
    val fb = freshFiles(rootB, prevB)
    assert(fb.nonEmpty && fb.forall(nativeBloom(_, "h")),
      "bloomed table's rewrite lost the parquet-native bloom")
    // unbloomed table: no native bloom forced on anyone
    val rootN = "spark-warehouse/test_bloom_native_n"
    buildHashed(rootN)
    val prevN = AtomicTable.currentVersion(rootN).get
    KeyedMerge.merge(spark, rootN, Seq("h"), changes(), upsert)
    val fn = freshFiles(rootN, prevN)
    assert(fn.nonEmpty && !fn.exists(nativeBloom(_, "h")),
      "unbloomed table's rewrite unexpectedly carries a native bloom")
    // correctness through the native-bloomed file: point read finds the row
    val (out, _) = StatsRead.readStringKeyIn(spark, rootB, "h",
      Seq(md5hex("997")))
    import spark.implicits._
    assert(out.select("id").as[Long].collect().toSet == Set(-1L))
  }

  test("astral-plane string keys hash by UTF-8 bytes on both sides") {
    val root = "spark-warehouse/test_bloom_astral"
    deleteAll(Paths.get(root))
    import spark.implicits._
    val rows = Seq("plain", "￿-key", "😀-astral", "k\u0000null-byte")
      .zipWithIndex.map { case (s, i) => (s, i.toLong) }
    AtomicTable.commit(rows.toDF("k", "v").coalesce(1), root)
    KeyBloom.indexKeyBloom(spark, root, Seq("k"))
    rows.foreach { case (s, i) =>
      val (out, _) = StatsRead.readStringKeyIn(spark, root, "k", Seq(s))
      assert(out.select("v").as[Long].collect().toSeq == Seq(i), s"key $s")
    }
  }
}
