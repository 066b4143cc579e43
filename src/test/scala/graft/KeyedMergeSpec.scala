package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, CdcApply, KeyedMerge, KeyStats}

/** Contracts of the stats-pruned keyed merge the hash gate proves only in
  * aggregate: pruned-merge state == full-rewrite-apply state on every change
  * class, reused files are the SAME INODE (linked, not copied), the sidecar
  * self-maintains across consecutive merges (second merge reads zero
  * footers), the distributed key→files regime lands the identical state,
  * and the streaming redelivery guard skips without evaluating the batch. */
class KeyedMergeSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)
  private val sf = "/root/testdata/sf0.01"

  private def base(): DataFrame = Tables.customer(spark, sf)
    .select(col("c_custkey").as("id"), col("c_name").as("name"),
      graft.ops.Relational.quantize(col("c_acctbal"), 2).cast("long").as("bal_c"))

  private def feed(): DataFrame = {
    val keys = Tables.customer(spark, sf).select(col("c_custkey").as("id"))
    keys.filter(col("id").between(100, 299))
      .select(col("id"), lit(1L).as("seq"), lit("U").as("op"), (col("id") * 100L).as("bal_c"))
      .unionAll(keys.filter(col("id").between(300, 349))
        .select(col("id"), lit(1L).as("seq"), lit("D").as("op"), lit(null).cast("long").as("bal_c")))
      .unionAll(spark.range(50).select((lit(2000000L) + col("id")).as("id"),
        lit(1L).as("seq"), lit("I").as("op"), (col("id") * 7L).as("bal_c")))
  }

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

  private def freshRoot(name: String): String = {
    val root = s"spark-warehouse/kmspec_$name"
    deleteAll(Paths.get(root))
    root
  }

  private def commitClustered(root: String, files: Int = 16): Unit =
    AtomicTable.commit(base().repartitionByRange(files, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("id"))

  private def sortedState(df: DataFrame): Seq[(Long, String, Any)] =
    df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) null else r.getLong(2))).toSeq.sortBy(_._1)

  test("pruned merge == full-rewrite apply, links verified by inode, sidecar self-maintains") {
    val root = freshRoot("eq")
    commitClustered(root)
    val prev = AtomicTable.currentVersion(root).get
    val ms = KeyedMerge.merge(spark, root, Seq("id"), feed(), CdcApply.apply)
    assert(ms.footerReads == 0, s"indexed table read footers: $ms")
    assert(ms.reusedFiles >= 1 && ms.rewrittenFiles * 2 < ms.totalFiles,
      s"pruning did not engage on the clustered feed: $ms")
    // same state as the full-rewrite apply
    val expected = sortedState(CdcApply.apply(base(), feed()))
    assert(sortedState(AtomicTable.read(spark, root)) == expected)
    // reused = same inode as the predecessor's same-named file
    val prevDir = Paths.get(root, prev)
    val liveDir = Paths.get(root, ms.version)
    val carried = partFiles(liveDir).map(_.getFileName.toString)
      .filter(n => Files.exists(prevDir.resolve(n)))
    assert(carried.size == ms.reusedFiles)
    carried.foreach(n => assert(
      KeyedMerge.sameInode(prevDir.resolve(n), liveDir.resolve(n)),
      s"reused file $n is not a hard link"))
    // sidecar self-maintained: EVERY live file has an id row, so a second
    // merge (different block) prunes with zero footer reads
    val side = KeyStats.loadStats(liveDir)
    partFiles(liveDir).foreach(f =>
      assert(side.contains((f.getFileName.toString, "id")),
        s"post-merge sidecar missing ${f.getFileName}"))
    val second = Tables.customer(spark, sf).select(col("c_custkey").as("id"))
      .filter(col("id").between(400, 449))
      .select(col("id"), lit(1L).as("seq"), lit("U").as("op"), lit(1L).as("bal_c"))
    val ms2 = KeyedMerge.merge(spark, root, Seq("id"), second, CdcApply.apply)
    assert(ms2.footerReads == 0, s"second merge fell off the sidecar path: $ms2")
    assert(ms2.rewrittenFiles * 2 < ms2.totalFiles, s"clustering decayed: $ms2")
  }

  test("distributed key->files regime (threshold 0) lands the identical state") {
    val rootA = freshRoot("distA"); val rootB = freshRoot("distB")
    commitClustered(rootA); commitClustered(rootB)
    val msDriver = KeyedMerge.merge(spark, rootA, Seq("id"), feed(), CdcApply.apply)
    val msDist = KeyedMerge.merge(spark, rootB, Seq("id"), feed(), CdcApply.apply,
      driverKeyThreshold = 0)
    assert(sortedState(AtomicTable.read(spark, rootA)) ==
      sortedState(AtomicTable.read(spark, rootB)))
    // both regimes make the SAME file-level decision on this layout
    assert(msDist.rewrittenFiles == msDriver.rewrittenFiles &&
      msDist.reusedFiles == msDriver.reusedFiles,
      s"regimes diverged: driver=$msDriver dist=$msDist")
  }

  test("insert-only changeset outside every file range links ALL files") {
    val root = freshRoot("insonly")
    commitClustered(root)
    val ins = spark.range(25).select((lit(3000000L) + col("id")).as("id"),
      lit(1L).as("seq"), lit("I").as("op"), lit(5L).as("bal_c"))
    val ms = KeyedMerge.merge(spark, root, Seq("id"), ins, CdcApply.apply)
    assert(ms.rewrittenFiles == 0 && ms.reusedFiles == ms.totalFiles,
      s"net-new inserts must not rewrite any existing file: $ms")
    val n = AtomicTable.read(spark, root).count()
    assert(n == base().count() + 25)
  }

  test("commitBatchKeyed skips a redelivered batch without evaluating it") {
    val root = freshRoot("redeliver")
    commitClustered(root)
    val first = KeyedMerge.commitBatchKeyed(spark, root, "km-spec", 0L, Seq("id"),
      feed(), CdcApply.apply)
    assert(first.nonEmpty)
    var evaluated = false
    val skipped = KeyedMerge.commitBatchKeyed(spark, root, "km-spec", 0L, Seq("id"),
      { evaluated = true; feed() }, CdcApply.apply)
    assert(skipped.isEmpty && !evaluated,
      "redelivered batch must be skipped manifest-only")
    // a NEW id under a DIFFERENT appId applies (fresh-checkpoint contract)
    val other = KeyedMerge.commitBatchKeyed(spark, root, "km-spec-2", 0L, Seq("id"),
      spark.range(1).select(lit(4000000L).as("id"), lit(1L).as("seq"),
        lit("I").as("op"), lit(9L).as("bal_c")), CdcApply.apply)
    assert(other.nonEmpty)
  }

  test("STRING-keyed merge prunes under UTF-8 byte order, both regimes, astral content") {
    import spark.implicits._
    def strBase() = spark.range(4000L).select(
      format_string("doc%05d", col("id")).as("k"), (col("id") * 3L).as("v"))
    def build(root: String): Unit = {
      deleteAll(Paths.get(root))
      AtomicTable.commit(strBase().repartitionByRange(32, col("k"))
        .sortWithinPartitions(col("k")), root, statsCols = Seq("k"))
    }
    // upsert a contiguous doc block + net-new astral-suffixed keys (sort
    // ABOVE every doc* key in byte order — must not mark interior files)
    def strChanges() = spark.range(1000L, 1400L)
      .select(format_string("doc%05d", col("id")).as("k"), lit(-1L).as("v"))
      .unionAll(Seq(("😀new1", -2L), ("😀new2", -2L)).toDF("k", "v"))
    val upsert = (base: org.apache.spark.sql.DataFrame,
        inc: org.apache.spark.sql.DataFrame) => {
      val merged = base.join(inc.select(col("k"), col("v").as("nv")), Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("nv"), col("v")).as("v"))
      merged
    }
    val rootA = "spark-warehouse/kmspec_strA"; build(rootA)
    val msA = KeyedMerge.merge(spark, rootA, Seq("k"), strChanges(), upsert)
    assert(msA.footerReads == 0 && msA.reusedFiles >= 20 &&
      msA.rewrittenFiles <= 6, s"string pruning did not engage: $msA")
    val rootB = "spark-warehouse/kmspec_strB"; build(rootB)
    val msB = KeyedMerge.merge(spark, rootB, Seq("k"), strChanges(), upsert,
      driverKeyThreshold = 0)
    assert(msB.rewrittenFiles == msA.rewrittenFiles &&
      msB.reusedFiles == msA.reusedFiles, s"regimes diverged: $msA vs $msB")
    val expect = upsert(strBase(), strChanges())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    Seq(rootA, rootB).foreach { r =>
      assert(AtomicTable.read(spark, r).collect()
        .map(x => (x.getString(0), x.getLong(1))).toSet == expect, r)
    }
  }

  test("OCC merge variant lands the same state through the claim/rebase CAS") {
    val root = freshRoot("occ")
    commitClustered(root)
    val ms = KeyedMerge.merge(spark, root, Seq("id"), feed(), CdcApply.apply,
      AtomicTable.Writer.Occ())
    assert(ms.footerReads == 0 && ms.reusedFiles >= 1)
    assert(sortedState(AtomicTable.read(spark, root)) ==
      sortedState(CdcApply.apply(base(), feed())))
  }

  // ---- bloom-pruned merge: the UNCLUSTERED-key regime ----

  /** Hash-keyed corpus: id-clustered files, but the merge key is md5(id) —
    * every file's hull spans the hex space, so min/max stats prune nothing
    * and the `_KEYBLOOM` sidecar is the only prune. */
  private def hashBase() = spark.range(4000L).select(
    md5(col("id").cast("string")).as("h"), col("id").as("v"))

  private def buildHashed(root: String): Unit = {
    deleteAll(Paths.get(root))
    AtomicTable.commit(hashBase().repartitionByRange(16, col("v")),
      root, statsCols = Seq("h"))
  }

  private def hashChanges() = spark.range(3L)
    .select(md5((col("id") * 997L).cast("string")).as("h"), lit(-1L).as("nv"))
    .unionAll(spark.range(2L).select(
      md5((lit(9000000L) + col("id")).cast("string")).as("h"), lit(-2L).as("nv")))

  private val hashUpsert = (base: DataFrame, inc: DataFrame) =>
    base.join(inc, Seq("h"), "full_outer")
      .select(col("h"), coalesce(col("nv"), col("v")).as("v"))

  test("bloom sidecar prunes an unclustered-key merge that min/max cannot") {
    val root = freshRoot("bloom")
    buildHashed(root)
    // premise + control: WITHOUT a bloom the hash-key merge rewrites ~all
    val msNone = KeyedMerge.merge(spark, root, Seq("h"),
      hashChanges(), hashUpsert)
    assert(msNone.bloomSkipped == 0 &&
      msNone.rewrittenFiles >= msNone.totalFiles - 2,
      s"premise broken: min/max pruned a scattered hash key: $msNone")
    // fresh table, bloom indexed: the same merge links almost everything
    buildHashed(root + "_b")
    graft.sinks.KeyBloom.indexKeyBloom(spark, root + "_b", Seq("h"),
      graft.sinks.KeyBloom.bitsFor(4000L / 16 + 1))
    val prev = AtomicTable.currentVersion(root + "_b").get
    val ms = KeyedMerge.merge(spark, root + "_b", Seq("h"),
      hashChanges(), hashUpsert)
    assert(ms.footerReads == 0 && ms.bloomSkipped >= 1 &&
      ms.rewrittenFiles <= 5 && ms.reusedFiles >= ms.totalFiles - 5,
      s"bloom prune did not engage: $ms")
    // state identical to the unpruned control merge
    assert(AtomicTable.read(spark, root + "_b").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      AtomicTable.read(spark, root).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
    // linked files carried their BLOOM rows: a SECOND merge (different
    // keys) still prunes on the carried blooms, zero footer reads
    val liveDir = Paths.get(root + "_b", ms.version)
    val prevDir = Paths.get(root + "_b", prev)
    val carriedBlooms = graft.sinks.KeyBloom.loadBlooms(liveDir)
    partFiles(liveDir).map(_.getFileName.toString)
      .filter(n => Files.exists(prevDir.resolve(n)))
      .foreach(n => assert(carriedBlooms.contains((n, "h")),
        s"linked file $n lost its bloom row across the merge"))
    val second = spark.range(1L).select(
      md5(lit(1777L).cast("string")).as("h"), lit(-3L).as("nv"))
    val ms2 = KeyedMerge.merge(spark, root + "_b", Seq("h"),
      second, hashUpsert)
    assert(ms2.footerReads == 0 && ms2.bloomSkipped >= 1,
      s"second merge fell off the carried-bloom path: $ms2")
  }

  test("bloom prune: distributed regime decides the same files, same state") {
    val rootA = freshRoot("bloomdA"); val rootB = freshRoot("bloomdB")
    Seq(rootA, rootB).foreach { r =>
      buildHashed(r)
      graft.sinks.KeyBloom.indexKeyBloom(spark, r, Seq("h"),
        graft.sinks.KeyBloom.bitsFor(4000L / 16 + 1))
    }
    val msA = KeyedMerge.merge(spark, rootA, Seq("h"), hashChanges(), hashUpsert)
    val msB = KeyedMerge.merge(spark, rootB, Seq("h"), hashChanges(), hashUpsert,
      driverKeyThreshold = 0)
    assert(msB.footerReads == 0 && msB.bloomSkipped >= 1,
      s"distributed regime did not bloom-prune: $msB")
    assert(msA.rewrittenFiles == msB.rewrittenFiles &&
      msA.reusedFiles == msB.reusedFiles, s"regimes diverged: $msA vs $msB")
    assert(AtomicTable.read(spark, rootA).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      AtomicTable.read(spark, rootB).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("bloom prune: insert-only hash changeset links every file") {
    val root = freshRoot("bloomins")
    buildHashed(root)
    graft.sinks.KeyBloom.indexKeyBloom(spark, root, Seq("h"),
      graft.sinks.KeyBloom.bitsFor(4000L / 16 + 1))
    val ins = spark.range(4L).select(
      md5((lit(8000000L) + col("id")).cast("string")).as("h"), lit(-9L).as("nv"))
    val ms = KeyedMerge.merge(spark, root, Seq("h"), ins, hashUpsert)
    assert(ms.rewrittenFiles == 0 && ms.reusedFiles == ms.totalFiles,
      s"net-new hashes must not rewrite any file under a sized bloom: $ms")
    assert(AtomicTable.read(spark, root).count() == 4004L)
  }
}
