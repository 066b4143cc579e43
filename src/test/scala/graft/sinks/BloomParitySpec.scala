package graft.sinks

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Bloom bytes, bit for bit. Sidecars and manifests written by any earlier
  * build must keep probing, so each file's TSV bloom words must equal words
  * recomputed on the driver from the file's own keys — with this spec's
  * own canonical bytes (8-byte big-endian longs, UTF-8 strings, 4-byte
  * length-framed tuples) and its own copy of the double-hash walk — and the
  * manifest's `(file, idx, word)` rows must be exactly the TSV rows'
  * non-zero words. Covers BIGINT, INT and STRING keys (empty, astral-plane
  * and null values) and a (long, string) tuple with null components, on
  * the index build and on the staging pass that rebuilds rewritten files. */
class BloomParitySpec extends AnyFunSuite {
  private lazy val spark = graft.Sessions.local(4)

  private val Bits = 2048
  private val Root = "spark-warehouse/test_bloom_parity"

  /** (sidecar column, key columns, expected kind) */
  private val Keys = Seq(
    ("b", Seq("b"), "long"),
    ("i", Seq("i"), "long"),
    ("s", Seq("s"), "string"),
    ("b\u0001s", Seq("b", "s"), "tuple:long,string"))

  private def deleteAll(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(deleteAll) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def commitFixture(): Unit = {
    deleteAll(Paths.get(Root))
    val df = spark.range(2400L).select(
      col("id"),
      when(col("id") % 13 === 0, lit(null).cast("long"))
        .otherwise(col("id") * 7919L - 5000000L).as("b"),
      when(col("id") % 17 === 0, lit(null).cast("int"))
        .otherwise((col("id") % 500 - 250).cast("int")).as("i"),
      when(col("id") % 11 === 0, lit(""))
        .when(col("id") % 11 === 1, concat(lit("\uD834\uDD1E"), col("id").cast("string")))
        .when(col("id") % 11 === 2, lit(null).cast("string"))
        .when(col("id") % 11 === 3, concat(lit("caf\u00e9-"), col("id").cast("string")))
        .otherwise(concat(lit("s"), col("id").cast("string"))).as("s"))
    AtomicTable.commit(
      df.repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      Root, statsCols = Seq("id"))
  }

  private def indexBoth(): Unit = Keys.foreach { case (_, cols, _) =>
    assert(KeyBloom.indexKeyBloom(spark, Root, cols, Bits) == 8)
    assert(BloomManifest.indexBloomManifest(spark, Root, cols, Bits) == 8)
  }

  private def canonical(v: Any): Array[Byte] = v match {
    case l: Long => ByteBuffer.allocate(8).putLong(l).array()
    case i: Int => ByteBuffer.allocate(8).putLong(i.toLong).array()
    case s: String => s.getBytes(UTF_8)
  }

  /** The reference bytes: one value's canonical bytes, or each value's
    * 4-byte big-endian length then its bytes; None for a null anywhere. */
  private def refBytes(values: Seq[Any]): Option[Array[Byte]] =
    if (values.contains(null)) None
    else if (values.size == 1) Some(canonical(values.head))
    else {
      val parts = values.map(canonical)
      val bb = ByteBuffer.allocate(parts.map(_.length + 4).sum)
      parts.foreach { p => bb.putInt(p.length); bb.put(p) }
      Some(bb.array())
    }

  private def refWords(keys: Seq[Seq[Any]], bits: Int, k: Int): Array[Long] = {
    val words = new Array[Long](bits / 64)
    keys.flatMap(refBytes).foreach { b =>
      val (h1, h2) = KeyBloom.hashPair(b)
      (0 until k).foreach { i =>
        val pos = (((h1 + i * h2) % bits + bits) % bits).toInt
        words(pos / 64) |= 1L << (pos % 64)
      }
    }
    words
  }

  /** Every live file's TSV row equals the driver reference, and the
    * manifest's rows are exactly the TSV's non-zero words. */
  private def assertParity(): Unit = {
    val live = Paths.get(Root, AtomicTable.currentVersion(Root).get)
    val files = TargetedDelete.partFiles(live)
    val blooms = KeyBloom.loadBlooms(live)
    val header = BloomManifest.loadHeader(live)
    val shards = spark.read.parquet(BloomManifest.shardDir(live).get.toString)
    Keys.foreach { case (cname, cols, kind) =>
      val tsvWords = files.flatMap { f =>
        val name = f.getFileName.toString
        val keys = spark.read.parquet(f.toString).select(cols.map(col): _*)
          .collect().toSeq.map(r => cols.indices.map(r.get))
        val row = blooms((name, cname))
        assert(row.kind == kind && row.bits == Bits && row.k == KeyBloom.NumHashes,
          s"$cname $name: ${row.kind}/${row.bits}/${row.k}")
        assert(row.words.sameElements(refWords(keys, Bits, KeyBloom.NumHashes)),
          s"$cname $name: TSV words differ from the reference")
        assert(header((name, cname)) ==
          BloomManifest.HeaderRow(kind, Bits, KeyBloom.NumHashes))
        row.words.zipWithIndex.collect { case (w, i) if w != 0L => (name, i, w) }
      }.toSet
      val m = shards.filter(col("cname") === cname)
      assert(m.select("kind", "bits", "k").distinct().collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ==
        Seq((kind, Bits, KeyBloom.NumHashes)), cname)
      val liveNames = files.map(_.getFileName.toString).toSet
      val manifestWords = m.select("file", "idx", "word").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .filter(t => liveNames(t._1)).toSet
      assert(manifestWords == tsvWords, s"$cname: manifest rows != TSV words")
    }
  }

  test("TSV words equal the driver reference and the manifest rows, per key kind") {
    commitFixture()
    indexBoth()
    assertParity()
  }

  test("the staging pass rebuilds rewritten files' blooms bit for bit on both backends") {
    commitFixture()
    indexBoth()
    val before = TargetedDelete.partFiles(
      Paths.get(Root, AtomicTable.currentVersion(Root).get)).map(_.getFileName.toString).toSet
    val ds = TargetedDelete.delete(spark, Root, "id", TargetedDelete.KeySet.longs(Seq(5L, 1500L)))
    assert(ds.rewrittenFiles == 2, ds.toString)
    val after = TargetedDelete.partFiles(
      Paths.get(Root, AtomicTable.currentVersion(Root).get)).map(_.getFileName.toString).toSet
    assert((after -- before).size == 2, "the delete must write two fresh files")
    assertParity()
  }
}
