package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.CdcApply

/** Class-by-class contracts of the CDC apply the hash gate proves only in
  * aggregate: deletes gone, updates landed, update-then-delete nets to the
  * delete (the sequence fold keeps the LATEST change), inserts present with
  * the synthesized name, everything else byte-identical pass-through. */
class CdcApplySpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)
  private val sf = "/root/testdata/sf0.01"

  private def byId(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) null else r.getLong(2))).toMap

  test("every change class lands with its MERGE semantics") {
    val out = byId(CdcApply.qS23CdcApply(spark, sf).collect())
    val base = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_name"),
        graft.ops.Relational.quantize(col("c_acctbal"), 2).cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    val (dels, upds, netDels) = (
      base.keys.filter(_ % CdcApply.ChangeMod == 0),
      base.keys.filter(_ % CdcApply.ChangeMod == 1),
      base.keys.filter(_ % CdcApply.ChangeMod == 2))
    assert(dels.nonEmpty && upds.nonEmpty && netDels.nonEmpty, "fixture classes empty")
    dels.foreach(k => assert(!out.contains(k), s"deleted key $k survived"))
    netDels.foreach(k => assert(!out.contains(k),
      s"update-then-delete key $k survived — the fold kept the stale update"))
    upds.foreach { k =>
      assert(out(k)._2 == k * 100L, s"update on $k not applied")
      assert(out(k)._1 == base(k)._1, s"update on $k clobbered the name")
    }
    (0 until CdcApply.Inserts).foreach { i =>
      val k = CdcApply.InsertBase + i
      assert(out.get(k).contains(("cdc_inserted", i * 7L)), s"insert $k missing")
    }
    base.keys.filterNot(k => Seq(0L, 1L, 2L).contains(k % CdcApply.ChangeMod))
      .foreach(k => assert(out(k) == base(k), s"unchanged key $k drifted"))
    assert(out.size == base.size - dels.size - netDels.size + CdcApply.Inserts)
  }

  test("streamed apply across uneven micro-batch cuts == the batch apply") {
    // the feed arrives as three files — seq-1 changes split by key parity,
    // then ALL seq-2 entries (class-2 deletes) in the last file, so a key's
    // update and its later delete land in DIFFERENT micro-batches: per-batch
    // apply over the committed state must still net to the delete. Each
    // micro-batch commits through commitBatch (exactly-once under
    // foreachBatch's at-least-once delivery): after the engine forgets its
    // last commit, the restarted stream redelivers that batch and the
    // manifest stamp skips it without a new table version.
    import graft.sinks.{AtomicTable, FeedSlices}
    val tmp = java.nio.file.Files.createTempDirectory("graftcdc").toString
    val (feedDir, root, ckpt) = (s"$tmp/feed", s"$tmp/table", s"$tmp/ckpt")
    AtomicTable.commit(Tables.customer(spark, sf)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        graft.ops.Relational.quantize(col("c_acctbal"), 2).cast("long").as("bal_c")), root)
    val feed = CdcApply.changeFeed(spark, sf)
    FeedSlices.writeSlices(feed.withColumn(FeedSlices.SliceCol,
      when(col("seq") === 2, 2).otherwise(col("id") % 2).cast("int")), feedDir, 3)
    def run(): FeedSlices.Drained = FeedSlices.drain(spark, feedDir, ckpt) { (b, bid) =>
      Option.when(AtomicTable.commitBatch(
        CdcApply.apply(AtomicTable.read(spark, root), b), root, "cdc-stream", bid))(bid)
    }
    run().require(applied = 3, redelivered = 0)
    val streamed = byId(AtomicTable.read(spark, root).collect())
    val batch = byId(CdcApply.qS23CdcApply(spark, sf).collect())
    assert(streamed == batch,
      s"streamed != batch; first diff: ${(streamed.toSet diff batch.toSet).take(3)}")
    val v = AtomicTable.currentVersion(root)
    FeedSlices.dropCommit(ckpt, 2)
    assert(run() == FeedSlices.Drained(0, 1))
    assert(AtomicTable.currentVersion(root) == v, "the redelivered batch committed again")
  }

  test("a throwing kernel surfaces from drain and leaves no stream running") {
    import graft.sinks.FeedSlices
    val tmp = java.nio.file.Files.createTempDirectory("graftdrain").toString
    FeedSlices.writeSlice(spark.range(3).toDF("id"), s"$tmp/feed", 0)
    val e = intercept[Exception] {
      FeedSlices.drain(spark, s"$tmp/feed", s"$tmp/ckpt") { (_, _) =>
        throw new IllegalStateException("kernel failed")
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("kernel failed"))), e.toString)
    assert(spark.streams.active.isEmpty, "the failed query is still active")
  }
}
