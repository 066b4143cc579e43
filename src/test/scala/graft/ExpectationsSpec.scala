package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{AtomicTable, Expectations}
import graft.sinks.Expectations.Expectation

/** Gate semantics the hash row proves only in aggregate: NULL predicates
  * FAIL (an unverifiable row is not a verified row), multi-rule failures
  * annotate with every failed name sorted, the split is lossless, and the
  * degenerate all-pass / all-fail batches leave both tables readable. */
class ExpectationsSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def rm(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(rm) finally it.close()
    }
    Files.deleteIfExists(p)
  }

  private def roots(name: String): (String, String) = {
    val r = s"spark-warehouse/exp_$name"; rm(Paths.get(r)); rm(Paths.get(r + "_q"))
    (r, r + "_q")
  }

  test("NULL predicate fails; multi-rule rows annotate with every name, sorted") {
    import spark.implicits._
    val (root, q) = roots("nulls")
    val df = Seq(
      (1L, Some(200L), "en"),   // passes both
      (2L, Some(50L), "en"),    // fails a_min
      (3L, None: Option[Long], "zz"), // NULL n -> a_min fails; zz -> b_lang fails
      (4L, Some(300L), "zz")    // fails b_lang
    ).toDF("id", "n", "lang")
    val st = Expectations.commitExpect(spark, df, root, q, Seq(
      Expectation("a_min", col("n") >= 100L),
      Expectation("b_lang", col("lang") === "en")))
    assert(st.passed == 1 && st.quarantined == 3, st.toString)
    assert(st.byRule == Map("a_min" -> 2L, "b_lang" -> 2L), st.toString)
    val rows = AtomicTable.read(spark, q)
      .select(col("id"), col(Expectations.FailedCol))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(2L -> "a_min", 3L -> "a_min,b_lang", 4L -> "b_lang"),
      rows.toString)
    assert(AtomicTable.read(spark, root).columns.toSeq ==
      Seq("id", "n", "lang"), "annotation column must not leak into main")
  }

  test("all-pass and all-fail batches leave BOTH tables committed and readable") {
    import spark.implicits._
    val (root, q) = roots("degenerate")
    val ok = Seq((1L, 200L), (2L, 300L)).toDF("id", "n")
    val st = Expectations.commitExpect(spark, ok, root, q,
      Seq(Expectation("pos", col("n") > 0L)))
    assert(st.passed == 2 && st.quarantined == 0)
    assert(AtomicTable.read(spark, q).count() == 0,
      "empty quarantine must still be a readable committed table")
    val (root2, q2) = roots("allfail")
    val bad = Seq((1L, -5L)).toDF("id", "n")
    val st2 = Expectations.commitExpect(spark, bad, root2, q2,
      Seq(Expectation("pos", col("n") > 0L)))
    assert(st2.passed == 0 && st2.quarantined == 1)
    assert(AtomicTable.read(spark, root2).count() == 0)
    assert(AtomicTable.read(spark, q2).count() == 1)
  }

  test("commitExpectBatch: redelivery skips both tables; a crash between the two commits converges on replay") {
    import spark.implicits._
    val (root, q) = roots("batch")
    def batch = Seq((1L, 200L), (2L, -5L)).toDF("id", "n")
    val rules = Seq(Expectation("pos", col("n") > 0L))
    val st = Expectations.commitExpectBatch(spark, batch, root, q, rules, "appA", 0L)
    assert(st.exists(s => s.passed == 1 && s.quarantined == 1), st.toString)
    val (v0, qv0) = (AtomicTable.currentVersion(root), AtomicTable.currentVersion(q))
    // full redelivery: evaluated nothing, committed nothing
    assert(Expectations.commitExpectBatch(spark,
      sys.error("redelivered batch must not be evaluated"), root, q, rules,
      "appA", 0L).isEmpty)
    assert(AtomicTable.currentVersion(root) == v0 &&
      AtomicTable.currentVersion(q) == qv0, "redelivery must not commit")
    // crash window: quarantine stamped with batch 1, main not — the replay
    // must skip the quarantine commit and apply only the main one
    AtomicTable.commitAppendBatch(
      batch.filter(col("n") <= 0L)
        .withColumn(Expectations.FailedCol, lit("pos")), q, "appA", 1L)
    val qv1 = AtomicTable.currentVersion(q)
    val st2 = Expectations.commitExpectBatch(spark, batch, root, q, rules, "appA", 1L)
    assert(st2.nonEmpty, "main table had not absorbed batch 1")
    assert(AtomicTable.currentVersion(q) == qv1,
      "replay double-appended the quarantine table")
    assert(AtomicTable.currentVersion(root) != v0, "main commit missing")
    // appends accumulate exactly once: (batch 0 + batch 1) x 1 row each
    assert(AtomicTable.read(spark, q).count() == 2,
      "quarantine rows duplicated or lost across the crash window")
    assert(AtomicTable.read(spark, root).count() == 2,
      "main rows duplicated or lost across the crash window")
  }

  test("statsCols index the MAIN table: a point read on it prunes with zero footers") {
    val (root, q) = roots("indexed")
    val df = spark.range(2000L).select(col("id"), (col("id") % 100).as("n"))
      .repartitionByRange(8, col("id"))
    val st = Expectations.commitExpect(spark, df, root, q,
      Seq(Expectation("n_ok", col("n") >= 0L)), statsCols = Seq("id"))
    assert(st.quarantined == 0)
    val (_, rs) = graft.sinks.StatsRead.read(spark, root,
      Seq("id" -> graft.sinks.TargetedDelete.LongRange(100L, 150L)))
    assert(rs.footerReads == 0 && rs.filesRead < rs.totalFiles,
      s"expectation commit fell off the stats path: $rs")
  }
}
