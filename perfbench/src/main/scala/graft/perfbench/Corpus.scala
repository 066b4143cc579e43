package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{CorpusOps, TextAnalysis, TextDedup}

/** A generated `documents.parquet` with a controlled near-duplicate share,
  * through the text curation steps of the `ops` layer. Each step's output
  * is written once per round. */
final class Corpus extends Workload {
  val nDocs = 1000
  val minRounds = 2
  val opKind = "step"
  /** (output / registry name, layer, step). */
  val steps: Seq[(String, String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    ("tc_corpus_e2e", "TextAnalysis", TextAnalysis.tcCorpusE2e _),
    ("tc_datacard", "TextAnalysis", TextAnalysis.tcDatacard _),
    ("dd_dup_clusters", "TextDedup", TextDedup.ddDupClusters _),
    ("tc_span_dedup", "CorpusOps", CorpusOps.tcSpanDedup _),
    ("tc_shuffle_shards", "CorpusOps", CorpusOps.tcShuffleShards _))

  private def writeDocs(c: Ctx, dir: String, seed: Long, n: Int): Unit = {
    import c.spark.implicits._
    Gen.documents(seed, n).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  def generate(c: Ctx, rep: Int): String = {
    val in = c.path(s"in$rep")
    writeDocs(c, in, c.seed, nDocs)
    in
  }

  private def runSteps(c: Ctx, in: String, out: String): Unit =
    steps.foreach { case (name, layer, f) =>
      c.op(layer, opKind) { f(c.spark, in).write.mode("overwrite").parquet(s"$out/$name") }
    }

  /** One untimed pass over the same documents: a smaller slice would leave
    * the plans adaptive execution picks at full size cold. */
  def warmUp(c: Ctx, in: String): Unit = runSteps(c, in, c.path("warm_out"))
  def round(c: Ctx, in: String, i: Int): Unit = runSteps(c, in, c.path("out"))

  def afterRound(c: Ctx, in: String, i: Int): Unit = if (i == 0) {
    val out = c.path("out")
    steps.foreach { case (name, _, _) => c.digests(name) = Digest.of(c.spark.read.parquet(s"$out/$name")) }
    val shards = c.spark.read.parquet(s"$out/tc_shuffle_shards")
    c.check(shards.count() == nDocs && shards.select("doc_id").distinct().count() == nDocs,
      "shuffle shards do not hold every document once")
    val clusters = c.spark.read.parquet(s"$out/dd_dup_clusters")
    c.check(clusters.filter(col("canonical_id") > col("doc_id") || col("cluster_size") < 2).count() == 0,
      "a duplicate cluster is not canonicalised to its smallest member")
    if (c.tr.enabled) {
      c.tr.add("TextDedup.dup_docs", clusters.count().toDouble)
      c.tr.add("TextDedup.docs", nDocs.toDouble)
    }
    // the oracle SQL of each step, for the DuckDB cross-check of these outputs
    val sql = SparkEntry.oracleSql
    Files.write(Paths.get(c.path("oracle_sql.json")),
      Json.render(steps.map { case (n, _, _) => n -> sql(n) }.toMap).getBytes("UTF-8"))
  }

  override def ratios(c: Ctx): Map[String, Double] = {
    val d = c.tr.counter("TextDedup.docs")
    Map("TextDedup.dup_ratio" -> (if (d == 0) 0.0 else c.tr.counter("TextDedup.dup_docs") / d))
  }

  def named(c: Ctx, roundS: Seq[Double]) = Seq(("wall_s", Stats.median(roundS), "s"))
}
