package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.sinks.{AtomicTable, Footers, KeyedMerge, StatsRead, TargetedDelete}
import graft.sources.HttpSource
import graft.sources.HttpSource.HttpResponse
import graft.streaming.IngestLoop
import graft.streaming.IngestLoop.FetchRequest

object JobBudgetSpec {
  private def body(i: Int) =
    f"""{"google_place_id":"g$i%05d","name":"Place $i","rating":4.0}"""
  val script: Map[String, Seq[HttpResponse]] =
    (0 until 40).map(i => s"u$i" -> Seq(HttpResponse(200, Map.empty, body(i * 37)))).toMap
  def mkTransport(): HttpSource.Transport = new HttpSource.ReplayTransport(script)
  val noSleep: Long => Unit = _ => ()
}

/** How many Spark jobs the sink layers launch, counted by a listener, and
  * that the footer-schema reads ([[Footers]]) see the schema Spark's own
  * inference would. */
class JobBudgetSpec extends AnyFunSuite {
  import JobBudgetSpec._

  lazy val spark = Sessions.local(4)

  /** Jobs `body` launches from this thread's job group (AQE's stage jobs
    * inherit it). */
  private def jobs[A](body: => A): (A, Int) = {
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      (out, n.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** A key-range-clustered POI table of `n` keys in `files` files. */
  private def poi(n: Int, files: Int): DataFrame =
    spark.range(n).select(format_string("g%05d", col("id")).as("google_place_id"),
      concat(lit("Name "), col("id")).as("name"),
      (col("id") % 5).cast("double").as("rating"),
      lit(null).cast("timestamp").as("first_ingested_at"))
      .repartitionByRange(files, col("google_place_id"))
      .sortWithinPartitions("google_place_id")

  test("a stats-pruned keyed lookup plus its collect runs exactly one job") {
    val root = Files.createTempDirectory("budgetlookup").resolve("t").toString
    AtomicTable.commit(poi(4000, 8), root, Seq("google_place_id"))
    val ((rows, st), n) = jobs {
      val (df, st) = StatsRead.readStringKeyIn(spark, root, "google_place_id", Seq("g01234"))
      (df.collect(), st)
    }
    assert(st.filesRead == 1 && st.totalFiles == 8, st)
    assert(rows.map(_.getString(0)).toSeq == Seq("g01234"))
    assert(n == 1, s"lookup ran $n jobs")
  }

  test("building AtomicTable.read runs no job") {
    val root = Files.createTempDirectory("budgetread").resolve("t").toString
    AtomicTable.commit(poi(100, 3), root)
    val (df, n) = jobs(AtomicTable.read(spark, root))
    assert(n == 0, s"building the read ran $n jobs")
    assert(df.count() == 100)
  }

  test("one ingest micro-batch runs at most 12 jobs; a redelivered one runs none") {
    import spark.implicits._
    val base = Files.createTempDirectory("budgetingest")
    val (poiRoot, ledgerRoot) = (s"$base/poi", s"$base/ledger")
    AtomicTable.commit(poi(4000, 8), poiRoot, Seq("google_place_id"))
    def batch(b: Int): DataFrame = (0 until 20).map { j =>
      FetchRequest(b * 20 + j, "places", 100 * IngestLoop.DayUs + b * 20 + j, s"u${b * 20 + j}")
    }.toDF()
    def process(b: Int): Unit = IngestLoop.processBatch(spark, batch(b), poiRoot,
      ledgerRoot, JobBudgetSpec.mkTransport _, 50, "2025-06-01 00:00:00", "budget",
      b.toLong, noSleep)
    process(0) // the ledger's first version
    val (_, n) = jobs(process(1))
    info(s"one micro-batch ran $n jobs")
    assert(n <= 12, s"a micro-batch ran $n jobs")
    val (_, again) = jobs(process(1))
    assert(again == 0, s"a redelivered micro-batch ran $again jobs")
    assert(AtomicTable.read(spark, ledgerRoot).as[(String, Long, Long)].collect().toSeq ==
      Seq(("places", 100L, 40L)))
  }

  test("the footer schema equals Spark's inferred schema on every producer's output") {
    val root = Files.createTempDirectory("budgetschema").resolve("t").toString
    val tagged = new MetadataBuilder().putString("comment", "the place's name").build()
    // nested members nullable: the append guard compares nested types
    // whole, and a read makes every nested member nullable
    val nid = when(col("id") >= 0, col("id"))
    val seed = spark.range(600).select(
      format_string("k%04d", col("id")).as("k"),
      col("id").as("n"), // non-nullable in the writer's schema
      concat(lit("v"), col("id")).as("v", tagged),
      struct(nid.as("a"), when(nid.isNotNull, array(nid)).as("xs")).as("nested"),
      map(lit("m"), nid).as("kv"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    def check(stage: String): Unit = {
      val dir = Paths.get(root, AtomicTable.currentVersion(root).get)
      val inferred = spark.read.parquet(dir.toString).schema
      assert(AtomicTable.read(spark, root).schema == inferred, stage)
      assert(AtomicTable.read(spark, root).schema.json == inferred.json, stage)
      val files = {
        val st = Files.list(dir)
        try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString).toSeq
        finally st.close()
      }
      files.foreach { f =>
        assert(Footers.schema(spark, f) == spark.read.parquet(f.toString).schema, s"$stage: $f")
      }
      assert(Footers.read(spark, files).schema ==
        spark.read.parquet(files.map(_.toString): _*).schema, stage)
    }
    AtomicTable.commit(seed, root, Seq("k"))
    check("commit")
    AtomicTable.commitAppend(seed.limit(10)
      .withColumn("k", concat(lit("z"), col("k"))), root)
    check("commitAppend")
    KeyedMerge.mergeChangesKeyed(spark, root, "k",
      seed.filter(col("n") % 97 === 0).withColumn("n", col("n") + 1),
      (b, c) => b.join(c.select(col("k"), col("n").as("cn")), Seq("k"), "left")
        .select(col("k"), coalesce(col("cn"), col("n")).as("n"), col("v"), col("nested"), col("kv")))
    check("mergeChangesKeyed")
    TargetedDelete.deleteStringKeys(spark, root, "k", Seq("k0001", "k0300"))
    check("deleteStringKeys")
    assert(AtomicTable.read(spark, root).count() == 608)
  }
}
