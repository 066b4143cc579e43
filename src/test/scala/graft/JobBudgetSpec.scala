package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.ops.TextDedup
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

/** How many Spark jobs the sink and corpus layers launch, counted by a
  * listener, and that the footer-schema reads ([[Footers]], and
  * [[Tables]]' loads of Spark-written directories) see the schema Spark's
  * own inference would. */
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

  test("Tables.documents over a Spark-written directory runs no job and infers Spark's schema") {
    val dir = Files.createTempDirectory("budgetdocs").toString
    val tagged = new MetadataBuilder().putString("comment", "the document body").build()
    spark.range(300).select(col("id").as("doc_id"), // non-nullable in the writer's schema
      concat(lit("w"), col("id") % 7, lit(" x"), col("id")).as("text", tagged),
      lit("en").as("lang"), lit("web").as("source"), (col("id") * 3).as("n_chars"))
      .repartition(3).write.parquet(s"$dir/documents.parquet")
    val (df, n) = jobs(Tables.documents(spark, dir))
    assert(n == 0, s"building the load ran $n jobs")
    val inferred = spark.read.parquet(s"$dir/documents.parquet").schema
    assert(df.schema == inferred)
    assert(df.schema.json == inferred.json) // metadata included
    assert(df.count() == 300)
  }

  test("Tables.documents over a single non-Spark file keeps Spark's inferred schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // one parquet file with no Spark schema record, as the testdata tables are
    val file = Files.createTempDirectory("budgetfile").resolve("documents.parquet")
    val schema = MessageTypeParser.parseMessageType("message documents { required int64 doc_id; " +
      "optional binary text (STRING); optional binary lang (STRING); " +
      "optional binary source (STRING); optional int64 n_chars; }")
    val rows = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).build()
    try (0 until 10).foreach { i =>
      w.write(rows.newGroup().append("doc_id", i.toLong).append("text", s"w$i x")
        .append("lang", "en").append("source", "web").append("n_chars", 4L))
    } finally w.close()
    val inferred = spark.read.parquet(file.toString).schema
    val loaded = Tables.documents(spark, file.getParent.toString)
    assert(loaded.schema == inferred)
    assert(loaded.schema.json == inferred.json)
    assert(loaded.count() == 10)
  }

  test("ddDupClusters plus its collect runs at most 11 jobs on a Spark-written corpus") {
    // 19 with schema inference on the load, a five-job loop setup and a
    // caller-side cluster-size join
    // 400 documents of twelve words no other document shares, plus a
    // near-duplicate of every fifth one (its text with one word appended,
    // id + 100000), written by Spark as a generated corpus is
    val dir = Files.createTempDirectory("budgetclusters").toString
    val docs = spark.range(400).select(col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(0, 11), k -> concat('w', id, '_', k)))").as("text"),
      lit("en").as("lang"), lit("web").as("source"))
    docs.union(docs.filter(col("doc_id") % 5 === 0).select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"), col("lang"), col("source")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val (rows, n) = jobs(TextDedup.ddDupClusters(spark, dir).collect())
    info(s"ddDupClusters ran $n jobs")
    val expected = (0L until 400L by 5L).flatMap(i => Seq((i, i, 2L), (i + 100000, i, 2L)))
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq == expected.sorted)
    assert(n <= 11, s"ddDupClusters ran $n jobs")
  }
}
