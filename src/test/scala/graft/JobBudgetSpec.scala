package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types.MetadataBuilder

import graft.domain.{Collections, MentionDedup, Spatial}
import graft.ops.{TextAnalysis, TextDedup}
import graft.sinks.{AtomicTable, Footers, KeyedMerge, MergeSink, StatsRead, TargetedDelete}
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

/** How many Spark jobs the sink, corpus and city-stage layers launch,
  * counted by a listener, and that the footer-schema reads ([[Footers]],
  * and [[Tables]]' loads of Spark-written directories) see the schema
  * Spark's own inference would. */
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

  test("a keyed lookup's collect runs no job under the driver-read gate, one job at -1") {
    val root = Files.createTempDirectory("budgetlookup").resolve("t").toString
    AtomicTable.commit(poi(4000, 8), root, Seq("google_place_id"))
    def lookup() = jobs {
      val (df, st) = StatsRead.readStringKeyIn(spark, root, "google_place_id", Seq("g01234"))
      (df.collect(), st)
    }
    // the one admitted file is far below spark.sql.autoBroadcastJoinThreshold
    val ((rows, st), n) = lookup()
    assert(st.filesRead == 1 && st.totalFiles == 8, st)
    assert(rows.map(_.getString(0)).toSeq == Seq("g01234"))
    assert(n == 0, s"a driver-served lookup ran $n jobs")
    // at -1 the read is a scan: its collect is one one-task job
    val ((scanned, _), m) = PlanTestUtils.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold", "-1")(lookup())
    assert(scanned.toSeq == rows.toSeq)
    assert(m == 1, s"a scanned lookup ran $m jobs")
  }

  test("a 10-key string erasure on an indexed, bloom-less table runs at most one job") {
    val root = Files.createTempDirectory("budgeterase").resolve("t").toString
    AtomicTable.commit(poi(4000, 8), root, Seq("google_place_id"))
    val keys = (0 until 10).map(i => f"g${i * 397 + 11}%05d")
    val (st, n) = jobs(TargetedDelete.deleteStringKeys(spark, root, "google_place_id", keys))
    info(s"the erasure ran $n jobs")
    assert(st.footerReads == 0 && st.totalFiles == 8, st)
    assert(AtomicTable.read(spark, root).count() == 3990)
    assert(n <= 1, s"the erasure ran $n jobs")
  }

  test("building AtomicTable.read runs no job") {
    val root = Files.createTempDirectory("budgetread").resolve("t").toString
    AtomicTable.commit(poi(100, 3), root)
    val (df, n) = jobs(AtomicTable.read(spark, root))
    assert(n == 0, s"building the read ran $n jobs")
    assert(df.count() == 100)
  }

  test("one ingest micro-batch runs at most 4 jobs; a redelivered one runs none") {
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
    assert(n <= 4, s"a micro-batch ran $n jobs")
    val (_, again) = jobs(process(1))
    assert(again == 0, s"a redelivered micro-batch ran $again jobs")
    assert(AtomicTable.read(spark, ledgerRoot).as[(String, Long, Long)].collect().toSeq ==
      Seq(("places", 100L, 40L)))
  }

  /** The executed plan of every SQL execution `body` runs, the writes
    * included (AQE-aware: call [[ops]] on each). */
  private def plans[A](body: => A): (A, Seq[SparkPlan]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = body
      org.apache.spark.GraftTestBridge.drainListenerBus(spark.sparkContext)
      (out, seen.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  private def flat(p: SparkPlan) = PlanTestUtils.flatten(p)

  private def isWrite(p: SparkPlan): Boolean =
    flat(p).exists(_.isInstanceOf[DataWritingCommandExec])

  /** Part files of `root`'s version `v`. */
  private def parts(root: String, v: String): Int = {
    val st = Files.list(Paths.get(root, v))
    try st.toArray.count(_.toString.endsWith(".parquet")) finally st.close()
  }

  test("a stats-pruned upsert of a 20-row local changeset runs one job with no exchange") {
    import spark.implicits._
    val root = Files.createTempDirectory("budgetmerge").resolve("t").toString
    AtomicTable.commit(poi(4000, 8), root, Seq("google_place_id"))
    // 15 updates inside one file's key range, 5 inserts just past it
    val changes = (1000 until 1020).map(i => (f"g$i%05d" + (if (i < 1015) "" else "x"),
        s"Renamed $i", 5.0)).toDF("google_place_id", "name", "rating")
      .withColumn("first_ingested_at", lit(null).cast("timestamp"))
    val ((ms, qs), n) = jobs(plans(KeyedMerge.merge(spark, root, Seq("google_place_id"),
      changes, (b, c) => MergeSink.upsert(b, c, "google_place_id",
        updateCols = Seq("name", "rating"), asOf = "2025-06-01 00:00:00"))))
    assert(ms.rewrittenFiles == 1 && ms.totalFiles == 8 && ms.footerReads == 0, ms)
    assert(n == 1, s"the merge ran $n jobs")
    val writes = qs.filter(isWrite)
    assert(writes.size == 1, s"${writes.size} writes")
    qs.foreach { q =>
      val ex = flat(q).collect { case e: Exchange => e }
      assert(ex.isEmpty, s"the merge plans an exchange:\n$q")
    }
    val out = AtomicTable.read(spark, root)
    assert(out.count() == 4005)
    assert(out.where(col("name").startsWith("Renamed")).count() == 20)
    assert(parts(root, ms.version) == 8)
  }

  test("a merge whose rewrite needs two output files keeps its range exchange") {
    import spark.implicits._
    // two files of 2.2M rows each: touched rows pass MergeTargetRowsPerFile
    val perFile = 2200000L
    assert(2 * perFile > KeyedMerge.MergeTargetRowsPerFile)
    val root = Files.createTempDirectory("budgetmerge2").resolve("t").toString
    AtomicTable.commit(spark.range(2 * perFile).select(col("id"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("id")).sortWithinPartitions("id"), root, Seq("id"))
    val changes = Seq((5L, 100L), (2 * perFile - 5, 200L), (2 * perFile + 1, 300L)).toDF("id", "nv")
    val (ms, qs) = plans(KeyedMerge.merge(spark, root, Seq("id"), changes,
      (b, c) => b.join(c, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nv"), col("v")).as("v"))))
    assert(ms.rewrittenFiles == 2 && ms.reusedFiles == 0, ms)
    val ranged = qs.filter(isWrite).flatMap(flat).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case r: RangePartitioning => r.numPartitions }
    assert(ranged == Seq(2), s"the write plans range exchanges into $ranged partitions")
    val out = AtomicTable.read(spark, root)
    assert(parts(root, ms.version) == 2)
    assert(out.count() == 2 * perFile + 1)
    assert(out.where(col("v") >= 100).select("id").as[Long].collect().sorted.toSeq ==
      Seq(5L, 2 * perFile - 5, 2 * perFile + 1))
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
    KeyedMerge.merge(spark, root, Seq("k"),
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

  test("ddDupClusters plus its collect runs at most 9 jobs on a Spark-written corpus") {
    // 19 with schema inference on the load, a five-job loop setup and a
    // caller-side cluster-size join; 11 with a fingerprint stop, one round
    // that changed nothing and its except confirm. The corpus's pair graph
    // is already a star forest, so the star-forest stop runs no round.
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
    assert(n <= 9, s"ddDupClusters ran $n jobs")
  }

  /** A Spark-written corpus that every stage of the curation ladder drops
    * from: 300 English documents of 30 words, each 3-gram holding a word
    * no other document has and every third word a stopword or language
    * marker, so the clean chain keeps them; a near-duplicate (one word
    * appended, same site) of every fifth; a copy on another site of each
    * eval document (it shares the eval document's 8-grams but not its
    * near-duplicate block); an exact duplicate and a short document. */
  private def curationCorpus(): String = {
    val dir = Files.createTempDirectory("budgetcuration").toString
    val common = "array('the', 'fast', 'a', 'small')"
    val docs = spark.range(300).select(col("id").as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(0, 29), k ->
        CASE WHEN k % 3 = 1 THEN $common[(k DIV 3) % 4] ELSE concat('w', id, '_', k) END))""")
        .as("text"),
      lit("en").as("lang"), lit("web").as("source"))
    val nearDups = docs.filter(col("doc_id") % 5 === 0).select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"), col("lang"), col("source"))
    val evalCopies = docs.filter(col("doc_id") % TextAnalysis.EvalMod === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" yy")).as("text"), col("lang"), lit("news").as("source"))
    val odd = docs.filter(col("doc_id") === 1).select(lit(300001L).as("doc_id"), col("text"),
      col("lang"), col("source"))
      .union(docs.filter(col("doc_id") === 1).select(lit(300002L).as("doc_id"),
        lit("the fast a small w_short").as("text"), col("lang"), col("source")))
    docs.union(nearDups).union(evalCopies).union(odd)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("tcDatacard plus its collect runs at most 12 jobs") {
    // 18 before the per-document curation frame: a staged clean
    // chain, a survivor semi-join with its own shingle staging, per-document
    // size lookups, a contamination aggregate and a fifth corpus join
    val dir = curationCorpus()
    val (rows, n) = jobs(TextAnalysis.tcDatacard(spark, dir).collect())
    info(s"tcDatacard ran $n jobs")
    val byStage = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rows.forall(_.getString(0) == "en"))
    assert(byStage.values.sum == 366L, byStage)
    assert(byStage("near_dup") == 60L && byStage("eval_holdout") == 4L &&
      byStage("contaminated") == 4L && byStage("exact_dup") == 1L && byStage("too_short") == 1L,
      byStage)
    assert(byStage("kept") > 0L && byStage("mix_sampled_out") > 0L, byStage)
    assert(n <= 12, s"tcDatacard ran $n jobs")
  }

  test("tcCorpusE2e plus its collect runs at most 17 jobs") {
    // 25 before the per-document curation frame, which also packs
    // the verdict's own token counts instead of semi-joining the corpus
    val dir = curationCorpus()
    val (rows, n) = jobs(TextAnalysis.tcCorpusE2e(spark, dir).collect())
    info(s"tcCorpusE2e ran $n jobs")
    assert(rows.length == 366)
    val kept = rows.filter(_.getBoolean(1))
    assert(kept.nonEmpty && kept.forall(r => !r.isNullAt(4)))
    assert(rows.filterNot(_.getBoolean(1)).forall(_.isNullAt(4)))
    // kept docs pack back to back in id order
    val offs = kept.sortBy(_.getLong(0)).map(r => (r.getLong(3), r.getLong(4)))
    assert(offs.head._2 == 0L)
    offs.sliding(2).foreach { case Array((n0, s0), (_, s1)) => assert(s1 == s0 + n0) }
    assert(n <= 17, s"tcCorpusE2e ran $n jobs")
  }

  /** Every operator of `df`'s executed plan, stages and the final adaptive
    * plan included; call after an action. */
  private def ops(df: DataFrame) = PlanTestUtils.flatten(df.queryExecution.executedPlan)

  test("assignViaCells plus its collect runs at most 2 jobs, with no exchange and no explode") {
    // a cover join runs a percentile job, a broadcast per side and a
    // shuffle back onto the POIs; the kernel runs only the collect
    val pois = Spatial.volPoints(spark, 4000)
    val areas = Spatial.areasDf(spark)
    val ((df, rows), n) = jobs {
      val df = Spatial.assignViaCells(pois, areas, spark)
      (df, df.collect())
    }
    info(s"assignViaCells ran $n jobs")
    assert(n <= 2, s"assignViaCells ran $n jobs")
    val names = ops(df).map(_.getClass.getSimpleName)
    assert(!names.exists(o => o.contains("Exchange") || o.contains("Generate")),
      s"the kernel plan shuffles or explodes: ${names.distinct}")
    def canon(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), Option(r.getString(3)), Option(r.getString(4)))).toSet
    assert(rows.length == 4000)
    assert(canon(rows) == canon(Spatial.assign(pois, areas, spark).collect()))
  }

  test("Collections.generate runs at most 3 jobs over one exchange, truncated map-side") {
    // 20k tagged POIs: the scale guarantee that replaces a salted first
    // phase is a Partial WindowGroupLimit below the single exchange
    val pois = spark.range(20000).select(col("id").cast("string").as("poi_id"),
      expr("""array(
        named_struct('tag', 'romantic', 'confidence', CAST(id % 100 AS DOUBLE) / 100.0),
        named_struct('tag', 'wine', 'confidence', CAST(id % 89 AS DOUBLE) / 89.0),
        named_struct('tag', 'brunch', 'confidence', CAST(id % 31 AS DOUBLE) / 31.0),
        named_struct('tag', 'terrace', 'confidence', CAST(id % 53 AS DOUBLE) / 53.0))""")
        .as("tags"))
    val ((df, rows), n) = jobs {
      val df = Collections.generate(pois, Collections.templatesDf(spark))
      (df, df.collect())
    }
    info(s"Collections.generate ran $n jobs")
    assert(n <= 3, s"Collections.generate ran $n jobs")
    val plan = ops(df)
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1, s"expected one exchange, got ${exchanges.size}:\n${plan.head}")
    val keys = exchanges.head.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.flatMap(_.references.map(_.name))
      case p => fail(s"exchange partitioned by $p")
    }
    assert(keys == Seq("collection_id"), s"exchange keyed on $keys")
    val partial = PlanTestUtils.flatten(exchanges.head).collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.mode == org.apache.spark.sql.execution.window.Partial => w
    }
    assert(partial.size == 1, s"no Partial WindowGroupLimit below the exchange:\n${plan.head}")
    // two templates match, each keeps its top 8 in rank order
    val byColl = rows.groupBy(_.getString(0))
    assert(byColl.keySet == Set("romantic_evenings", "sunny_brunch"), byColl.keySet)
    byColl.values.foreach { rs =>
      val ranked = rs.sortBy(_.getLong(3))
      assert(ranked.map(_.getLong(3)).toSeq == (1L to 8L) && rs.forall(_.getLong(4) == 8L))
      assert(ranked.map(_.getDouble(2)).sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("inBatchDedup plus its collect runs at most 2 jobs") {
    val cands = spark.range(6000).select(col("id").as("ord"),
      concat(lit("d"), (col("id") % 7).cast("string"), lit(".com")).as("domain"),
      concat(lit("https://x/"), (col("id") % 900).cast("string")).as("url"),
      concat(lit("Title "), (col("id") % 700).cast("string")).as("title"))
    val (rows, n) = jobs(MentionDedup.inBatchDedup(cands).collect())
    info(s"inBatchDedup ran $n jobs")
    assert(n <= 2, s"inBatchDedup ran $n jobs")
    // no two rows share (domain, url); rows 700 apart share (domain,
    // title), so the first 700 claim every title and all later rows drop
    assert(rows.map(_.getAs[Long]("ord")).toSet == (0L until 700L).toSet)
  }
}
