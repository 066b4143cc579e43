package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.AtomicTable
import graft.sources.HttpSource
import graft.sources.HttpSource.HttpResponse
import graft.streaming.IngestLoop
import graft.streaming.IngestLoop.FetchRequest

/** End-to-end ingestion loop: quota gate → backoff fetch → parse → atomic
  * upsert, across micro-batches and a UTC-midnight refill — the composed
  * form of the reference's daily ingest, every stage running the
  * individually-spec'd kernels. */
/** Fixtures live on the companion so executor closures (the transport
  * factory, the sleeper) never capture the spec instance — scalatest's
  * Engine is not serializable. */
object IngestLoopSpec {
  private def body(id: String, name: String, rating: Double) =
    s"""{"google_place_id":"$id","name":"$name","rating":$rating}"""

  // u4 is admitted but needs one 503 retry; u9/u10 arrive past midnight
  val script: Map[String, Seq[HttpResponse]] = Map(
    "u1" -> Seq(HttpResponse(200, Map.empty, body("g1", "Cafe One", 4.1))),
    "u2" -> Seq(HttpResponse(200, Map.empty, body("g2", "Cafe Two", 4.2))),
    "u3" -> Seq(HttpResponse(200, Map.empty, body("g3", "Cafe Three", 4.3))),
    "u4" -> Seq(HttpResponse(503, Map.empty, ""),
      HttpResponse(200, Map.empty, body("g4", "Late Cafe", 4.4))),
    "u9" -> Seq(HttpResponse(200, Map.empty, body("g1", "Cafe One Renamed", 4.5))),
    "u10" -> Seq(HttpResponse(200, Map.empty, body("g9", "New Day Cafe", 3.9))),
    "u12" -> Seq(HttpResponse(200, Map.empty, body("g10", "Fresh Cafe", 4.6))),
    "u14" -> Seq(HttpResponse(200, Map.empty, body("g11", "Overdraft Cafe", 1.0))),
    "s1" -> Seq(HttpResponse(200, Map.empty, body("g8", "Serp Cafe", 4.0))))

  def mkTransport(): HttpSource.Transport = new HttpSource.ReplayTransport(script)
  val noSleep: Long => Unit = _ => ()

  /** Every URL a [[Counting]] transport sent, in send order (one JVM in
    * local mode, so executor-side sends land here too). */
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Wraps a transport and records each send in [[sent]]. */
  final class Counting(inner: HttpSource.Transport) extends HttpSource.Transport {
    def send(url: String): HttpResponse = { sent.add(url); inner.send(url) }
  }

  // twenty requests on one day: r3 and r7 answer 503 once before their 200,
  // r18 and r19 fall past the quota of 18
  val countedScript: Map[String, Seq[HttpResponse]] = (0 until 20).map { i =>
    val ok = HttpResponse(200, Map.empty, body(f"g$i%03d", s"Place $i", 4.0))
    s"r$i" -> (if (i == 3 || i == 7) Seq(HttpResponse(503, Map.empty, ""), ok) else Seq(ok))
  }.toMap
  def mkCounting(): HttpSource.Transport =
    new Counting(new HttpSource.ReplayTransport(countedScript))
}

class IngestLoopSpec extends AnyFunSuite {
  import IngestLoopSpec._

  lazy val spark = Sessions.local(4)

  val DayUs = IngestLoop.DayUs
  val Limit = 3

  test("ingest loop: admission, retry-fetch, upsert and midnight refill across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graftingest")
    val (poiRoot, ledgerRoot, ckpt) =
      (s"$base/poi", s"$base/ledger", s"$base/ckpt")

    val input = MemoryStream[FetchRequest]
    val q = IngestLoop.run(spark, input.toDS(), poiRoot, ledgerRoot,
      IngestLoopSpec.mkTransport _, Limit,
      asOf = "2025-06-01 00:00:00", appId = "ingest-spec", checkpoint = ckpt,
      sleeper = noSleep)
    try {
      // batch 0: two places requests + one serp request on day 100 — each
      // api_type meters its own bucket
      input.addData(
        FetchRequest(1, "places", 100 * DayUs + 1000, "u1"),
        FetchRequest(2, "places", 100 * DayUs + 2000, "u2"),
        FetchRequest(10, "serp", 100 * DayUs + 500, "s1"))
      q.processAllAvailable()
      assert(AtomicTable.read(spark, poiRoot).count() == 3)
      val led1 = AtomicTable.read(spark, ledgerRoot).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(led1 == Map("places" -> ((100L, 2L)), "serp" -> ((100L, 1L))))

      // batch 1: three more same-day requests — the bucket (limit 3) admits
      // only the earliest; u4's fetch walks the ladder once (503 → 200)
      input.addData(
        FetchRequest(3, "places", 100 * DayUs + 3000, "u4"),
        FetchRequest(4, "places", 100 * DayUs + 4000, "u3"),
        FetchRequest(5, "places", 100 * DayUs + 5000, "u3"))
      q.processAllAvailable()
      val poi2 = AtomicTable.read(spark, poiRoot).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(poi2.keySet == Set("g1", "g2", "g4", "g8"), s"got ${poi2.keySet}")
      assert(poi2("g4") == "Late Cafe") // the retried fetch landed
      val led2 = AtomicTable.read(spark, ledgerRoot).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(led2("places") == ((100L, 3L))) // bucket exhausted
      assert(led2("serp") == ((100L, 1L)),
        "an api_type idle in this micro-batch must carry its ledger row forward")

      // batch 2: past midnight — refilled; g1 update + brand-new g9
      input.addData(
        FetchRequest(6, "places", 101 * DayUs + 10, "u9"),
        FetchRequest(7, "places", 101 * DayUs + 20, "u10"))
      q.processAllAvailable()
      val poi3 = AtomicTable.read(spark, poiRoot).collect()
        .map(r => (r.getString(0), (r.getString(1), r.getDouble(2)))).toMap
      assert(poi3.keySet == Set("g1", "g2", "g4", "g8", "g9"))
      assert(poi3("g1") == (("Cafe One Renamed", 4.5))) // upsert updated
      val led3 = AtomicTable.read(spark, ledgerRoot).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(led3("places") == ((101L, 2L)),
        "a touched api_type keeps only its NEW day's count")
      assert(led3("serp") == ((100L, 1L)),
        "an untouched api_type's row survives across micro-batches and days")

      // batch 3: exhaust day 101's bucket (2 used + 1 = limit 3)
      input.addData(FetchRequest(8, "places", 101 * DayUs + 30, "u12"))
      q.processAllAvailable()
      val led4 = AtomicTable.read(spark, ledgerRoot).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(led4("places") == ((101L, 3L)))

      // batch 4: ONLY a late straggler timestamped in day 100. It must not
      // be admitted, and — the double-spend trap — it must NOT roll the
      // ledger back to day 100 (which would make the next day-101 request
      // see prior=0 and refill the exhausted bucket).
      input.addData(FetchRequest(11, "places", 100 * DayUs + 9000, "u13"))
      q.processAllAvailable()
      val led5 = AtomicTable.read(spark, ledgerRoot).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(led5("places") == ((101L, 3L)),
        "a stale-day-only micro-batch must not regress the ledger day")

      // batch 5: a day-101 request against the exhausted bucket — denied
      input.addData(FetchRequest(12, "places", 101 * DayUs + 40, "u14"))
      q.processAllAvailable()
      val poi6 = AtomicTable.read(spark, poiRoot).collect()
        .map(_.getString(0)).toSet
      assert(!poi6.contains("g11"),
        "the exhausted day-101 bucket must stay exhausted after a stale-day batch")
      assert(poi6.contains("g10"))
      val led6 = AtomicTable.read(spark, ledgerRoot).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(led6("places") == ((101L, 3L)))

      // exactly-once: both tables absorbed the final micro-batch id
      assert(AtomicTable.lastBatch(poiRoot) == AtomicTable.lastBatch(ledgerRoot))

      // the streamed poi commits are INDEXED (statsCols threads through
      // commitBatch): a targeted delete on the stream-built table prunes
      // from the sidecar with zero footer reads (r17 — the streaming →
      // maintenance lifecycle stays on the manifest-stats path)
      val del = graft.sinks.TargetedDelete.deleteStringKeys(
        spark, poiRoot, "google_place_id", Seq("g10"))
      assert(del.footerReads == 0,
        s"stream-committed poi version was not indexed: $del")
      assert(!AtomicTable.read(spark, poiRoot).collect()
        .map(_.getString(0)).contains("g10"))
    } finally q.stop()
  }

  test("a micro-batch sends each admitted request once; a redelivery sends nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graftingestonce")
    val (poiRoot, ledgerRoot) = (s"$base/poi", s"$base/ledger")
    // a committed base, so the upsert takes the stats-pruned merge path
    // (key probe + kernel), where a lazily re-evaluated changeset would
    // fetch twice
    AtomicTable.commit(Seq(("g001", "Old One", 1.0), ("g050", "Old Fifty", 2.0))
      .toDF("google_place_id", "name", "rating")
      .withColumn("first_ingested_at", lit(null).cast("timestamp")),
      poiRoot, Seq("google_place_id"))
    val batch = (0 until 20)
      .map(i => FetchRequest(i, "places", 100 * DayUs + i * 1000L, s"r$i")).toDF()
    def run(): Unit = IngestLoop.processBatch(spark, batch, poiRoot, ledgerRoot,
      IngestLoopSpec.mkCounting _, limit = 18, asOf = "2025-06-01 00:00:00",
      appId = "once-spec", batchId = 0L, sleeper = noSleep)

    sent.clear()
    run()
    val admitted = (0 until 18).map(i => s"r$i")
    val counts = sent.toArray.map(_.toString).groupBy(identity).map { case (u, xs) => u -> xs.length }
    assert(counts.keySet == admitted.toSet, s"sent to ${counts.keySet}")
    admitted.foreach { u =>
      val want = if (u == "r3" || u == "r7") 2 else 1
      assert(counts(u) == want, s"$u sent ${counts(u)} times, want $want")
    }
    assert(sent.size == 18 + 2)
    assert(AtomicTable.read(spark, poiRoot).count() == 2 + 17) // g001 updated in place
    val led = AtomicTable.read(spark, ledgerRoot).as[(String, Long, Long)].collect()
    assert(led.toSeq == Seq(("places", 100L, 18L)))

    // the same batch id again: both tables skip, nothing is fetched
    sent.clear()
    run()
    assert(sent.isEmpty, s"a redelivered batch sent ${sent.size} requests")
    assert(AtomicTable.read(spark, poiRoot).count() == 19)
    assert(AtomicTable.read(spark, ledgerRoot).as[(String, Long, Long)].collect().toSeq == led.toSeq)
  }
}
