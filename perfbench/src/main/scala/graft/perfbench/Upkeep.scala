package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.{AtomicTable, StatsRead, TargetedDelete}
import graft.sources.HttpSource
import graft.sources.HttpSource.HttpResponse
import graft.streaming.{IngestLoop, QuotaBucket}
import graft.streaming.IngestLoop.FetchRequest

/** The offline transport of the upkeep workload. A URL is
  * `key|day|flag`: flag 0 answers 200 at once, 1 answers 503 before its
  * 200 (one backoff step), 2 answers 404. The body is a function of key
  * and day, so the expected store state is known in advance. */
object UpkeepTransport {
  def body(key: String, day: Int): (String, Double) =
    (s"Name $key d$day", 3.0 + math.floorMod(key.hashCode * 31 + day, 21) / 10.0)

  final class Gen extends HttpSource.Transport {
    private val seen = mutable.Set[String]()
    def send(url: String): HttpResponse = {
      val Array(key, day, flag) = url.split('|')
      flag match {
        case "2" => HttpResponse(404, Map.empty, "gone")
        case "1" if seen.add(url) => HttpResponse(503, Map.empty, "")
        case _ =>
          val (name, rating) = body(key, day.toInt)
          HttpResponse(200, Map.empty,
            s"""{"google_place_id":"$key","name":"$name","rating":$rating}""")
      }
    }
  }
  def make(): HttpSource.Transport = new Gen
  val noSleep: Long => Unit = _ => ()
}

/** A persisted POI store kept fresh: each round is one simulated day with
  * [[batchesPerDay]] request batches through the streaming ingest loop,
  * keyed lookups, and every [[eraseEvery]] days an erasure. The benchmark
  * keeps its own model of the store and checks every lookup against it.
  *
  * The daily quota is the engine's own [[QuotaBucket.DailyLimit]]; a day
  * asks for a fifth more than it, so the last batch of each day is partly
  * refused. The other traffic figures are the benchmark's choice. */
final class Upkeep extends Workload {
  val storeKeys = 100000
  val storeFiles = 16
  val dailyLimit: Int = QuotaBucket.DailyLimit
  val requestsPerDay: Int = dailyLimit * 6 / 5
  val batchesPerDay = 3
  val lookupsPerDay = 20
  val eraseEvery = 2
  val erasePerDay = 10
  val minRounds = 2
  val opKind = "ingest"

  private val model = mutable.HashMap[String, (String, Double)]()
  private val recent = mutable.ArrayBuffer[String]()
  private var nextKey = storeKeys
  private var input: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FetchRequest] = _
  private var query: StreamingQuery = _
  private var poiRoot: String = _
  private var ledgerRoot: String = _
  private var zipfCdf: Array[Double] = _

  def key(id: Int): String = f"g$id%08d"
  private def baseRating(seed: Long, id: Long): Double = 3.0 + math.floorMod(id * 2654435761L + seed, 21L) / 10.0

  def generate(c: Ctx, rep: Int): String = {
    val in = c.path(s"in$rep")
    val seed = c.seed
    val df = c.spark.range(storeKeys).select(
      format_string("g%08d", col("id")).as("google_place_id"),
      concat(lit("Name "), col("id")).as("name"),
      (pmod(col("id") * 2654435761L + lit(seed), lit(21L)).cast("double") / 10.0 + 3.0).as("rating"),
      timestamp_seconds(lit(Gen.AsOfEpoch) - col("id") * 60).as("first_ingested_at"))
      .repartitionByRange(storeFiles, col("google_place_id"))
      .sortWithinPartitions("google_place_id")
    AtomicTable.commit(df, s"$in/poi", Seq("google_place_id"))
    model.clear()
    recent.clear()
    (0 until storeKeys).foreach(i => model(key(i)) = (s"Name $i", baseRating(seed, i)))
    recent ++= (storeKeys - 5000 until storeKeys).map(key)
    nextKey = storeKeys
    val w = (1 to storeKeys).map(r => 1.0 / r)
    val tot = w.sum
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    in
  }

  def warmUp(c: Ctx, in: String): Unit = {
    import c.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    poiRoot = s"$in/poi"
    ledgerRoot = s"$in/ledger"
    input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[FetchRequest]
    query = IngestLoop.run(c.spark, input.toDS(), poiRoot, ledgerRoot, UpkeepTransport.make _,
      dailyLimit, Gen.AsOf, "perfbench-upkeep", c.path("checkpoint"), UpkeepTransport.noSleep)
    day(c, 0)
  }

  def round(c: Ctx, in: String, i: Int): Unit = day(c, i + 1)

  /** The requests of day `d`, in time order: 70% updates of recently
    * touched keys, 30% new keys, all distinct; 8% need one retry and 4% are
    * dead links. */
  private def requests(seed: Long, d: Int): Seq[FetchRequest] = {
    val r = new Random(seed * 131L + d)
    val keys = mutable.LinkedHashSet[String]()
    while (keys.size < requestsPerDay) {
      if (r.nextDouble() < 0.7) keys += recent(recent.size - 1 - r.nextInt(math.min(recent.size, 5000)))
      else { keys += key(nextKey); nextKey += 1 }
    }
    keys.toSeq.zipWithIndex.map { case (k, j) =>
      val x = r.nextDouble()
      val flag = if (x < 0.08) 1 else if (x < 0.12) 2 else 0
      FetchRequest(d * 100000L + j, "places", (1000L + d) * IngestLoop.DayUs + j * 1000L, s"$k|$d|$flag")
    }
  }

  /** Zipf(1) over the bulk-loaded keys (hot keys scattered over the key
    * space), a fifth of picks on recently touched keys, a tenth absent. */
  private def lookupKey(r: Random): String = {
    val x = r.nextDouble()
    if (x < 0.2) recent(recent.size - 1 - r.nextInt(math.min(recent.size, 2000)))
    else {
      val rank = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble()) match {
        case i if i >= 0 => i
        case i => math.min(-i - 1, storeKeys - 1)
      }
      val k = key(((rank.toLong * 7919L + 13L) % storeKeys).toInt)
      if (x > 0.9) k + "x" else k
    }
  }

  private def day(c: Ctx, d: Int): Unit = {
    val reqs = requests(c.seed, d)
    // the quota admits the day's earliest requests; dead links change nothing
    val admitted = reqs.take(dailyLimit).map(_.request_id).toSet
    reqs.grouped(requestsPerDay / batchesPerDay).foreach { batch =>
      val before = if (c.tr.enabled) liveFiles() else Map.empty[Long, Long]
      c.op("IngestLoop", opKind) {
        input.addData(batch)
        query.processAllAvailable()
      }
      val changed = batch.filter(q => admitted(q.request_id)).map(_.url.split('|')).filter(_(2) != "2")
      changed.foreach { case Array(k, dd, _) => model(k) = UpkeepTransport.body(k, dd.toInt) }
      recent ++= changed.map(_(0))
      if (c.tr.enabled) mergeCounters(c, before, liveFiles(), changed.size)
    }
    if (c.tr.enabled) {
      c.tr.add("IngestLoop.admitted", admitted.size)
      c.tr.add("IngestLoop.requested", reqs.size)
    }

    val r = new Random(c.seed * 7L + d)
    (0 until lookupsPerDay).foreach { _ =>
      val k = lookupKey(r)
      c.op("StatsRead", "lookup") {
        val (df, st) = StatsRead.readStringKeyIn(c.spark, poiRoot, "google_place_id", Seq(k))
        (df.select("google_place_id", "name", "rating").collect(), st)
      }.foreach { case (rows, st) =>
        val got = rows.map(x => (x.getString(0), (x.getString(1), x.getDouble(2)))).toSeq
        c.check(got == model.get(k).map(v => (k, v)).toSeq, s"day $d lookup $k: got $got, want ${model.get(k)}")
        c.tr.add("StatsRead.files_read", st.filesRead)
        c.tr.add("StatsRead.files_total", st.totalFiles)
        c.tr.add("StatsRead.lookups", 1)
      }
    }

    if (d > 0 && d % eraseEvery == 0) {
      val ids = model.keys.toIndexedSeq.sorted
      val keys = Seq.fill(erasePerDay)(ids(r.nextInt(ids.size))).distinct
      c.op("TargetedDelete", "erase") {
        TargetedDelete.deleteStringKeys(c.spark, poiRoot, "google_place_id", keys)
      }.foreach { st =>
        keys.foreach(model.remove)
        c.tr.add("TargetedDelete.files_rewritten", st.rewrittenFiles)
        c.tr.add("TargetedDelete.files_reused", st.reusedFiles)
        c.tr.add("TargetedDelete.erasures", 1)
      }
    }
  }

  private def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  private def inode(p: Path): Long = Files.getAttribute(p, "unix:ino").asInstanceOf[Long]

  /** inode -> size of the live version's data files. */
  private def liveFiles(): Map[Long, Long] =
    AtomicTable.currentVersion(poiRoot).toSeq
      .flatMap(v => partFiles(Paths.get(poiRoot, v)))
      .map(p => inode(p) -> Files.size(p)).toMap

  private def mergeCounters(c: Ctx, before: Map[Long, Long], after: Map[Long, Long], changedRows: Int): Unit = {
    val rewritten = after.filter { case (ino, _) => !before.contains(ino) }
    val liveBytes = after.values.sum.toDouble
    val rowBytes = liveBytes / math.max(model.size, 1)
    c.tr.add("KeyedMerge.files_rewritten", rewritten.size)
    c.tr.add("KeyedMerge.live_files", after.size)
    c.tr.add("KeyedMerge.bytes_written", rewritten.values.sum)
    c.tr.add("KeyedMerge.changed_bytes", changedRows * rowBytes)
    c.tr.add("KeyedMerge.batches", 1)
  }

  def afterRound(c: Ctx, in: String, i: Int): Unit = if (i == minRounds - 1) {
    val store = AtomicTable.read(c.spark, poiRoot)
    c.check(store.count() == model.size, s"store holds ${store.count()} rows, model ${model.size}")
    c.digests("poi") = Digest.of(store)
    c.digests("ledger") = Digest.of(AtomicTable.read(c.spark, ledgerRoot))
  }

  override def ratios(c: Ctx): Map[String, Double] = {
    def per(a: String, b: String) = { val d = c.tr.counter(b); if (d == 0) 0.0 else c.tr.counter(a) / d }
    val bs = c.tr.timedBatches("round")
    def mean(f: Map[String, Double] => Double) = if (bs.isEmpty) 0.0 else bs.map(f).sum / bs.size
    def ph(m: Map[String, Double], k: String) = m.getOrElse(k, 0.0)
    // disk use of the store, every retained version, hard links once
    val disk = Files.walk(Paths.get(poiRoot)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => inode(p) -> Files.size(p)).toMap.values.sum
    val live = liveFiles()
    Map(
      "IngestLoop.batch_ms" -> mean(ph(_, "triggerExecution")),
      "IngestLoop.add_batch_ms" -> mean(ph(_, "addBatch")),
      "IngestLoop.plan_ms" -> mean(ph(_, "queryPlanning")),
      "IngestLoop.wal_ms" -> mean(m => ph(m, "walCommit") + ph(m, "commitOffsets")),
      "IngestLoop.admit_ratio" -> per("IngestLoop.admitted", "IngestLoop.requested"),
      "KeyedMerge.files_rewritten" -> per("KeyedMerge.files_rewritten", "KeyedMerge.batches"),
      "KeyedMerge.rewrite_ratio" -> per("KeyedMerge.files_rewritten", "KeyedMerge.live_files"),
      "KeyedMerge.write_amp" -> per("KeyedMerge.bytes_written", "KeyedMerge.changed_bytes"),
      "AtomicTable.live_files" -> live.size.toDouble,
      "AtomicTable.live_mb" -> live.values.sum / 1048576.0,
      "AtomicTable.disk_mb" -> disk / 1048576.0,
      "StatsRead.files_scanned" -> per("StatsRead.files_read", "StatsRead.lookups"),
      "StatsRead.prune_ratio" -> (1.0 - per("StatsRead.files_read", "StatsRead.files_total")),
      "TargetedDelete.files_rewritten" -> per("TargetedDelete.files_rewritten", "TargetedDelete.erasures"),
      "TargetedDelete.files_reused" -> per("TargetedDelete.files_reused", "TargetedDelete.erasures"))
  }

  def named(c: Ctx, roundS: Seq[Double]) = {
    val ing = c.sample("ingest").map(_ / 1000.0)
    val look = c.sample("lookup")
    val er = c.sample("erase").map(_ / 1000.0)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def tail(xs: Seq[Double], nMin: Int) =
      if (xs.isEmpty) 0.0 else Stats.quantile(xs, Stats.tailPercentile(nMin) / 100.0)
    Seq(("wall_s", Stats.median(roundS), "s"),
      ("ingest_p50_s", p50(ing), "s"), ("ingest_tail_s", tail(ing, minRounds * batchesPerDay), "s"),
      ("lookup_p50_ms", p50(look), "ms"), ("lookup_tail_ms", tail(look, minRounds * lookupsPerDay), "ms"),
      ("erase_p50_s", p50(er), "s"))
  }

  override def close(c: Ctx): Unit = if (query != null) query.stop()
}
