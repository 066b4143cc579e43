package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{CellFsm, FsmQueries, Streams}

/** Structured Streaming behavior: the FSM over the state store across
  * micro-batches, watermarked dedup, and streaming-vs-batch window parity. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = Sessions.local(4)

  test("streaming FSM: saturation splits, children scan in later batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CellFsm.ScanResult]
    val q = CellFsm.streamingFsm(spark, input.toDS())
      .writeStream.format("memory").queryName("fsm_out").outputMode("append").start()
    try {
      // batch 1: res-9 cell saturates → split + 7 pending children (aperture 7)
      input.addData(CellFsm.ScanResult("h9:100:200", 70, 25, "2025-06-01 00:00:00"))
      q.processAllAvailable()
      val b1 = spark.sql("select * from fsm_out").as[CellFsm.CellState].collect()
      assert(b1.exists(s => s.h3 == "h9:100:200" && s.status == "split" && s.attempts == 1))
      val children = b1.filter(_.status == "pending")
      assert(children.length == 7 && children.forall(_.res == 10))

      // batch 2: same cell scanned again → state persisted, attempts increments
      input.addData(CellFsm.ScanResult("h9:100:200", 10, 3, "2025-06-08 00:00:00"))
      q.processAllAvailable()
      val b2 = spark.sql("select * from fsm_out").as[CellFsm.CellState].collect()
      assert(b2.exists(s => s.h3 == "h9:100:200" && s.status == "scanned" && s.attempts == 2),
        "state store must carry attempts across micro-batches")

      // batch 3: a child cell gets scanned normally
      input.addData(CellFsm.ScanResult("h10:200:400", 5, 2, "2025-06-09 00:00:00"))
      q.processAllAvailable()
      val b3 = spark.sql("select * from fsm_out").as[CellFsm.CellState].collect()
      assert(b3.exists(s => s.h3 == "h10:200:400" && s.status == "scanned"
        && s.nextDueAt.exists(_.startsWith("2025-06-16"))))
    } finally q.stop()
  }

  test("streaming FSM on REAL H3 keys: split emits the seven H3 children, state persists") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val doc = "8928308280fffff" // the H3 docs' res-9 worked-example cell
    val input = MemoryStream[CellFsm.ScanResult]
    val q = CellFsm.streamingFsm(spark, input.toDS(), CellFsm.H3CellIndex)
      .writeStream.format("memory").queryName("h3fsm_out").outputMode("append").start()
    try {
      // saturated res-9 scan → split + 7 pending REAL res-10 children
      input.addData(CellFsm.ScanResult(doc, 70, 25, "2025-06-01 00:00:00"))
      q.processAllAvailable()
      val b1 = spark.sql("select * from h3fsm_out").as[CellFsm.CellState].collect()
      assert(b1.exists(s => s.h3 == doc && s.status == "split" && s.res == 9))
      val kids = b1.filter(_.status == "pending")
      val expect = graft.expr.H3Index
        .children(graft.expr.H3Index.parse(doc), 10).map(graft.expr.H3Index.format).toSet
      assert(kids.map(_.h3).toSet == expect && kids.forall(_.res == 10))

      // a child scans quietly → scanned with a due date; attempts from state
      val child = expect.head
      input.addData(CellFsm.ScanResult(child, 5, 2, "2025-06-02 00:00:00"))
      q.processAllAvailable()
      val b2 = spark.sql("select * from h3fsm_out").as[CellFsm.CellState].collect()
      assert(b2.exists(s => s.h3 == child && s.status == "scanned" && s.res == 10
        && s.nextDueAt.exists(_.startsWith("2025-06-09"))))

      // a saturated res-11 grandchild cannot split past the config ladder cap
      val gkid = graft.expr.H3Index.format(
        graft.expr.H3Index.centerChild(graft.expr.H3Index.parse(child), 11))
      input.addData(CellFsm.ScanResult(gkid, 99, 30, "2025-06-03 00:00:00"))
      q.processAllAvailable()
      val b3 = spark.sql("select * from h3fsm_out").as[CellFsm.CellState].collect()
      assert(b3.exists(s => s.h3 == gkid && s.status == "saturated" && s.res == 11))
      assert(!b3.exists(_.res == 12), "max_res=11 ladder cap must stop subdivision")
    } finally q.stop()
  }

  test("watermarked dedup drops duplicate event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupStream(df)
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2025-06-01 10:00:00")
      input.addData((1L, t0, 1.0), (1L, t0, 1.0), (2L, t0, 2.0))
      q.processAllAvailable()
      input.addData((2L, t0, 2.0), (3L, t0, 3.0)) // dup across batches
      q.processAllAvailable()
      val ids = spark.sql("select event_id from dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from dedup state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupStream(df, "10 minutes")
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      input.addData((1L, java.sql.Timestamp.valueOf("2025-06-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // advance the watermark well past 10:00
      input.addData((2L, java.sql.Timestamp.valueOf("2025-06-01 12:00:00"), 2.0))
      q.processAllAvailable()
      // a late duplicate of id 1 AND a late new id arrive hours behind the
      // watermark: both are dropped (late beyond watermark), state for id 1
      // having been evicted does NOT resurrect the duplicate
      input.addData((1L, java.sql.Timestamp.valueOf("2025-06-01 09:00:00"), 1.0),
        (3L, java.sql.Timestamp.valueOf("2025-06-01 09:30:00"), 3.0))
      q.processAllAvailable()
      val ids = spark.sql("select event_id from late_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L), s"late rows must be dropped, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("streaming session windows merge events within the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("event_id", "ts", "user_id", "value")
    val q = Streams.sessionWindowStream(df)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (1L, ts("2025-06-01 10:00:00"), 7L, 1.0),
        (2L, ts("2025-06-01 10:20:00"), 7L, 2.0),  // same session (gap 20m < 30m)
        (3L, ts("2025-06-01 11:30:00"), 7L, 3.0))  // new session
      input.addData((9L, ts("2025-06-01 20:00:00"), 99L, 0.0)) // close windows
      q.processAllAvailable()
      val sessions = spark.sql(
        "select user_id, n_events, session_value from sess_out where user_id = 7")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(sessions == Set((2L, 3.0), (1L, 3.0)),
        s"expected one 2-event and one 1-event session, got $sessions")
    } finally q.stop()
  }

  test("stateful snapshot suppression across micro-batches (S10 stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Snapshot]
    val q = Streams.snapshotSuppressionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("snap_out").outputMode("append").start()
    try {
      def snap(d: String, rc: Int) = Streams.Snapshot("p1", "google", 4.5, rc,
        java.sql.Timestamp.valueOf(d))
      input.addData(snap("2025-06-01 00:00:00", 10), snap("2025-06-03 00:00:00", 12))
      q.processAllAvailable() // first accepted, +2d suppressed
      input.addData(snap("2025-06-05 00:00:00", 14)) // +4d vs state → suppressed
      q.processAllAvailable()
      input.addData(snap("2025-06-09 00:00:00", 20)) // +8d vs state → accepted
      q.processAllAvailable()
      val kept = spark.sql("select reviews_count from snap_out")
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(kept == Seq(10, 20),
        s"state must persist the last accepted capture across batches, got $kept")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mentionRows = Seq(
      (1L, "lefooding.com", ts("2025-06-10 12:00:00")),
      (2L, "lefooding.com", ts("2025-06-14 12:00:00")),
      (3L, "other.net", ts("2025-06-10 12:00:00")))
    val entryRows = Seq(
      (10L, "lefooding.com", ts("2025-06-09 00:00:00")), // 1.5d before m1 -> joins m1; 5.5d before m2 -> not m2
      (11L, "lefooding.com", ts("2025-06-13 00:00:00")), // joins m2 only (after m1)
      (12L, "unrelated.org", ts("2025-06-10 00:00:00")))
    val mIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val eIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val joined = Streams.mentionFeedJoinStream(
      mIn.toDF().toDF("m_id", "m_domain", "m_ts"),
      eIn.toDF().toDF("e_id", "e_domain", "e_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      // feed the two sides in separate batches — the join must buffer state
      eIn.addData(entryRows.take(2)); q.processAllAvailable()
      mIn.addData(mentionRows: _*); q.processAllAvailable()
      eIn.addData(entryRows.drop(2)); q.processAllAvailable()
      val streamed = spark.sql("select m_id, e_id from ssj_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = mentionRows.toDF("m_id", "m_domain", "m_ts")
        .join(entryRows.toDF("e_id", "e_domain", "e_ts"),
          expr("m_domain = e_domain AND e_ts >= m_ts - INTERVAL 3 DAYS AND e_ts <= m_ts"))
        .select("m_id", "e_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed == Set((1L, 10L), (2L, 11L)))
    } finally q.stop()
  }

  // ------------------------------------------------------- volume parity

  test("volume: stream-stream interval join == batch join over 5k x 2k events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2025-06-${1 + day}%02d $hour%02d:00:00")
    // 5k mentions over 40 domains x 10 days; 2k entries over 50 domains
    // (domains 40-49 never match) x 12 days — plenty of cross-batch pairs
    // reaching back through the 3-day join window
    val mentionDay = (i: Int) => i % 10
    val entryDay = (j: Int) => j % 12
    val mentionRows = (0 until 5000).map { i =>
      (i.toLong, s"d${i % 40}.com", ts(mentionDay(i), 6 + i % 12))
    }
    val entryRows = (0 until 2000).map { j =>
      (j.toLong, s"d${j % 50}.com", ts(entryDay(j), j % 24))
    }
    val mIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val eIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val joined = Streams.mentionFeedJoinStream(
      mIn.toDF().toDF("m_id", "m_domain", "m_ts"),
      eIn.toDF().toDF("e_id", "e_domain", "e_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_vol_out")
      .outputMode("append").start()
    try {
      // one micro-batch per day per side, in event-time order (the 1-hour
      // watermark bounds LATENESS, not state reach: a day-d mention still
      // joins day-(d-3) entries from state, which is what this exercises —
      // feeding days out of order would correctly drop them as late)
      for (d <- 0 until 12) {
        val es = entryRows.zipWithIndex.collect { case (r, j) if entryDay(j) == d => r }
        if (es.nonEmpty) { eIn.addData(es: _*); q.processAllAvailable() }
        val ms = mentionRows.zipWithIndex.collect { case (r, i) if mentionDay(i) == d => r }
        if (ms.nonEmpty) { mIn.addData(ms: _*); q.processAllAvailable() }
      }
      val streamed = spark.sql("select m_id, e_id from ssj_vol_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = mentionRows.toDF("m_id", "m_domain", "m_ts")
        .join(entryRows.toDF("e_id", "e_domain", "e_ts"),
          expr("m_domain = e_domain AND e_ts >= m_ts - INTERVAL 3 DAYS AND e_ts <= m_ts"))
        .select("m_id", "e_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size}")
    } finally q.stop()
  }

  test("stream-stream join state is EVICTED by the watermark, not accumulated") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2025-06-${1 + day}%02d $hour%02d:00:00")
    val mIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val eIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val joined = Streams.mentionFeedJoinStream(
      mIn.toDF().toDF("m_id", "m_domain", "m_ts"),
      eIn.toDF().toDF("e_id", "e_domain", "e_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_evict_out")
      .outputMode("append").start()
    try {
      var fed = 0L
      def stateRows: Long = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      // 12 days, 40 entries + 60 mentions per day, 5 domains: event time
      // advances a day per micro-batch, so the watermark (1 h lateness) +
      // the 3-day join reach bound the retained state at ~4 days of
      // entries — a steady state, not a linear accumulation
      var steady = 0L
      for (d <- 0 until 12) {
        eIn.addData((0 until 40).map(j => ((d * 100 + j).toLong, s"d${j % 5}.com", ts(d, j % 12))): _*)
        mIn.addData((0 until 60).map(i => ((d * 1000 + i).toLong, s"d${i % 5}.com", ts(d, 6 + i % 12))): _*)
        q.processAllAvailable()
        fed += 100
        if (d == 5) steady = stateRows
      }
      val end = stateRows
      assert(end > 0, "join state must exist")
      assert(end < fed / 2,
        s"state $end did not evict against $fed fed rows — watermark not bounding")
      // steady state: day-11's retained rows are in the same ballpark as
      // day-5's, not ~2x (which linear accumulation would give)
      assert(end <= steady * 3 / 2,
        s"state grew from $steady (day 5) to $end (day 11) — accumulating, not evicting")
    } finally q.stop()
  }

  test("volume: streaming FSM == two sequential batch steps over 3200 cells") {
    import spark.implicits._
    import graft.expr.CellGrid
    implicit val sqlCtx = spark.sqlContext
    val day1 = "2025-06-01 00:00:00"
    val day2 = "2025-06-09 00:00:00"
    val cells = for { q <- 0 until 80; r <- 0 until 40 } yield (s"h9:$q:$r", q, r)
    // ~1/4 saturate and split on day 1, the rest scan clean
    val scans1 = cells.map { case (h3, q, r) =>
      CellFsm.ScanResult(h3, if ((q + r) % 4 == 0) 70 else 10,
        if (r % 7 == 0) 25 else 3, day1)
    }
    val splitParents = cells.collect {
      case (h3, q, r) if (q + r) % 4 == 0 || r % 7 == 0 => h3 }
    // day 2: rescan a third of the clean cells + scan some emitted children
    // (every other child saturates at res 10 → splits again to res 11)
    val scans2 = cells.collect {
      case (h3, q, r) if q % 3 == 0 && (q + r) % 4 != 0 && r % 7 != 0 =>
        CellFsm.ScanResult(h3, 30, 2, day2)
    } ++ splitParents.flatMap(p => CellGrid.cellToChildren(p).zipWithIndex.collect {
      case (c, i) if i % 2 == 0 => CellFsm.ScanResult(c, if (i % 4 == 0) 65 else 5, 2, day2)
    })

    def scansDf(s: Seq[CellFsm.ScanResult]) =
      s.toDF("h3", "totalResults", "maxCategoryCount", "asOf")
        .select(col("h3"), col("totalResults").as("total_results"),
          col("maxCategoryCount").as("max_category_count"), col("asOf").as("as_of"))
    val cellsDf = cells.map(c => (c._1, 9)).toDF("h3", "res").select(
      col("h3"), col("res"), lit("pending").as("status"), lit(false).as("saturated"),
      lit(null).cast("timestamp").as("last_scanned_at"),
      lit(null).cast("timestamp").as("next_due_at"),
      lit(null).cast("int").as("results_last"), lit(0).as("attempts"))
    val batchFinal = CellFsm.step(CellFsm.step(cellsDf, scansDf(scans1)), scansDf(scans2))
    def key(h3: String, res: Int, st: String, sat: Boolean, rl: Option[Int], at: Int,
        lsd: Option[String], ndd: Option[String]) =
      (h3, res, st, sat, rl, at, lsd.map(_.take(10)), ndd.map(_.take(10)))
    val batchSet = batchFinal.collect().map { r =>
      key(r.getString(0), r.getInt(1), r.getString(2), r.getBoolean(3),
        if (r.isNullAt(6)) None else Some(r.getInt(6)), r.getInt(7),
        Option(r.getTimestamp(4)).map(_.toString), Option(r.getTimestamp(5)).map(_.toString))
    }.toSet

    val input = MemoryStream[CellFsm.ScanResult]
    val q = CellFsm.streamingFsm(spark, input.toDS())
      .writeStream.format("memory").queryName("fsm_vol_out").outputMode("append").start()
    try {
      input.addData(scans1); q.processAllAvailable()
      input.addData(scans2); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.sql("select * from fsm_vol_out").as[CellFsm.CellState].collect()
    // final state per cell = its highest-attempts emission (children emitted
    // pending at 0, each scan increments); cells never emitted aren't touched
    val streamFinal = emitted.groupBy(_.h3).map { case (_, rows) =>
      val s = rows.maxBy(_.attempts)
      key(s.h3, s.res, s.status, s.saturated, s.resultsLast, s.attempts,
        s.lastScannedAt, s.nextDueAt)
    }.toSet
    // batch state also carries never-scanned rows; restrict to touched cells
    val touched = streamFinal.map(_._1)
    val batchTouched = batchSet.filter(t => touched.contains(t._1))
    assert(streamFinal == batchTouched,
      s"diff=${(streamFinal diff batchTouched).take(3)} | ${(batchTouched diff streamFinal).take(3)}")
    assert(streamFinal.size > 3500, s"expected parents+children, got ${streamFinal.size}")
  }

  test("state-store volume: streaming FSM fixpoint == batch fixpoint over 10k seeds") {
    // VERDICT r9 item 6: the production shape for continuous ingest is the
    // flatMapGroupsWithState FSM — drive it through the SPLIT FAN-OUT to the
    // fixpoint over ~10k seeded cells (res 9 → 10 → 11 across 3
    // micro-batches, children surfacing as state-store keys mid-stream) and
    // assert the final state equals the batch fixpoint loop's, cell for cell.
    import spark.implicits._
    import graft.streaming.{CellFsm, FsmQueries}
    implicit val sqlCtx = spark.sqlContext
    val satMod = 1 // ((5q+3r) mod 7) < 1 saturates: ~1/7 fan-out per level
    val seeds = for { q <- 0 until 100; r <- 0 until 100 } yield s"h9:$q:$r"
    val seedsDf = seeds.map((_, 9)).toDF("h3", "res").select(
      col("h3"), col("res"), lit("pending").as("status"), lit(false).as("saturated"),
      lit(null).cast("timestamp").as("last_scanned_at"),
      lit(null).cast("timestamp").as("next_due_at"),
      lit(null).cast("int").as("results_last"), lit(0).as("attempts"))

    def cellKey(h3: String, res: Int, st: String, sat: Boolean, rl: Option[Int],
        at: Int, lsd: Option[String], ndd: Option[String]) =
      (h3, res, st, sat, rl, at, lsd.map(_.take(10)), ndd.map(_.take(10)))

    val batchSet = FsmQueries.convergeFixpoint(seedsDf, satMod).collect().map { r =>
      cellKey(r.getString(0), r.getInt(1), r.getString(2), r.getBoolean(3),
        if (r.isNullAt(6)) None else Some(r.getInt(6)), r.getInt(7),
        Option(r.getTimestamp(4)).map(_.toString), Option(r.getTimestamp(5)).map(_.toString))
    }.toSet
    assert(batchSet.size > 20000, s"fan-out too small: ${batchSet.size} cells")
    assert(batchSet.exists(_._2 == 11), "fixpoint never reached res 11")

    // the deterministic scan generator, driver-side (same arithmetic as
    // FsmQueries.convergeScans): scan every not-yet-scanned pending cell
    def scanOf(h3: String): CellFsm.ScanResult = {
      val p = h3.split(":")
      val res = p(0).drop(1).toInt
      val sat = (((p(1).toLong * 5 + p(2).toLong * 3) % 7) + 7) % 7 < satMod
      val asOf = java.time.LocalDateTime.parse("2025-06-01T00:00:00")
        .plusDays(res - 9).format(
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      CellFsm.ScanResult(h3, if (sat) 70 else 30, 5, asOf)
    }

    val input = MemoryStream[CellFsm.ScanResult]
    val q = CellFsm.streamingFsm(spark, input.toDS())
      .writeStream.format("memory").queryName("fsm_fixpoint_out")
      .outputMode("append").start()
    var batches = 0
    try {
      val scanned = scala.collection.mutable.Set[String]()
      var pending: Seq[String] = seeds
      while (pending.nonEmpty) {
        batches += 1
        scanned ++= pending
        input.addData(pending.map(scanOf))
        q.processAllAvailable()
        // children emitted this batch become the next micro-batch's scans
        pending = spark.sql(
          "select h3 from fsm_fixpoint_out where status = 'pending'")
          .as[String].collect().toSeq.distinct.filterNot(scanned)
      }
    } finally q.stop()
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")

    val emitted = spark.sql("select * from fsm_fixpoint_out")
      .as[CellFsm.CellState].collect()
    // final state per cell = its highest-attempts emission (children surface
    // as pending/0 first, each scan increments attempts)
    val streamSet = emitted.groupBy(_.h3).map { case (_, rows) =>
      val s = rows.maxBy(_.attempts)
      cellKey(s.h3, s.res, s.status, s.saturated, s.resultsLast, s.attempts,
        s.lastScannedAt, s.nextDueAt)
    }.toSet
    assert(streamSet.size == batchSet.size,
      s"stream=${streamSet.size} batch=${batchSet.size}")
    assert(streamSet == batchSet,
      s"diff=${(streamSet diff batchSet).take(3)} | ${(batchSet diff streamSet).take(3)}")
  }

  test("volume: watermarked dedup == batch distinct over the 10k-event table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_id"), col("ts"), col("value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      .sortBy(_._2.getTime)
    // re-inject every 5th event as a duplicate within its arrival batch
    val batches = rows.grouped((rows.length + 2) / 3).map { b =>
      b ++ b.zipWithIndex.collect { case (e, i) if i % 5 == 0 => e }
    }.toSeq
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupStream(df, "30 days")
      .writeStream.format("memory").queryName("dedup_vol_out").outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.sql("select event_id from dedup_vol_out")
      .collect().map(_.getLong(0)).sorted
    val distinctIds = rows.map(_._1).distinct.sorted
    assert(streamed.length == distinctIds.length && streamed.toSeq == distinctIds.toSeq,
      s"stream=${streamed.length} batch=${distinctIds.length}")
  }

  test("volume: stateful suppression == greedy per-key fold over 15k snapshots") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // sf-scale snapshots; reviews_count re-derived from capture time so rows
    // colliding on (key, time) are identical and set-compare is well-defined
    val snaps = graft.domain.VolumeFixtures.snapshotsVol(spark, "/root/testdata/sf0.01")
      .collect().map { r =>
        val t = r.getAs[Any](4) match {
          case ts: java.sql.Timestamp => ts
          case ldt: java.time.LocalDateTime => java.sql.Timestamp.valueOf(ldt)
        }
        Streams.Snapshot(r.getString(0), r.getString(1), 3.0,
          (t.getTime / 1000 % 1000).toInt, t)
      }.distinct
    assert(snaps.length > 10000)
    val cut = snaps.map(_.captured_at.getTime).sorted.apply(snaps.length / 2)
    val (b1, b2) = snaps.partition(_.captured_at.getTime < cut)
    val input = MemoryStream[Streams.Snapshot]
    val q = Streams.snapshotSuppressionStream(spark, input.toDS())
      .writeStream.format("memory").queryName("snap_vol_out").outputMode("append").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("select * from snap_vol_out").as[Streams.Snapshot]
      .collect().map(s => (s.poi_id, s.captured_at.getTime, s.reviews_count)).toSet
    // reference: greedy accept-if->=7d-after-last-accepted per key, in time order
    val expected = snaps.groupBy(s => (s.poi_id, s.source_id)).flatMap { case (_, ss) =>
      var last = Long.MinValue
      ss.toSeq.sortBy(_.captured_at.getTime).flatMap { s =>
        val t = s.captured_at.getTime
        if (last == Long.MinValue || t - last >= 7L * 86400000L) { last = t; Some(s) }
        else None
      }
    }.map(s => (s.poi_id, s.captured_at.getTime, s.reviews_count)).toSet
    assert(streamed == expected,
      s"stream=${streamed.size} expected=${expected.size}")
  }

  test("streaming sliding window matches batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "2025-06-01 10:05:00", "a", 1.0),
      (2L, "2025-06-01 10:20:00", "a", 2.0),
      (3L, "2025-06-01 10:40:00", "b", 3.0),
      (4L, "2025-06-01 11:10:00", "a", 4.0))
      .map { case (i, t, e, v) => (i, java.sql.Timestamp.valueOf(t), e, v) }
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val sdf = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Streams.slidingAgg(sdf).writeStream
      .format("memory").queryName("win_out").outputMode("append").start()
    try {
      input.addData(rows: _*)
      // advance watermark far enough to close all windows
      input.addData((99L, java.sql.Timestamp.valueOf("2025-06-01 20:00:00"), "z", 0.0))
      q.processAllAvailable()
      val streamed = spark.sql(
        "select window.start as ws, event_type, n, sum_value from win_out where event_type != 'z'")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batchDf = rows.toDF("event_id", "ts", "event_type", "value")
      val batch = batchDf
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  /** Stage day `i`'s changeset (poi batch + snapshot batch, kind-tagged and
    * null-padded to one schema) as feed slice `b<i>` — shared by the
    * composed-parity and restart tests so the fixture cannot drift between
    * them. */
  private def writePipeDay(feedDir: String,
      dayChangesets: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)],
      i: Int): Unit = {
    val nullStr = lit(null).cast("string")
    val nullTs = lit(null).cast("timestamp")
    val (day, pois, snaps) = dayChangesets(i)
    val p = pois.select(lit(day).as("day"), lit("poi").as("kind"),
      col("google_place_id"), col("name"), col("rating"),
      col("reviews_count").cast("long").as("reviews_count"), col("updated_at"),
      nullStr.as("poi_id"), nullStr.as("source_id"),
      lit(null).cast("double").as("rating_value"),
      lit(null).cast("long").as("rc_snap"), nullTs.as("captured_at"))
    val s = snaps.select(lit(day).as("day"), lit("snap").as("kind"),
      nullStr.as("google_place_id"), nullStr.as("name"),
      lit(null).cast("double").as("rating"),
      lit(null).cast("long").as("reviews_count"), nullTs.as("updated_at"),
      col("poi_id"), col("source_id"), col("rating_value"),
      col("reviews_count").cast("long").as("rc_snap"), col("captured_at"))
    graft.sinks.FeedSlices.writeSlice(p.unionByName(s), feedDir, i)
  }

  test("volume: composed AvailableNow cycle == batch pipe_incremental_vol") {
    // VERDICT r11 item 5: the stages are individually stream-proven, but the
    // COMPOSED cycle (day batches -> merge -> snapshot suppression -> rescore
    // selection) needed an end-to-end streaming run. Shape: the two day
    // changesets land as one feed slice each; the AvailableNow corridor
    // (FeedSlices.drain, one slice per micro-batch IN ORDER) applies the
    // exact MergeSink kernels against AtomicTable-committed state — the
    // deployed daily-cadence topology (run_pipeline.py:549-581) as a stream.
    // Parity: the final selection over the streamed state must be
    // row-identical to the all-batch qIncrementalPipelineVol at sf0.01 volume.
    import graft.sinks.{AtomicTable, FeedSlices, SinkQueries}
    val sf = "/root/testdata/sf0.01"
    val tmp = java.nio.file.Files.createTempDirectory("graftpipe").toString
    val (feedDir, stateRoot, snapRoot) = (s"$tmp/feed", s"$tmp/state", s"$tmp/snaps")
    val (state0, snap0) = SinkQueries.pipeVolBase(spark, sf)
    AtomicTable.commit(state0, stateRoot)
    AtomicTable.commit(snap0, snapRoot)
    val dayChangesets = SinkQueries.pipeVolDays(spark, sf)
    dayChangesets.indices.foreach(writePipeDay(feedDir, dayChangesets, _))
    val daysSeen = scala.collection.mutable.ArrayBuffer[String]()
    FeedSlices.drain(spark, feedDir, s"$tmp/ckpt")(
      pipeDay(stateRoot, snapRoot, "pipe-cycle", daysSeen))
      .require(applied = 2, redelivered = 0)
    assert(daysSeen.toSeq == Seq(SinkQueries.Day1V, SinkQueries.Day2V),
      s"days processed out of order: $daysSeen")
    assertPipeParity(stateRoot, snapRoot, sf)
  }

  test("composed cycle restart: checkpoint resume + redelivered batch no-op") {
    // The deployed daily topology stops and restarts between days — the
    // stream must resume from its checkpoint without re-applying day 1, and
    // a micro-batch REDELIVERED after a crash-before-checkpoint must be a
    // no-op against the state tables (AtomicTable.commitBatch's manifest-id
    // skip). Shape: run the AvailableNow cycle with only day 1 present, prove
    // a forced redelivery of its batch id does not even evaluate its frame,
    // then drop day 2's slice and restart on the SAME checkpoint — the
    // resumed run processes day 2 alone and the final state is row-identical
    // to the all-batch dataflow.
    import graft.sinks.{AtomicTable, FeedSlices, SinkQueries}
    val sf = "/root/testdata/sf0.01"
    val tmp = java.nio.file.Files.createTempDirectory("graftrestart").toString
    val (feedDir, stateRoot, snapRoot) = (s"$tmp/feed", s"$tmp/state", s"$tmp/snaps")
    val (state0, snap0) = SinkQueries.pipeVolBase(spark, sf)
    AtomicTable.commit(state0, stateRoot)
    AtomicTable.commit(snap0, snapRoot)
    val dayChangesets = SinkQueries.pipeVolDays(spark, sf)
    val daysSeen = scala.collection.mutable.ArrayBuffer[String]()
    def runCycle(): FeedSlices.Drained = FeedSlices.drain(spark, feedDir, s"$tmp/ckpt")(
      pipeDay(stateRoot, snapRoot, "pipe-restart", daysSeen))

    // run 1: only day 1 exists
    writePipeDay(feedDir, dayChangesets, 0)
    runCycle().require(applied = 1, redelivered = 0)
    assert(daysSeen.toSeq == Seq(SinkQueries.Day1V), s"run 1 saw $daysSeen")
    assert(AtomicTable.lastBatchId(stateRoot).contains(0L))
    val stateVerAfterRun1 = AtomicTable.currentVersion(stateRoot)

    // crash-before-checkpoint redelivery: batch id 0 re-offered with a frame
    // that throws if evaluated — the manifest skip must fire without touching
    // the data, proving commitBatch is lazy AND idempotent
    val poisoned = spark.range(1)
      .select(raise_error(lit("redelivered batch was evaluated")).as("boom"))
    assert(!AtomicTable.commitBatch(poisoned, stateRoot, "pipe-restart", 0L))
    assert(AtomicTable.currentVersion(stateRoot) == stateVerAfterRun1)

    // run 2: day 2 lands, SAME checkpoint — resume must skip day 1's slice
    writePipeDay(feedDir, dayChangesets, 1)
    runCycle().require(applied = 1, redelivered = 0)
    assert(daysSeen.toSeq == Seq(SinkQueries.Day1V, SinkQueries.Day2V),
      s"resume re-processed or skipped a day: $daysSeen")
    assert(AtomicTable.lastBatchId(stateRoot).contains(1L))
    assertPipeParity(stateRoot, snapRoot, sf)
  }

  /** One day micro-batch of the composed cycle: the day's poi batch upserts
    * the state through commitBatchKeyed (foreachBatch is at-least-once; the
    * manifest-recorded batch id makes a redelivery a no-op, and the keyed
    * form rewrites only the files the day's keys intersect), and its
    * snapshot batch appends past suppression through commitBatch. Some(day)
    * when both tables applied, None when both skipped. */
  private def pipeDay(stateRoot: String, snapRoot: String, appId: String,
      daysSeen: scala.collection.mutable.Buffer[String])(
      b: org.apache.spark.sql.DataFrame, bid: Long): Option[String] = {
    import graft.sinks.{AtomicTable, KeyedMerge, MergeSink, SinkQueries}
    val days = b.select("day").distinct().collect().map(_.getString(0))
    assert(days.length == 1, s"micro-batch mixed days: ${days.toSeq}")
    val day = days.head
    daysSeen += day
    val nullTs = lit(null).cast("timestamp")
    val pois = b.filter(col("kind") === "poi")
      .select(col("google_place_id"), col("name"), col("rating"),
        col("reviews_count"), col("updated_at"))
      .withColumn("first_ingested_at", nullTs)
      .withColumn("last_scored_at", nullTs)
    val state = KeyedMerge.commitBatchKeyed(spark, stateRoot, appId, bid,
      Seq("google_place_id"), pois,
      (base: org.apache.spark.sql.DataFrame, inc: org.apache.spark.sql.DataFrame) =>
        MergeSink.upsert(base, inc, "google_place_id",
          SinkQueries.pipeVolUpdateCols, asOf = day)).isDefined
    val snapBatch = b.filter(col("kind") === "snap")
      .select(col("poi_id"), col("source_id"), col("rating_value"),
        col("rc_snap").as("reviews_count"), col("captured_at"))
    val snaps = AtomicTable.commitBatch({
      val snaps = AtomicTable.read(spark, snapRoot)
      snaps.unionByName(MergeSink.conditionalAppend(snaps, snapBatch))
    }, snapRoot, appId, bid)
    assert(state == snaps, s"batch $bid: state applied=$state, snapshots applied=$snaps")
    Option.when(state)(day)
  }

  /** The streamed state's rescoring selection == the all-batch dataflow
    * (reviews_count comes back long from parquet — align the batch side). */
  private def assertPipeParity(stateRoot: String, snapRoot: String, sf: String): Unit = {
    import graft.sinks.{AtomicTable, SinkQueries}
    val streamed = SinkQueries.rescoreSelection(
      AtomicTable.read(spark, stateRoot), AtomicTable.read(spark, snapRoot),
      SinkQueries.Day2V)
      .withColumn("reviews_count", col("reviews_count").cast("long"))
      .orderBy("rnk").collect()
    val batch = SinkQueries.qIncrementalPipelineVol(spark, sf)
      .withColumn("reviews_count", col("reviews_count").cast("long"))
      .orderBy("rnk").collect()
    assert(streamed.length == batch.length && streamed.length > 100,
      s"stream=${streamed.length} batch=${batch.length}")
    assert(streamed.sameElements(batch),
      s"first diff: ${streamed.zip(batch).find { case (a, b) => a != b }}")
  }

  test("FSM convergence invariants: fixpoint reached, children unique, res monotone") {
    // the hash oracle pins the exact converged table; these invariants pin
    // the LOOP properties a fixture edit could silently break — termination
    // (no pending rows left), aperture-7 child uniqueness (duplicate cell
    // ids would corrupt the state table keyed by h3), and the res 9..11 cap
    val out = FsmQueries.qFsmConverge(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(!out.exists(_.getString(2) == "pending"), "fixpoint not reached")
    val ids = out.map(_.getString(0))
    assert(ids.distinct.length == ids.length, "duplicate cell ids in converged table")
    val byRes = out.groupBy(_.getLong(1))
    assert(byRes.keySet.subsetOf(Set(9L, 10L, 11L)), s"res outside cap: ${byRes.keySet}")
    // every non-seed cell's parent must be a split cell one res up
    assert(byRes(10L).length % 7 == 0 && byRes.get(11L).forall(_.length % 7 == 0),
      "children must arrive in complete aperture-7 sets")
    assert(!out.exists(r => r.getLong(1) == 11L && r.getString(2) == "split"),
      "res-11 cells must park as saturated/scanned, never split")
  }

  test("streaming HLL registers == batch registers across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    // arrival order is deliberately the raw table order (NOT time-sorted):
    // register max is order-insensitive, so the stream needs no contract
    val evs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)].collect()
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sdf = input.toDF().toDF("user_id", "ts", "event_type")
    val q = graft.ops.Sketches.sketchProjection(sdf)
      .groupBy(col("event_type"), col("bucket")).agg(max(col("rho")).as("mj"))
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      Seq(evs.slice(0, 3000), evs.slice(3000, 3100), evs.slice(3100, evs.length))
        .foreach { b => input.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1)) -> r.getLong(2)
      val streamed = spark.sql("select event_type, bucket, mj from hll_regs")
        .collect().map(key).toMap
      val batch = graft.ops.Sketches.sketchRows(spark, dir)
        .groupBy(col("event_type"), col("bucket")).agg(max(col("rho")).as("mj"))
        .collect().map(key).toMap
      assert(batch.nonEmpty && streamed == batch,
        s"state-store registers diverge: ${streamed.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("streaming SCD2 closed intervals == batch build across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    // the CDC contract: per-key event-time order across batches — feed the
    // log globally ts-ordered, cut at arbitrary uneven points
    val evs = Tables.events(spark, dir)
      .selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_id", "event_type")
      .as[(Long, Long, Long, String)].collect().sortBy(e => (e._2, e._3))
    val input = MemoryStream[(Long, Long, Long, String)]
    val streamDf = input.toDF().toDF("user_id", "ts_us", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val q = graft.streaming.Streams.scd2Stream(streamDf)
      .writeStream.format("memory").queryName("scd2_out").outputMode("append").start()
    try {
      Seq(evs.slice(0, 1500), evs.slice(1500, 1700), evs.slice(1700, 6000),
        evs.slice(6000, evs.length)).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val streamed = spark.sql(
        "select user_id, version, state, valid_from_us, valid_to_us, n_events from scd2_out")
        .collect().map(key).toSet
      val batch = graft.ops.Temporal.snScd2Intervals(spark, dir)
        .filter(col("valid_to_us").isNotNull)
        .select("user_id", "version", "state", "valid_from_us", "valid_to_us", "n_events")
        .collect().map(key).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"stream/batch SCD2 divergence: ${streamed.size} vs ${batch.size} closed intervals")
    } finally q.stop()
  }

  test("incremental near-dup stream == batch gate (row parity across batching)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val q = Streams.incrementalNeardupStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      // feed the id-ordered corpus in 4 uneven micro-batches: batch
      // boundaries must not change the owners (band-min is order-insensitive)
      Seq(docs.slice(0, 100), docs.slice(100, 130), docs.slice(130, 400),
        docs.slice(400, docs.length)).foreach { b =>
        input.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.sql(
        "select doc_id, min(band_dup_of) as dup_of from neardup_out group by doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.ops.TextDedup.ddIncrementalNeardup(spark, dir)
        .filter(col("dup_of").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(batch.nonEmpty, "fixture must contain banded near-dups")
      assert(streamed == batch,
        s"stream/batch owner mismatch: ${streamed.size} vs ${batch.size} flagged docs")
    } finally q.stop()
  }
}
