package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sinks.{AtomicTable, MergeSink}
import graft.sources.HttpSource

/** The reference's INGESTION LOOP as one Spark job — the composition proof
  * that the engine's pieces reassemble run_pipeline's daily ingest
  * (google_places_ingester.py): due scan requests → daily token-bucket
  * admission (:44-74) → rate-limited fetch with the backoff ladder
  * (cse_client.py:74-121) → response parse → transactional poi upsert
  * (:445-514). Each piece is individually oracled/spec'd elsewhere
  * ([[QuotaBucket]], [[HttpSource]], [[graft.sinks.MergeSink]],
  * [[AtomicTable]]); this wires them into the `foreachBatch` shape a real
  * deployment runs, with exactly-once commits via
  * [[AtomicTable.commitBatch]] (a redelivered micro-batch is
  * manifest-skipped for BOTH the poi table and the quota ledger, so a crash
  * between the two commits converges without double-spend or double-apply).
  *
  * One micro-batch evaluates each step once, on first use, so a table that
  * already absorbed the batch never forces it (a redelivery both tables skip
  * runs no job and sends no request):
  *
  *  1. the ledger (|api_types| rows) is read and collected — one job;
  *  2. admission is one window over the micro-batch, with the ledger's
  *     rows as literals, collected — a shuffle-map job and a result job.
  *     The rows reach the driver: the admitted set is bounded by the daily
  *     quota, and the new ledger is derived from these rows
  *     ([[nextLedger]]) instead of re-running the window;
  *  3. the admitted URLs are fetched and parsed, and the changeset is
  *     collected once — one job, each admitted request sent once (one
  *     transport + rate limiter per partition). The stats-pruned merge's
  *     key probe and its kernel both read this local changeset, so they see
  *     the same rows and the probe runs no job;
  *  4. the poi upsert is the stats-pruned keyed merge: the touched files
  *     (read with their footer schema, no inference job) full-outer-joined
  *     with the changeset — a shuffled join, one job per exchange plus the
  *     write;
  *  5. the new ledger is written from the driver — one job.
  */
object IngestLoop {

  case class FetchRequest(request_id: Long, api_type: String, ts_us: Long, url: String)

  val DayUs: Long = QuotaBucket.DayUs

  /** One api_type's bucket: requests admitted on UTC day `day_idx`. */
  final case class LedgerRow(api_type: String, day_idx: Long, used: Long)

  /** One request's admission: the ledger count carried into its day
    * (`prior`) and whether the bucket admitted it. */
  final case class AdmissionRow(api_type: String, day_idx: Long, prior: Long,
    admitted: Boolean, url: String)

  /** Quota-gate a time-ordered request batch against the persisted ledger.
    * Ledger rows are (api_type, day_idx, used); a request's day past the
    * ledger day refills the bucket (UTC-midnight reset), same-day requests
    * continue the count. Returns the batch annotated with `day_idx`, `seq`,
    * `prior` (the ledger count carried into its day) and `admitted`. */
  def admit(batch: DataFrame, ledger: Seq[LedgerRow], limit: Int): DataFrame = {
    val w = Window.partitionBy(col("api_type"), col("day_idx"))
      .orderBy(col("ts_us").asc, col("request_id").asc)
    // the ledger holds one row per api_type: its fields enter the plan as
    // per-api_type literals (NULL for an api_type it has never seen)
    def ledgerField(f: LedgerRow => Long): Column =
      ledger.foldLeft(lit(null).cast("long")) { (acc, r) =>
        when(col("api_type") === r.api_type, lit(f(r))).otherwise(acc)
      }
    val (ledDay, ledUsed) = (ledgerField(_.day_idx), ledgerField(_.used))
    batch
      .withColumn("day_idx", expr(s"ts_us div $DayUs"))
      .withColumn("seq", row_number().over(w))
      // the ledger count carries over only within the same UTC day
      .withColumn("prior",
        when(ledDay === col("day_idx"), ledUsed).otherwise(0L))
      // a request timestamped BEFORE the ledger's day is a late arrival for a
      // bucket that already closed — never admit it, and ([[nextLedger]])
      // never let it regress the ledger. The stream form
      // (QuotaBucket.admissionStream) guards `d > day` the same way.
      .withColumn("admitted",
        (ledDay.isNull || col("day_idx") >= ledDay) &&
          col("prior") + col("seq") <= limit)
  }

  /** The ledger after a batch, from its admission rows. Each touched
    * (api_type, day) counts `prior` plus its admitted requests. The
    * committed ledger REPLACES the table, so api_types idle in this batch
    * carry their rows forward; and per api_type the GREATER day wins (a
    * batch holding only stale-day stragglers must not roll the ledger back
    * and refill an exhausted bucket — daily-quota double-spend). Same day in
    * both → the greater count wins (a touched day's count is prior + newly
    * admitted ≥ the ledger's). */
  def nextLedger(ledger: Seq[LedgerRow],
      admission: Seq[AdmissionRow]): Seq[LedgerRow] = {
    val touched = admission.groupBy(a => (a.api_type, a.day_idx)).map {
      case ((api, day), rs) => LedgerRow(api, day, rs.map(_.prior).max + rs.count(_.admitted))
    }
    (ledger ++ touched).groupBy(_.api_type).values
      .map(_.maxBy(r => (r.day_idx, r.used))).toSeq.sortBy(_.api_type)
  }

  /** Response schema of the S1-shaped fixture bodies. */
  val ResponseSchema = "google_place_id STRING, name STRING, rating DOUBLE"

  /** One micro-batch of the loop — also drivable as plain batch (the spec
    * does both). Commits the poi table and the quota ledger under the SAME
    * (appId, batchId), so redelivery skips both atomically-enough: whichever
    * table already absorbed the batch ignores the replay. */
  def processBatch(spark: SparkSession, batch: DataFrame, poiRoot: String,
      ledgerRoot: String, transportFactory: () => HttpSource.Transport,
      limit: Int, asOf: String, appId: String, batchId: Long,
      sleeper: Long => Unit = Thread.sleep(_: Long)): Unit = {
    import spark.implicits._
    lazy val ledger: Seq[LedgerRow] =
      if (AtomicTable.currentVersion(ledgerRoot).isEmpty) Nil
      else AtomicTable.read(spark, ledgerRoot).as[LedgerRow].collect().toSeq
    lazy val admission: Seq[AdmissionRow] =
      admit(batch, ledger, limit)
        .select("api_type", "day_idx", "prior", "admitted", "url")
        .as[AdmissionRow].collect().toSeq
    lazy val changes: DataFrame = {
      val fetched = HttpSource.fetch(
        admission.filter(_.admitted).map(_.url).toDF("url"), "url",
        transportFactory, sleeper = sleeper)
      val parsed = fetched
        .filter(col("status") === 200)
        .select(from_json(col("body"), StructType.fromDDL(ResponseSchema)).as("r"))
        .select(col("r.*"))
        .withColumn("first_ingested_at", lit(null).cast("timestamp"))
      spark.createDataFrame(parsed.collectAsList(), parsed.schema)
    }

    // the poi upsert rides the STATS-PRUNED merge once a base version exists
    // (r18): each micro-batch rewrites only the files its keys intersect
    // (string key — UTF-8 byte-order stats) and the self-maintained sidecar
    // keeps the table on the zero-footer-read maintenance path; the ledger
    // is |api_types|-row, not worth a sidecar. Both commits ride the
    // MULTI-TABLE corridor ([[graft.sinks.MultiCommit]], r20): one
    // (appId, batchId) stamp across the ordered pair — poi first, ledger
    // last so admission can never over-spend — and a crash between them
    // replays into skip+apply, converging exactly-once per table.
    def upsertKernel(base: org.apache.spark.sql.DataFrame,
        inc: org.apache.spark.sql.DataFrame) =
      MergeSink.upsert(base, inc, "google_place_id",
        updateCols = Seq("name", "rating"), asOf = asOf)
    graft.sinks.MultiCommit.commitBatchAll(spark, Seq(
      graft.sinks.MultiCommit.Keyed(poiRoot, "google_place_id",
        () => changes, (b, i) => upsertKernel(b, i), Seq("google_place_id")),
      graft.sinks.MultiCommit.Replace(ledgerRoot,
        () => nextLedger(ledger, admission).toDF().coalesce(1))),
      appId, batchId)
    ()
  }

  /** The streaming entry: requests in, the loop per micro-batch. */
  def run(spark: SparkSession, requests: Dataset[FetchRequest], poiRoot: String,
      ledgerRoot: String, transportFactory: () => HttpSource.Transport,
      limit: Int, asOf: String, appId: String, checkpoint: String,
      sleeper: Long => Unit = Thread.sleep(_: Long)) =
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[FetchRequest], id: Long) =>
        processBatch(spark, b.toDF(), poiRoot, ledgerRoot, transportFactory,
          limit, asOf, appId, id, sleeper)
      }
      .start()
}
