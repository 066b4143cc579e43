package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval: a layer call, or a round that holds layer calls.
  * Times are wall-clock milliseconds so they compare with Spark's event
  * times. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, var endMs: Long = -1L)

/** Task metrics summed over the tasks of one stage. */
final class TaskAgg {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long = -1L)

/** The traced run's recorder. It times calls into the layers from outside:
  * every layer call opens a [[Span]] and sets a job group naming it; a
  * SparkListener attributes jobs and task metrics to spans, a
  * QueryExecutionListener adds the planning phases of each query, and a
  * StreamingQueryListener adds each micro-batch's phase durations. Spans
  * and events stay in memory until [[report]].
  *
  * Disabled (the untraced run), it registers nothing and records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val run: String) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageAgg = mutable.HashMap[Int, TaskAgg]()
  /** (planning start ms, analysis + optimization + planning ms) per query. */
  private val queries = mutable.ArrayBuffer[(Long, Double)]()
  /** (trigger start ms, phase durations in ms) of each micro-batch that
    * carried rows. */
  private val batches = mutable.ArrayBuffer[(Long, Map[String, Double])]()
  /** Counters and ratio parts recorded by the workloads. */
  private val counters = mutable.LinkedHashMap[String, Double]()
  private var storagePeakBytes = 0L
  private var codegenMs = 0.0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = JobRec(e.jobId, group, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.getOrElseUpdate(e.stageId, new TaskAgg)
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        val ms = ph.values.map(_.durationMs).sum.toDouble
        Tracer.this.synchronized { queries += ((start, ms)) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Tracer.this.synchronized {
        batches += ((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap))
      }
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  private var nextId = 0

  /** Open a span under the innermost open one. */
  def open(name: String): Span = {
    if (!enabled) return null
    val parent = stack.lastOption.map(_.id).getOrElse(-1)
    val s = Span(nextId, name, parent, run, System.currentTimeMillis())
    nextId += 1
    spans += s
    stack += s
    sc.setJobGroup(s"pb-${s.id}", name)
    s
  }

  def close(s: Span): Unit = if (enabled && s != null) {
    s.endMs = System.currentTimeMillis()
    stack -= s
    stack.lastOption match {
      case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
      case None => sc.clearJobGroup()
    }
    if (counting) {
      val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      storagePeakBytes = math.max(storagePeakBytes, used)
    }
  }

  def span[A](name: String)(body: => A): A = {
    val s = open(name)
    try body finally close(s)
  }

  /** Counters, compile time and storage only count once the timed phase
    * has begun. */
  @volatile var counting = false

  /** Add `v` to a named counter; ratios are kept as two counters. */
  def add(name: String, v: Double): Unit =
    if (enabled && counting) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  def counter(name: String): Double = synchronized { counters.getOrElse(name, 0.0) }

  /** Micro-batches that started inside a round, timed phases only. */
  def timedBatches(roundName: String): Seq[Map[String, Double]] = synchronized {
    val rounds = spans.filter(_.name == roundName)
    batches.collect { case (t, d) if rounds.exists(s => s.startMs <= t && t <= s.endMs) => d }.toSeq
  }

  /** Time spent compiling generated code while `body` runs: the compile
    * times the histogram gained (scaled up by the count if its reservoir
    * dropped some). */
  def codegen[A](body: => A): A = {
    if (!enabled || !counting) return body
    val (n0, v0) = PerfbenchBridge.codegenCompiles()
    try body finally {
      val (n1, v1) = PerfbenchBridge.codegenCompiles()
      val gained = v1.diff(v0)
      if (gained.nonEmpty) codegenMs += gained.sum.toDouble * math.max(1.0, (n1 - n0).toDouble / gained.size)
    }
  }

  /** The span a job belongs to: the one its job group names, else the
    * innermost span open when it started (streaming micro-batch jobs run
    * on the query's own thread under the query's job group). */
  private def spanOf(j: JobRec, byId: Map[Int, Span]): Option[Span] =
    Option(j.group).filter(_.startsWith("pb-"))
      .flatMap(g => byId.get(g.drop(3).toInt))
      .orElse(innermostAt(j.startMs))

  private def innermostAt(t: Long): Option[Span] = {
    val hits = spans.filter(s => s.startMs <= t && t <= s.endMs)
    if (hits.isEmpty) None else Some(hits.maxBy(s => (s.startMs, s.id)))
  }

  /** Per-layer metrics. Only spans inside a round span (named `roundName`)
    * count; a layer span is a direct child of a round. Additive metrics are
    * per round (`rounds` timed rounds), so runs of different lengths
    * compare; `layers` lists every layer the report must carry, with zeros
    * for layers a workload does not call. */
  def report(rounds: Int, layers: Seq[String], roundName: String): Map[String, Double] = {
    PerfbenchBridge.drainListenerBus(sc)
    synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      val roundSpans = spans.filter(_.name == roundName)
      val roundIds = roundSpans.map(_.id).toSet
      val timed = spans.filter(s => roundIds(s.id) || roundIds(s.parent))
      val timedIds = timed.map(_.id).toSet
      val jobSpan: Map[Int, Span] = jobs.values
        .flatMap(j => spanOf(j, byId).filter(s => timedIds(s.id)).map(j.id -> _)).toMap
      val timedJobs = jobs.values.filter(j => j.endMs >= 0 && jobSpan.contains(j.id)).toSeq
      def aggOf(js: Seq[JobRec]): TaskAgg = {
        val ids = js.map(_.id).toSet
        val out = new TaskAgg
        stageAgg.foreach { case (st, a) =>
          if (stageJob.get(st).exists(ids.contains)) {
            out.tasks += a.tasks; out.cpuNs += a.cpuNs
            out.gcMs += a.gcMs; out.shuffleWriteBytes += a.shuffleWriteBytes
            out.fetchWaitMs += a.fetchWaitMs; out.spillBytes += a.spillBytes
          }
        }
        out
      }
      val r = math.max(rounds, 1).toDouble
      val mb = 1024.0 * 1024.0
      val out = mutable.LinkedHashMap[String, Double]()

      // the shared runtime, over the jobs of the timed rounds
      val all = aggOf(timedJobs)
      val jobIv = timedJobs.map(j => (j.startMs, j.endMs))
      val timedQueries = queries.filter { case (t, _) =>
        roundSpans.exists(s => s.startMs <= t && t <= s.endMs)
      }
      out("Sessions.plan_ms") = timedQueries.map(_._2).sum / r
      out("Sessions.codegen_ms") = codegenMs / r
      out("Sessions.jobs") = timedJobs.size / r
      out("Sessions.tasks") = all.tasks / r
      out("Sessions.driver_gap_ms") =
        roundSpans.map(s => Stats.selfTime(s.startMs, s.endMs, jobIv).toDouble).sum / r
      out("Sessions.cpu_ms") = all.cpuNs / 1e6 / r
      out("Sessions.gc_ms") = all.gcMs / r
      out("Sessions.shuffle_mb") = all.shuffleWriteBytes / mb / r
      out("Sessions.fetch_wait_ms") = all.fetchWaitMs / r
      out("Sessions.spill_mb") = all.spillBytes / mb / r
      out("Sessions.storage_peak_mb") = storagePeakBytes / mb

      // each layer, over its own call spans
      for (layer <- layers) {
        val ss = timed.filter(s => s.name == layer && roundIds(s.parent))
        val ids = ss.map(_.id).toSet
        val js = timedJobs.filter(j => ids(jobSpan(j.id).id))
        val iv = js.map(j => (j.startMs, j.endMs))
        val a = aggOf(js)
        out(s"$layer.wall_ms") = ss.map(s => (s.endMs - s.startMs).toDouble).sum / r
        out(s"$layer.self_ms") = ss.map(s => Stats.selfTime(s.startMs, s.endMs, iv).toDouble).sum / r
        out(s"$layer.cpu_ms") = a.cpuNs / 1e6 / r
        out(s"$layer.jobs") = js.size / r
        out(s"$layer.shuffle_mb") = a.shuffleWriteBytes / mb / r
        out(s"$layer.spill_mb") = a.spillBytes / mb / r
      }
      out.toMap
    }
  }
}
