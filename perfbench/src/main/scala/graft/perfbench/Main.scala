package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Everything a workload touches during a run: the session, the seed, its
  * scratch directory, the tracer, and the operation ledger (attempts,
  * failures, latency samples, correctness violations, digests). */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String, val tr: Tracer) {
  var attempted = 0L
  var failed = 0L
  var firstError: String = null
  /** Latency samples in ms per operation kind, successful operations only. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val violations = mutable.ArrayBuffer[String]()
  val digests = mutable.LinkedHashMap[String, String]()

  def path(rel: String): String = s"$work/$rel"

  /** One attempted operation on `layer`: traced as a span of that name,
    * timed, and counted; an exception is a failure, never a sample. */
  def op[A](layer: String, kind: String = null)(body: => A): Option[A] = {
    attempted += 1
    val s = tr.open(layer)
    val t0 = System.nanoTime()
    try {
      val r = tr.codegen(body)
      samples.getOrElseUpdate(Option(kind).getOrElse(layer), mutable.ArrayBuffer()) +=
        (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (firstError == null) firstError = s"$layer: ${e.getClass.getName}: ${e.getMessage}".take(500)
        None
    } finally tr.close(s)
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) violations += msg

  def sample(kind: String): Seq[Double] = samples.getOrElse(kind, mutable.ArrayBuffer()).toSeq
}

/** A benchmark workload: set-up (inputs and a warm-up), then timed rounds
  * until the run's time is up, with correctness checks between rounds. */
trait Workload {
  /** Rounds every run makes, so digests and tail sample counts are fixed. */
  def minRounds: Int
  /** The sample kind `op_p50_ms` reports: the workload's unit operation. */
  def opKind: String
  /** Generate inputs under `c.work/<rep>`; returns the input root. */
  def generate(c: Ctx, rep: Int): String
  def warmUp(c: Ctx, in: String): Unit
  def round(c: Ctx, in: String, i: Int): Unit
  /** Untimed, after each round: checks, and digests when due. */
  def afterRound(c: Ctx, in: String, i: Int): Unit
  /** Workload-specific end-to-end figures (name -> (value, unit)). */
  def named(c: Ctx, roundS: Seq[Double]): Seq[(String, Double, String)]
  /** Ratio metrics measured in the traced run. */
  def ratios(c: Ctx): Map[String, Double] = Map.empty
  def close(c: Ctx): Unit = ()
}

/** The largest heap in use right after a full collection, forced after
  * each round: the live set a round leaves behind. After-GC usage of the
  * collections inside a round depends on when they happen to run, so those
  * are left out. */
object HeapPeak {
  private var peak = 0L
  def reset(): Unit = peak = 0L
  def sample(): Unit = {
    // a second collection after a pause also reclaims what Spark's
    // ContextCleaner released in reaction to the first
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "metro" -> (() => new Metro), "upkeep" -> (() => new Upkeep), "corpus" -> (() => new Corpus))

  /** Input generations per run; `setup_s` counts their median, so the
    * first copy's cold start does not decide it. */
  val SetupReps = 3

  /** Every layer the traced run reports on. */
  val AllLayers: Seq[String] = CityStages.Layers ++
    Seq("IngestLoop", "StatsRead", "TargetedDelete", "TextAnalysis", "TextDedup", "CorpusOps")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val wl = Workloads.getOrElse(name, throw new IllegalArgumentException(s"unknown workload $name"))()

    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(work, "local"))
    val spark = Sessions.configure(SparkSession.builder().master("local[4]")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "localhost"), "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - procStart) / 1000.0

    val c = new Ctx(spark, seed, work, new Tracer(spark, trace, s"$name-$seed"))
    // set-up: inputs generated `SetupReps` times (the median counts), then
    // one warm-up on the last copy
    val genS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.generate(c, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val in = s"$work/in${SetupReps - 1}"
    (0 until SetupReps - 1).foreach(rep => graft.sinks.AtomicTable.deleteRecursively(Paths.get(s"$work/in$rep")))
    val tw = System.nanoTime()
    wl.warmUp(c, in)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(genS) + warmS

    // the timed phase
    c.samples.clear()
    c.tr.counting = true
    System.gc()
    HeapPeak.reset()
    val roundS = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var i = 0
    while (i < wl.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = c.tr.open("round")
      val r0 = System.nanoTime()
      wl.round(c, in, i)
      roundS += (System.nanoTime() - r0) / 1e9
      c.samples.getOrElseUpdate("round", mutable.ArrayBuffer()) += roundS.last * 1000
      c.tr.close(s)
      HeapPeak.sample()
      try wl.afterRound(c, in, i)
      catch { case NonFatal(e) => c.violations += s"checks after round $i: $e".take(500) }
      i += 1
    }
    val peakMb = HeapPeak.peakMb
    val layerMetrics = if (trace) c.tr.report(roundS.size, AllLayers, "round") ++ wl.ratios(c) else Map.empty
    wl.close(c)
    spark.stop()

    val ops = c.sample(wl.opKind)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", Stats.median(roundS.toSeq), "s"),
      ("op_p50_ms", if (ops.isEmpty) 0.0 else Stats.median(ops), "ms"),
      ("peak_mem_mb", peakMb, "MB"))
    val named = wl.named(c, roundS.toSeq)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace, "input" -> in,
      "attempted" -> c.attempted, "failed" -> c.failed,
      "first_error" -> c.firstError,
      "violations" -> c.violations.take(20).toSeq,
      "digest" -> Digest.combine(c.digests),
      "digest_parts" -> c.digests.toMap,
      "rounds" -> roundS.size, "round_s" -> roundS.toSeq,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS),
      "op_kind" -> wl.opKind, "op_samples" -> ops.size,
      "metrics" -> e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "named" -> named.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layerMetrics)
    Files.write(Paths.get(a("result")), Json.render(out).getBytes("UTF-8"))
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
}
