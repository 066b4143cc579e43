package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** THE MICRO-BATCH CORRIDOR: the file feed every AvailableNow corridor
  * reads, its one-job slice writer, and the one stream driver over it.
  *
  * Every AvailableNow corridor query stages its change feed as N files,
  * `<feedDir>/b0..b{N-1}`, one per micro-batch, mtime-ordered so
  * `maxFilesPerTrigger=1` delivers them in sequence. The former shape ran
  * one `coalesce(1)` write PER SLICE — N full evaluations of the feed plan
  * and N job submissions (each paying the ~50 ms driver planning/scheduling
  * floor these fixture-sized jobs are dominated by). This writes ALL slices
  * in one `partitionBy` job and renames the partition directories into the
  * `b<i>` layout the streams read — byte-identical slice contents (the
  * slice column never reaches the data files: `partitionBy` lifts it into
  * the directory name), same per-file mtimes, one job.
  *
  * A slice value absent from the data would produce no partition directory
  * (where the old per-slice write emitted one empty parquet file), so the
  * rare empty slice falls back to exactly that old write, [[writeSlice]] —
  * the corridor batch counts cannot drift. A feed slice that must land
  * later (after a simulated crash) is written with it alone.
  *
  * [[drain]] is the one stream over that layout, and [[Drained]] the one
  * exactly-once check. The contract it carries is the Structured Streaming
  * one: a replayable source (the feed files plus the checkpoint) and an
  * idempotent sink (each kernel commits under an (appId, batchId) stamp and
  * skips a batch its table already absorbed). [[dropCommit]] opens the
  * crash window `foreachBatch` documents — the sink committed, the engine
  * never recorded it — so the next drain must redeliver that batch. */
private[graft] object FeedSlices {

  /** The slice column callers attach; consumed by the partitioned write. */
  val SliceCol = "_slice"

  private def mtime(i: Int): FileTime =
    FileTime.fromMillis(1700000000000L + i * 60000L)

  private def stampDir(dir: Path, i: Int): Unit = {
    val it = Files.list(dir)
    try it.forEach(p => Files.setLastModifiedTime(p, mtime(i)))
    finally it.close()
  }

  /** Write `df` — which must carry an int [[SliceCol]] in [0, n) — as
    * `<feedDir>/b0..b{n-1}`, one parquet file per non-empty slice,
    * delivery-ordered mtimes, in ONE Spark job. */
  def writeSlices(df: DataFrame, feedDir: String, n: Int): Unit = {
    val tmp = Paths.get(feedDir, ".slices_tmp")
    AtomicTable.deleteRecursively(tmp)
    df.repartition(n, col(SliceCol))
      .write.mode("overwrite").partitionBy(SliceCol).parquet(tmp.toString)
    (0 until n).foreach { i =>
      val src = tmp.resolve(s"$SliceCol=$i")
      val dst = Paths.get(feedDir, s"b$i")
      AtomicTable.deleteRecursively(dst)
      if (Files.exists(src)) {
        Files.move(src, dst)
        stampDir(dst, i)
      } else writeSlice(df.filter(col(SliceCol) === i).drop(SliceCol), feedDir, i)
    }
    AtomicTable.deleteRecursively(tmp)
  }

  /** Write one slice `df` as `<feedDir>/b<i>`: one parquet file (an empty
    * one when `df` is empty) stamped with slice i's delivery mtime. */
  def writeSlice(df: DataFrame, feedDir: String, i: Int): Unit = {
    val dst = Paths.get(feedDir, s"b$i")
    df.coalesce(1).write.mode("overwrite").parquet(dst.toString)
    stampDir(dst, i)
  }

  /** What a [[drain]] did: micro-batches whose kernel returned Some
    * (applied) and None (skipped as already absorbed). */
  final case class Drained(applied: Int, redelivered: Int) {
    def +(o: Drained): Drained = Drained(applied + o.applied, redelivered + o.redelivered)

    /** Throw unless the counts are exactly these. */
    def require(applied: Int, redelivered: Int): Unit =
      if (this != Drained(applied, redelivered))
        throw new IllegalStateException(
          s"exactly-once violated: applied=${this.applied} (want $applied), " +
            s"redelivered-skips=${this.redelivered} (want $redelivered)")
  }

  /** Stream `<feedDir>/b*` to the end, one file per micro-batch in mtime
    * order (`Trigger.AvailableNow`, checkpoint `ckpt`), through `kernel`.
    * The schema comes from `b0`'s footer, so starting runs no inference
    * job. A kernel failure surfaces as the query's exception; a stream that
    * has not finished in 180 s is stopped before this throws — a live query
    * would otherwise keep writing under a directory the next run deletes. */
  def drain(spark: SparkSession, feedDir: String, ckpt: String)(
      kernel: (DataFrame, Long) => Option[_]): Drained = {
    val schema = Footers.readDir(spark, Paths.get(feedDir, "b0")).schema
    val (applied, redelivered) = (new AtomicInteger, new AtomicInteger)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$feedDir/b*")
      .writeStream
      .foreachBatch { (b: DataFrame, bid: Long) =>
        (if (kernel(b, bid).isDefined) applied else redelivered).incrementAndGet()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    if (!q.awaitTermination(180000)) {
      q.stop()
      throw new IllegalStateException(s"AvailableNow stream over $feedDir timed out")
    }
    Drained(applied.get, redelivered.get)
  }

  /** Forget that the stream at `ckpt` committed batch `n`: delete
    * `commits/n` and the `.n.crc` the local checksum file system shadows it
    * with (a stale CRC would fail the re-commit's rename). */
  def dropCommit(ckpt: String, n: Long): Unit = {
    Files.delete(Paths.get(ckpt, "commits", n.toString))
    Files.deleteIfExists(Paths.get(ckpt, "commits", s".$n.crc"))
  }
}
