package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ONE-JOB sliced micro-batch feed writer for the streaming-corridor
  * fixtures (r22; opt guide §1.2 "remove passes" + the per-job driver
  * overhead the corridor profiles showed dominating their wall time).
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
  * later (after a simulated crash) is written with it alone. */
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
}
