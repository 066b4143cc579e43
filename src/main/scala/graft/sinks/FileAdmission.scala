package graft.sinks

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.TargetedDelete.{KeySet, LongKeys, StringKeys}

/** FILE ADMISSION — the one decision behind every keyed read, delete and
  * merge on the atomic table: which live files can hold these keys. One key
  * column and several take the same ladder; a single key is a 1-tuple.
  *
  *  1. **Stats hull.** Each key column's [[KeySet]] is binary-searched
  *     against the file's [min,max] ([[TargetedDelete.rowIntersects]]); with
  *     several columns the collected tuples are then checked exactly (some
  *     tuple inside every component's hull — the conjunctive veto). A file
  *     whose row is missing or of a foreign kind admits every key of that
  *     column.
  *  2. **Bloom manifest** ([[BloomManifest]]): one distributed probe job,
  *     run only when the hull left a covered candidate; a covered,
  *     non-admitted file is provably key-free.
  *  3. **TSV bloom** ([[KeyBloom]]): each remaining file's `_KEYBLOOM` row
  *     probes the slice of keys its hull admits.
  *
  * Blooms probe only enumerated keys (a range or prefix holds unboundedly
  * many), under the column [[CompositeKey.colName]] with the bytes of
  * [[CompositeKey.keyBytes]]. Every step is conservative: a false positive
  * costs a file, never a row. */
private[sinks] object FileAdmission {

  /** An enumerated key set over the key columns: distinct non-null tuples
    * (1-tuples for one column) sorted on the first component, each
    * component in the canonical family of `kinds` ("long" | "string"). */
  final case class Tuples(kinds: Seq[String], rows: IndexedSeq[Seq[Any]])

  /** The admitted file names, how many files the hull admitted that a
    * bloom then cleared, and how many live files the manifest covers for
    * this key. */
  final case class Admitted(touched: Set[String], bloomSkipped: Int,
      manifestFiles: Int)

  private val NoStats = KeyStats.StatRow("none", "", "")

  private def order(kind: String): Ordering[Any] =
    if (kind == "long") Ordering.Long.on[Any](_.asInstanceOf[Number].longValue)
    else KeyStats.Utf8Order.on[Any](_.asInstanceOf[String])

  private def decode(kind: String, v: String): Any = if (kind == "long") v.toLong else v

  private def tuples(kinds: Seq[String], rows: Seq[Seq[Any]]): Tuples =
    Tuples(kinds, rows.distinct.sortBy(_.head)(order(kinds.head)).toIndexedSeq)

  /** The keys of one enumerated key set as 1-tuples; None for several
    * predicates, a range or a prefix. */
  def enumerated(sets: Seq[KeySet]): Option[Tuples] = sets match {
    case Seq(LongKeys(s)) => Some(Tuples(Seq("long"), s.toIndexedSeq.map(Seq(_))))
    case Seq(StringKeys(s)) => Some(Tuples(Seq("string"), s.toIndexedSeq.map(Seq(_))))
    case _ => None
  }

  /** Files a bloom backend covers for `keys` — the read opens no footer
    * for one of them when the sidecar is silent: the bloom decides it. */
  def bloomCovered(dir: Path, blooms: Map[(String, String), KeyBloom.BloomRow],
      keyCols: Seq[String], keys: Tuples): Set[String] = {
    val (cname, kind) = CompositeKey.bloomId(keyCols, keys.kinds)
    blooms.collect { case ((f, c), b) if c == cname && b.kind == kind => f }.toSet ++
      BloomManifest.coveredFiles(dir, cname, kind)
  }

  /** First index whose first component is >= `v` (`inclusive`) or > `v`. */
  private def bound(ks: IndexedSeq[Seq[Any]], v: Any, ord: Ordering[Any],
      inclusive: Boolean): Int = {
    var lo = 0; var hi = ks.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      val c = ord.compare(ks(m).head, v)
      if (c < 0 || (c == 0 && !inclusive)) lo = m + 1 else hi = m
    }
    lo
  }

  /** Which of `files` can hold a key. `sets` holds one [[KeySet]] per key
    * column (the hull test); `keys` the enumerated tuples when there are
    * any ([[enumerated]] for one column) — they drive the exact tuple
    * check and both bloom backends. `rows` may lack a file: it then admits
    * every key (the read leaves bloom-covered files' footers unopened). */
  def admit(spark: SparkSession, dir: Path, files: Seq[Path],
      rows: Map[(String, String), KeyStats.StatRow], keyCols: Seq[String],
      sets: Seq[KeySet], keys: Option[Tuples],
      blooms: Map[(String, String), KeyBloom.BloomRow]): Admitted = {
    def row(n: String, c: String) = rows.getOrElse((n, c), NoStats)
    // the indexes of the keys a file's hull admits: the first component's
    // bounds cut the sorted tuples, the other components filter
    // (parquet-truncated string bounds only widen the slice)
    def slice(n: String, t: Tuples): Iterator[Int] = {
      val ords = t.kinds.map(order)
      def within(i: Int, v: Any): Boolean = {
        val r = row(n, keyCols(i))
        r.kind != t.kinds(i) || (ords(i).lteq(decode(r.kind, r.min), v) &&
          ords(i).lteq(v, decode(r.kind, r.max)))
      }
      val r0 = row(n, keyCols.head)
      val (from, until) =
        if (r0.kind != t.kinds.head) (0, t.rows.length)
        else (bound(t.rows, decode(r0.kind, r0.min), ords.head, inclusive = true),
          bound(t.rows, decode(r0.kind, r0.max), ords.head, inclusive = false))
      (from until until).iterator
        .filter(j => keyCols.indices.tail.forall(i => within(i, t.rows(j)(i))))
    }
    val names = files.map(_.getFileName.toString)
    val hull = names.filter { n =>
      keyCols.zip(sets).forall { case (c, ks) => TargetedDelete.rowIntersects(row(n, c), ks) } &&
        (keyCols.size == 1 || keys.forall(slice(n, _).hasNext))
    }
    keys match {
      case None => Admitted(hull.toSet, 0, 0)
      case Some(t) =>
        val (cname, kind) = CompositeKey.bloomId(keyCols, t.kinds)
        val covered = BloomManifest.coveredFiles(dir, cname, kind)
        // each tuple's bytes, once for the manifest probe and every TSV
        // bloom — and only if one of them covers a hull file
        lazy val bytes = t.rows.map(CompositeKey.keyBytes(t.kinds, _))
        val manifest =
          if (!hull.exists(covered)) None
          else BloomManifest.probe(spark, dir, cname, kind, bytes)
        val touched = hull.filter { n =>
          manifest.forall(p => !p.covered(n) || p.admitted(n)) &&
            blooms.get((n, cname)).filter(_.kind == kind).forall(b =>
              slice(n, t).exists(j => b.mightContain(bytes(j))))
        }
        Admitted(touched.toSet, hull.size - touched.size, names.count(covered))
    }
  }

  /** A changeset's file assignment: [[Admitted]]'s counts, the STABLE
    * changeset downstream evaluation must consume, and the collected key
    * tuples in the driver regime (None in the distributed one).
    *
    * The changeset is evaluated once more by the merge kernel or the pruned
    * join, and a non-stable source (a directory a writer is appending to)
    * evaluated differently could surface a key the assignment never saw — a
    * linked file would keep the old row while the kernel inserts it (Delta
    * materializes the MERGE source for exactly this reason; the same rule
    * keeps a foreachBatch replay exactly-once). The DRIVER regime's probe
    * provably read every row, so a key-membership filter suffices — unseen
    * keys are deferred, NULL-key rows pass (they match nothing) — at zero
    * extra jobs; the DISTRIBUTED regime checkpoints the distinct keys and
    * semi-joins the changeset against them. */
  final case class Assignment(touched: Set[String], bloomSkipped: Int,
      manifestFiles: Int, stableChanges: DataFrame, keys: Option[Tuples])

  /** One key column's boundary index over the files whose stats speak for
    * it: sorted by min, the prefix max bounds the overlap walk — O(log F)
    * per key on a clustered layout. */
  private final case class Bounds(kind: String, mins: Array[Any], maxs: Array[Any],
      names: Array[String], prefixMax: Array[Any]) {
    def lookup(key: Any): Seq[String] = {
      val ord = order(kind)
      var lo = 0; var hi = mins.length
      while (lo < hi) { // upper_bound on min
        val m = (lo + hi) >>> 1
        if (ord.lteq(mins(m), key)) lo = m + 1 else hi = m
      }
      var j = lo - 1
      val out = mutable.ArrayBuffer.empty[String]
      while (j >= 0 && ord.gteq(prefixMax(j), key)) {
        if (ord.gteq(maxs(j), key)) out += names(j)
        j -= 1
      }
      out.toSeq
    }
  }

  private def bounds(kind: String, stats: Seq[(String, KeyStats.StatRow)]): Bounds = {
    val ord = order(kind)
    val sorted = stats.map { case (n, r) => (decode(kind, r.min), decode(kind, r.max), n) }
      .sortBy(_._1)(ord)
    val maxs = sorted.map(_._2).toArray
    Bounds(kind, sorted.map(_._1).toArray, maxs, sorted.map(_._3).toArray,
      if (maxs.isEmpty) maxs else maxs.tail.scanLeft(maxs.head)((a, b) => ord.max(a, b)))
  }

  /** Assign `changes` (a frame carrying `keyCols`) to the files that can
    * hold one of its keys. A key type with no stats family touches every
    * file. Up to `driverKeyThreshold` change rows the keys are collected
    * and [[admit]]ted on the driver; past it a Spark job looks every
    * distinct key up in one boundary index per key column (a file must be
    * hit on each column its stats speak for, and survive its TSV bloom),
    * and the bulk manifest probe clears the rest — only file names reach
    * the driver. */
  def assign(spark: SparkSession, dir: Path, files: Seq[Path],
      rows: Map[(String, String), KeyStats.StatRow], keyCols: Seq[String],
      changes: DataFrame, driverKeyThreshold: Int,
      blooms: Map[(String, String), KeyBloom.BloomRow]): Assignment = {
    val names = files.map(_.getFileName.toString)
    val kinds = CompositeKey.kindsOf(changes.schema, keyCols).getOrElse(
      // no stats family: nothing prunes, any evaluation is consistent
      return Assignment(names.toSet, 0, 0, changes, None))
    val anyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val keyed = changes.select(CompositeKey.keySelect(kinds, keyCols): _*).na.drop("any")
    // regime probe: one SHUFFLE-FREE job (CollectLimit, no distinct — a
    // micro-batch's rows come back raw and dedup on the driver; a distinct
    // here would cost an exchange per micro-batch). The threshold therefore
    // counts change ROWS, the conservative upper bound on distinct keys.
    val probe = keyed.limit(driverKeyThreshold + 1).collect()
    if (probe.length <= driverKeyThreshold) {
      val t = tuples(kinds, probe.toSeq.map(r => keyCols.indices.map(r.get)))
      val sets = kinds.indices.map { i =>
        if (kinds(i) == "long") KeySet.longs(t.rows.map(_(i).asInstanceOf[Number].longValue))
        else KeySet.strings(t.rows.map(_(i).asInstanceOf[String]))
      }
      val a = admit(spark, dir, files, rows, keyCols, sets, Some(t), blooms)
      // consistency filter, tiered like every other key filter: a literal
      // predicate while the set is small, a broadcast LEFT SEMI beyond
      // IsinKeyThreshold (a 10^5-literal predicate would cost Catalyst per
      // micro-batch)
      val stable =
        if (t.rows.size <= TargetedDelete.IsinKeyThreshold)
          changes.filter(anyNull || CompositeKey.matchPredicate(keyCols, t.rows))
        else changes.filter(anyNull).unionAll(changes.join(
          broadcast(CompositeKey.tupleFrame(spark, keyCols, kinds, t.rows)),
          keyCols, "left_semi"))
      Assignment(a.touched, a.bloomSkipped, a.manifestFiles, stable, Some(t))
    } else {
      // distributed regime: materialize the DISTINCT KEY SET only (eager
      // localCheckpoint — one evaluation, lineage severed, auto-GC'd), not
      // the full changeset; it also dedups the per-key lookup work
      val distinctKeys = keyed.distinct().localCheckpoint(true)
      val stable = changes.filter(anyNull)
        .unionAll(changes.join(distinctKeys, keyCols, "left_semi"))
      val (cname, kind) = CompositeKey.bloomId(keyCols, kinds)
      val speaks = keyCols.zip(kinds).map { case (c, k) =>
        names.flatMap(n => rows.get((n, c)).filter(_.kind == k).map(n -> _))
      }
      val statCols = speaks.flatten.groupBy(_._1).map { case (n, s) => n -> s.size }
      // files no key column's stats speak for stay conservatively touched
      // (stats coverage is complete on any self-maintained table, so this
      // corner is commit-without-statsCols only)
      val blind = names.filterNot(statCols.contains)
      // the index ACTUALLY broadcast (a closure capture would re-serialize
      // it into every task); the lookup is the pruning metadata pass over
      // the changeset's keys, not the data path
      val bc = spark.sparkContext.broadcast((
        kinds.indices.map(i => bounds(kinds(i), speaks(i))), statCols,
        blooms.collect { case ((f, c), b) if c == cname && b.kind == kind => f -> b }))
      val lookup = udf { (r: Row) =>
        val (index, nCols, bloomOf) = bc.value
        val hits = mutable.HashMap.empty[String, Int]
        index.indices.foreach(i =>
          index(i).lookup(r.get(i)).foreach(n => hits(n) = hits.getOrElse(n, 0) + 1))
        lazy val bytes = CompositeKey.keyBytes(kinds, kinds.indices.map(r.get))
        hits.toArray.collect { case (n, h) if h == nCols(n) =>
          (n, bloomOf.get(n).forall(_.mightContain(bytes)))
        }
      }
      val keyStruct = struct(keyCols.map(col): _*)
      val hit = distinctKeys.select(explode(lookup(keyStruct)).as("m"))
        .groupBy(col("m._1").as("f")).agg(max(col("m._2")).as("t")).collect()
      bc.unpersist(blocking = false)
      val survivors = hit.collect { case r if r.getBoolean(1) => r.getString(0) }.toSet ++ blind
      // bulk manifest probe: the checkpointed keys join the sharded
      // manifest distributed-to-distributed, gated like the driver regime
      val covered = BloomManifest.coveredFiles(dir, cname, kind)
      val manifest =
        if (!survivors.exists(covered)) None
        else BloomManifest.probeBulkBytes(spark, dir, cname, kind,
          distinctKeys.select(CompositeKey.bytesUdf(kinds)(keyStruct)))
      val touched = survivors.filter(n => manifest.forall(p => !p.covered(n) || p.admitted(n)))
      Assignment(touched, hit.length + blind.size - touched.size,
        names.count(covered), stable, None)
    }
  }
}
