package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STATS-PRUNED KEYED MERGE — file-granular upsert on the atomic table (r17
  * verdict item 1, its top-next): apply a keyed changeset (the CDC
  * insert/update/delete feed, an upsert batch) by rewriting ONLY the data
  * files whose key statistics intersect the changeset's keys, hard-linking
  * every other file into the next version unchanged, and appending net-new
  * inserts into the rewrite output. This is the Delta/Iceberg MERGE
  * file-granularity contract: before it, every [[AtomicTable.mergeCommit]]
  * producer materialized the COMPLETE next version per merge — 100% write
  * amplification per micro-batch; at 100 TB with a changeset touching 0.1%
  * of keys that is 1000× more bytes than necessary. The delete path
  * ([[TargetedDelete.stageDelete]]) proved the prune/rewrite/link staging;
  * this generalizes "delete matched rows" to "replace matched rows + append
  * net-new" (reference hot path: the pipeline's poi/mention upserts,
  * utils/database.py:737-896 — Postgres gives it row-granular writes; this
  * is the file-granular lakehouse re-expression).
  *
  * Pruning decision (sidecar first, footer fallback — the same ladder as
  * delete/read): a live file is REWRITTEN iff its [min,max] on `keyCol` can
  * contain a changeset key; everything else is LINKED (metadata-only, O(1)
  * per file). Two regimes for "can contain":
  *
  *  - ≤ [[DriverKeyThreshold]] distinct change keys: the sorted key array is
  *    enumerated on the driver (a CDC micro-batch's key set — driver-sized
  *    by nature) and each file's range is probed by binary search, exactly
  *    [[TargetedDelete.LongKeys]]'s stats probe;
  *  - beyond it: the assignment inverts — the per-file boundary index (the
  *    sidecar the driver already holds) is closed over by a key→files lookup
  *    (binary search + bounded overlap walk) and run as a SPARK JOB over the
  *    changeset; only intersecting FILE NAMES come back to the driver, never
  *    keys. On a clustered layout the walk is O(log files) per key.
  *
  * The merge kernel `applyFn(base, changes)` sees ONLY the intersecting
  * files' rows as `base` and must honor the contract that makes link-reuse
  * sound: rows of `base` whose key has no change pass through unchanged, and
  * every output row's key is in base ∪ changes ([[CdcApply.apply]] and the
  * MergeSink upsert kernels are exactly this shape). Files the stats prove
  * disjoint from every change key cannot hold a matched row, so linking them
  * is not an approximation — it is the same proof the delete path uses.
  *
  * LAYOUT MAINTENANCE: the rewrite output is range-repartitioned on `keyCol`
  * back to the touched-file count, so an id-clustered table STAYS
  * id-clustered across merges — without it every merge would shatter the
  * clustering (shuffle.partitions-many overlapping files) and the NEXT
  * merge's pruning would decay toward rewrite-everything. The output
  * version's `_KEYSTATS` sidecar self-maintains: linked files carry all
  * their index rows forward, rewritten files get fresh `keyCol` rows from
  * their just-written local footers — so merge after merge stays on the
  * zero-footer-read path.
  *
  * Concurrency mirrors the delete: [[mergeChangesKeyed]] is the
  * single-writer path ([[AtomicTable.singleWriterStaged]] — crashed-stage
  * overwrite, complete-claim adoption + rebase); [[mergeChangesKeyedOcc]]
  * runs the same staging through [[AtomicTable.occCommit]]'s claim/rebase
  * CAS; [[commitBatchKeyed]] adds [[AtomicTable.commitBatch]]'s
  * (appId, batchId) redelivery guard for Structured Streaming foreachBatch —
  * the streamed CDC apply ([[CdcApply]]) runs on it. */
object KeyedMerge {

  /** The merge's audit row. `rewrittenFiles` counts files whose stats
    * intersected a change key (plus conservative unknowns); `reusedFiles`
    * were hard-linked; `footerReads` is 0 when the sidecar indexed `keyCol`
    * (the manifest-stats path). `totalFiles` counts the BASE version's files;
    * the output may hold more or fewer (inserts, 0-row rewrites).
    * `bloomSkipped` counts files min/max stats would have rewritten that the
    * `_KEYBLOOM` sidecar proved disjoint — the unclustered-key prune. */
  final case class MergeStats(version: String, totalFiles: Int,
      rewrittenFiles: Int, reusedFiles: Int, footerReads: Int,
      bloomSkipped: Int = 0)

  /** Above this many distinct change keys the file-assignment decision runs
    * as a Spark job against the broadcast boundary index instead of
    * enumerating keys on the driver. */
  val DriverKeyThreshold = 100000

  /** Bin-packing target for the rewrite output (the Delta optimized-write
    * move): the output file count is ceil(rewrittenRows / this), capped at
    * the touched-file count — so a micro-batch rewriting 3 small files emits
    * ONE file instead of 3 slivers, while a 10⁹-row rewrite keeps the
    * touched layout's granularity. Wide-hull files a merge leaves behind
    * (an insert block far from the update block in one output file) are
    * healed by the maintenance pass ([[Compaction]]/[[ZorderLayout]]),
    * exactly Delta's MERGE-then-OPTIMIZE contract. */
  val MergeTargetRowsPerFile: Long = 4L << 20

  /** fileKey (inode identity) equality — the PROOF a "reused" file was
    * hard-linked, not copied or rewritten. Used by the declared query's
    * audit and the spec. */
  def sameInode(a: Path, b: Path): Boolean = {
    val ka = Files.readAttributes(a, classOf[BasicFileAttributes]).fileKey()
    val kb = Files.readAttributes(b, classOf[BasicFileAttributes]).fileKey()
    ka != null && ka == kb
  }

  /** The boundary-index walk shared by both distributed regimes: sorted by
    * min under `ord`, prefix-max bounds the overlap walk — O(log F) per key
    * on a clustered layout. Pure and Serializable (closed over by the
    * lookup UDF). */
  private def boundaryLookup[K](mins: Array[K], maxs: Array[K],
      names: Array[String], prefixMax: Array[K], ord: Ordering[K])
      (key: K): Array[String] = {
    var lo = 0; var hi = mins.length
    while (lo < hi) { // upper_bound on min
      val m = (lo + hi) >>> 1
      if (ord.lteq(mins(m), key)) lo = m + 1 else hi = m
    }
    var j = lo - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (j >= 0 && ord.gteq(prefixMax(j), key)) {
      if (ord.gteq(maxs(j), key)) out += names(j)
      j -= 1
    }
    out.toArray
  }

  private def boundaryIndex[K: scala.reflect.ClassTag](
      stat: Seq[(String, KeyStats.StatRow)], decode: String => K,
      ord: Ordering[K]): (Array[K], Array[K], Array[String], Array[K]) = {
    val sorted = stat.map { case (n, r) => (decode(r.min), decode(r.max), n) }
      .sortBy(_._1)(ord).toArray
    val mins = sorted.map(_._1); val maxs = sorted.map(_._2)
    val names = sorted.map(_._3)
    val prefixMax = maxs.clone()
    var i = 1
    while (i < prefixMax.length) {
      prefixMax(i) = ord.max(prefixMax(i - 1), prefixMax(i)); i += 1
    }
    (mins, maxs, names, prefixMax)
  }

  /** Which live files can contain a change key, and how many files the bloom
    * sidecar pruned past min/max. The key family comes from the changeset's
    * schema: BIGINT/INT keys probe "long" stat rows, STRING keys probe
    * "string" rows under [[KeyStats.Utf8Order]] (the byte order parquet
    * computed them with — the poi/doc-hash upsert path); any other key type,
    * and any file neither stats nor bloom can disprove, is conservatively
    * touched. A `_KEYBLOOM` row of the matching kind is probed AFTER min/max
    * (with the key slice the range admits): on an unclustered key — every
    * file's hull spans the key space, min/max prunes nothing — the bloom is
    * the only thing standing between a point changeset and a full-table
    * rewrite. Returns touched file NAMES — the only thing that ever reaches
    * the driver on the distributed path — plus the STABLE changeset the
    * caller must feed downstream. The changeset is evaluated once more by
    * the merge kernel / the pruned join, and a non-stable source (a
    * directory a writer is appending to) evaluated differently could
    * surface a key the prune never saw — a linked file would keep the old
    * row while the kernel inserts it (Delta materializes the MERGE source
    * for exactly this reason). Two costs, by regime: the DRIVER regime's
    * probe provably read EVERY row (the limit returned under the
    * threshold), so consistency needs only a key-membership filter on the
    * kernel's input — keys unseen by the prune are deferred, NULL-key rows
    * pass (they match nothing, affect no linked file) — zero extra jobs;
    * the DISTRIBUTED regime eagerly localCheckpoints before the lookup job
    * so the assignment and the kernel read the same bytes. Shared with
    * [[StatsRead.joinPruned]] (dynamic file pruning: the same decision,
    * read-side). */
  private[sinks] final case class Assignment(touched: Set[String],
      bloomSkipped: Int, stableChanges: DataFrame)

  private[sinks] def touchedNames(files: Seq[Path], rows: Map[String, KeyStats.StatRow],
      keyCol: String, changes: DataFrame, driverKeyThreshold: Int,
      blooms: Map[(String, String), KeyBloom.BloomRow],
      liveDir: Option[Path] = None): Assignment = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val kind = changes.schema(keyCol).dataType match {
      case LongType | IntegerType => "long"
      case StringType => "string"
      case _ => // no stats family: nothing prunes, any evaluation is consistent
        return Assignment(files.map(_.getFileName.toString).toSet, 0, changes)
    }
    val bloomFor: Map[String, KeyBloom.BloomRow] =
      blooms.collect { case ((f, c), b) if c == keyCol && b.kind == kind => f -> b }
    // sharded-manifest availability (header presence only — the probe job
    // itself runs once per driver-regime prune; the distributed regime's
    // bulk changesets stay on the boundary-index path, where per-file
    // bloom probing is the lookup job's own business)
    val manifestAvail = liveDir.exists(BloomManifest.exists)
    val named = files.map(f => f.getFileName.toString -> rows(f.getFileName.toString))
    val (stat, blind) = named.partition(_._2.kind == kind)
    val blindNames = blind.map(_._1).toSet
    if (stat.isEmpty && bloomFor.isEmpty && !manifestAvail)
      return Assignment(blindNames, 0, changes)
    // regime probe: one SHUFFLE-FREE job (CollectLimit, no distinct — a
    // micro-batch's rows come back raw and dedup on the driver; a distinct
    // here would cost a 32-partition exchange per micro-batch). The
    // threshold therefore counts change ROWS, the conservative upper bound
    // on distinct keys.
    val probe = changes.select((kind match {
      case "long" => col(keyCol).cast("long")
      case _ => col(keyCol)
    }).as("k")).na.drop().limit(driverKeyThreshold + 1).collect()
    if (probe.length <= driverKeyThreshold) {
      // driver regime: binary-search each file's range against the sorted
      // key array — the KeySet stats probes, shared with the delete path —
      // then probe the range-admitted key slice against the file's bloom.
      // Blind files (no usable stats) are saved by a bloom alone when every
      // key misses it.
      def decide[K](keys: Array[K], ks: TargetedDelete.KeySet, ord: Ordering[K],
          decode: String => K, bytes: K => Array[Byte]): Assignment = {
        val statsTouched = stat.collect {
          case (n, r) if TargetedDelete.rowIntersects(r, ks) => (n, r)
        }
        // the distributed manifest probe composes conjunctively with the
        // TSV bloom and the stats hull: a covered, non-admitted file is
        // provably disjoint from every probed key. Gated on a non-empty
        // candidate set — a changeset the hulls already cleared never
        // pays the probe job.
        val manifest =
          if (!manifestAvail || (statsTouched.isEmpty && blind.isEmpty)) None
          else BloomManifest.probe(changes.sparkSession, liveDir.get, keyCol,
            kind, keys.toSeq.map(bytes))
        def mOk(n: String): Boolean =
          manifest.forall(p => !p.covered(n) || p.admitted(n))
        val touched = statsTouched.collect {
          case (n, r) if mOk(n) && bloomFor.get(n).forall(b =>
            KeyBloom.sliceMaybe(b, keys, decode(r.min), decode(r.max), ord, bytes)) => n
        }.toSet
        val blindTouched = blind.collect {
          case (n, _) if mOk(n) && bloomFor.get(n).forall(b =>
            keys.exists(k => b.mightContain(bytes(k)))) => n
        }.toSet
        val wouldTouch = statsTouched.size + blind.size
        // consistency filter, not a checkpoint: the probe saw every row, so
        // restricting the downstream evaluation to the probed keys (NULLs
        // pass — they match nothing) makes source drift harmless for free.
        // Tiered like every other key filter: a literal predicate while the
        // set is small, a broadcast LEFT SEMI beyond IsinKeyThreshold (a
        // 10^5-literal In expression would cost Catalyst per micro-batch)
        val stable =
          if (ks.preferPredicate)
            changes.filter(col(keyCol).isNull || ks.matchPredicate(keyCol))
          else changes.filter(col(keyCol).isNull)
            .unionAll(TargetedDelete.matched(changes, keyCol, ks))
        Assignment(touched ++ blindTouched,
          wouldTouch - touched.size - blindTouched.size, stable)
      }
      if (kind == "long") {
        val keys = probe.map(_.getLong(0)).distinct.sorted
        decide[Long](keys, TargetedDelete.LongKeys(keys), Ordering.Long,
          _.toLong, KeyBloom.longBytes)
      } else {
        val keys = probe.map(_.getString(0)).distinct.sorted(KeyStats.Utf8Order).toArray
        decide[String](keys, TargetedDelete.StringKeys(keys), KeyStats.Utf8Order,
          identity, KeyBloom.stringBytes)
      }
    } else {
      // distributed regime: materialize the DISTINCT KEY SET only (eager
      // localCheckpoint — one evaluation, lineage severed, auto-GC'd), not
      // the full changeset: the consistency contract needs the downstream
      // evaluation restricted to keys the lookup saw, which a semi join
      // against the checkpointed keys provides at a fraction of the
      // storage; full-row materialization would write every probe column
      // to executor storage even for a probe cheaper to evaluate twice.
      // The distinct also dedups the per-key UDF work in the lookup job.
      val keyed = changes.select((kind match {
        case "long" => col(keyCol).cast("long")
        case _ => col(keyCol)
      }).as(keyCol)).na.drop().distinct().localCheckpoint(true)
      val stable = changes.filter(col(keyCol).isNull)
        .unionAll(changes.join(keyed, Seq(keyCol), "left_semi"))
      // key→files lookup over the boundary index,
      // ACTUALLY broadcast (sc.broadcast — a plain closure capture would
      // re-serialize the 10⁵-entry index into every task), run as a Spark
      // job — only (file name, bloom verdict) pairs are collected. The
      // lookup is a closure UDF: this is the PRUNING METADATA pass over the
      // changeset's keys, not the data path. Each range hit is bloom-probed
      // in the same pass; a file is touched iff ANY key both lands in its
      // range and survives its bloom. Blind files stay conservatively
      // touched here (their bloom would need an every-key probe per file —
      // the driver regime's job; stats coverage is complete on any
      // self-maintained table, so this corner is commit-without-statsCols
      // only).
      val collected =
        if (kind == "long") {
          val bc = keyed.sparkSession.sparkContext.broadcast(
            (boundaryIndex[Long](stat, _.toLong, Ordering.Long), bloomFor))
          val filesFor = udf { (k: java.lang.Long) =>
            if (k == null) Array.empty[(String, Boolean)]
            else {
              val ((mins, maxs, names, pmax), bl) = bc.value
              boundaryLookup(mins, maxs, names, pmax, Ordering.Long)(k.longValue)
                .map(n => (n, bl.get(n).forall(
                  _.mightContain(KeyBloom.longBytes(k.longValue)))))
            }
          }
          val out = keyed.select(explode(filesFor(col(keyCol))).as("m"))
            .groupBy(col("m._1").as("f")).agg(max(col("m._2")).as("t")).collect()
          bc.unpersist(blocking = false)
          out
        } else {
          val bc = keyed.sparkSession.sparkContext.broadcast(
            (boundaryIndex[String](stat, identity, KeyStats.Utf8Order), bloomFor))
          val filesFor = udf { (k: String) =>
            if (k == null) Array.empty[(String, Boolean)]
            else {
              val ((mins, maxs, names, pmax), bl) = bc.value
              boundaryLookup(mins, maxs, names, pmax, KeyStats.Utf8Order)(k)
                .map(n => (n, bl.get(n).forall(
                  _.mightContain(KeyBloom.stringBytes(k)))))
            }
          }
          val out = keyed.select(explode(filesFor(col(keyCol))).as("m"))
            .groupBy(col("m._1").as("f")).agg(max(col("m._2")).as("t")).collect()
          bc.unpersist(blocking = false)
          out
        }
      val touchedStat = collected.collect {
        case r if r.getBoolean(1) => r.getString(0)
      }.toSet
      // bulk manifest probe: the checkpointed distinct keys join the
      // sharded manifest distributed-to-distributed — the >10^5-key
      // changeset gets the same layout-independent clearing as a point
      // merge, with nothing but admitted names on the driver. Gated on a
      // non-empty candidate set like the driver regime.
      val mProbe =
        if (!manifestAvail || (touchedStat.isEmpty && blindNames.isEmpty)) None
        else BloomManifest.probeBulk(changes.sparkSession, liveDir.get,
          keyCol, kind, keyed)
      def mOk(n: String): Boolean =
        mProbe.forall(p => !p.covered(n) || p.admitted(n))
      val touchedAll = (blindNames ++ touchedStat).filter(mOk)
      Assignment(touchedAll,
        collected.length - touchedStat.size +
          (blindNames.size + touchedStat.size - touchedAll.size), stable)
    }
  }

  /** Stage the post-merge state of `liveDir` into `stageDir`: rewrite ONLY
    * the stats-intersecting files through `applyFn`, hard-link the rest,
    * write the next version's self-maintained `_KEYSTATS`. `keyCols.size
    * == 1` is the single-key fast path ([[touchedNames]]); more columns
    * dispatch to the COMPOSITE assignment ([[CompositeKey.touched]] —
    * conjunctive hull veto + tuple bloom).
    * Returns (totalFiles, rewritten, reused, footerReads, bloomSkipped). */
  private def stageMerge(spark: SparkSession, liveDir: Path, stageDir: Path,
      keyCols: Seq[String], changes: DataFrame,
      applyFn: (DataFrame, DataFrame) => DataFrame,
      driverKeyThreshold: Int): (Int, Int, Int, Int, Int) = {
    require(keyCols.nonEmpty, "keyed merge needs at least one key column")
    TargetedDelete.requireFlatLayout(liveDir, "keyed merge")
    val files = TargetedDelete.partFiles(liveDir)
    if (files.isEmpty)
      throw new IllegalStateException(
        s"keyed merge against a fileless version at $liveDir")
    val sideAll = KeyStats.loadStats(liveDir)
    val keySet = keyCols.toSet
    val side = sideAll.filter { case ((_, c), _) => keySet(c) }
    val unknown = files.filter(f =>
      keyCols.exists(c => !side.contains((f.getFileName.toString, c))))
    val rows = side ++ KeyStats.statRowsFor(spark, unknown, keyCols)
    val blooms = KeyBloom.loadBlooms(liveDir)
    // the assignment also hands back the STABLE changeset the kernel must
    // consume (key-filtered in the driver regime, checkpointed in the
    // distributed one) — see touchedNames' consistency contract
    val Assignment(touched, bloomSkipped, stable) =
      if (keyCols.size == 1)
        touchedNames(files,
          rows.map { case ((f, _), r) => f -> r }, keyCols.head, changes,
          driverKeyThreshold, blooms, Some(liveDir))
      else CompositeKey.touched(files, rows, keyCols, changes,
        driverKeyThreshold, blooms, Some(liveDir))
    val (rewrite, reused) = files.partition(f => touched(f.getFileName.toString))
    Files.createDirectories(stageDir)
    // base = ONLY the intersecting files' rows; stats-disjoint files cannot
    // hold a matched key, so the kernel never needs to see them
    val base =
      if (rewrite.nonEmpty) Footers.read(spark, rewrite)
      else Footers.read(spark, files.take(1)).where(lit(false))
    // layout maintenance: range-repartition the rewrite output back onto the
    // key so the clustered layout (and with it, the NEXT merge's pruning)
    // survives the merge instead of shattering into shuffle.partitions-many
    // overlapping files.
    // row-aware output sizing: known when every touched file's sidecar/footer
    // row carries a rowCount (unknown → fall back to the touched-file count)
    val touchedRows = rewrite.map(f =>
      rows((f.getFileName.toString, keyCols.head)).rowCount)
    val outParts =
      if (rewrite.isEmpty || touchedRows.exists(_ < 0L)) math.max(rewrite.size, 1)
      else {
        val target = (touchedRows.sum + MergeTargetRowsPerFile - 1) / MergeTargetRowsPerFile
        math.max(1L, math.min(rewrite.size.toLong, target)).toInt
      }
    val merged0 = applyFn(base, stable)
    // LINK-REUSE SCHEMA GUARD: linked files keep the table's physical types;
    // a kernel that drifts a column's type (e.g. coalescing an INT column
    // with a LONG literal) would publish a MIXED-schema version the full-
    // rewrite path could never create — discovered only at read time, as a
    // vectorized-reader conversion error. Fail here, before staging.
    if (reused.nonEmpty) {
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
      if (shape(merged0.schema) != shape(base.schema))
        throw new IllegalStateException(
          "keyed-merge kernel output schema drifts from the linked files' " +
            s"schema — cast the kernel's columns to the table's types.\n" +
            s"  table:  ${shape(base.schema).mkString(", ")}\n" +
            s"  kernel: ${shape(merged0.schema).mkString(", ")}")
    }
    val rewriteOut = stageDir.resolve("rewrite")
    // bloomed tables get parquet-NATIVE blooms in their rewrite output too
    // (row-group-level skipping inside touched files — the 10^6-file path),
    // NDV-sized from the touched files' sidecar rowCounts
    val wOpts = KeyBloom.nativeWriteOptionsCols(
      blooms.keys.map(_._2).toSet ++ BloomManifest.coveredColumns(liveDir),
      KeyBloom.ndvFor(rewrite, n => rows((n, keyCols.head)).rowCount))
    val keyExprs = keyCols.map(col)
    if (outParts == 1) {
      // single-output fast path (the streaming cadence): RangePartitioner
      // computes NO range bounds at <=1 partition, so this is one kernel
      // evaluation with the JOIN still parallel upstream of the 1-partition
      // exchange — no sampling pass, nothing to persist (coalesce(1) would
      // instead pull the whole kernel join into a single task)
      merged0.repartitionByRange(1, keyExprs: _*).sortWithinPartitions(keyExprs: _*)
        .write.options(wOpts).mode("overwrite").parquet(rewriteOut.toString)
    } else {
      // the kernel output is PERSISTED around the range exchange:
      // RangePartitioner's sampling pass would otherwise re-run the whole
      // merge join a second time for the write
      val merged = merged0.persist()
      try {
        merged.repartitionByRange(outParts, keyExprs: _*)
          .sortWithinPartitions(keyExprs: _*)
          .write.options(wOpts).mode("overwrite").parquet(rewriteOut.toString)
      } finally merged.unpersist(blocking = false)
    }
    TargetedDelete.moveStagedParts(rewriteOut, stageDir)
    reused.foreach(TargetedDelete.linkInto(stageDir, _))
    val staged = TargetedDelete.partFiles(stageDir)
    if (staged.isEmpty)
      throw new IllegalStateException(
        "keyed merge staged a fileless version — the table would be unreadable")
    // self-maintaining sidecar: linked files carry ALL their index rows,
    // rewritten files get fresh rows on EVERY column the predecessor
    // indexed — not just keyCol — in the same footer sweep (one open per
    // file serves all columns; r18 verdict item 2: a Z-ordered two-column
    // table must not lose zero-footer-read box reads after a merge on one
    // dimension). Columns a full-rewrite kernel dropped lapse gracefully.
    val reusedNames = reused.map(_.getFileName.toString).toSet
    KeyBloom.maintainStage(spark, liveDir, stageDir, reusedNames, blooms)
    val carried = sideAll.filter { case ((f, _), _) => reusedNames(f) }
    val reusedKeyRows = (for {
      n <- reusedNames.toSeq; c <- keyCols
    } yield (n, c) -> rows((n, c))).toMap
    val freshFiles = staged.filterNot(p => reusedNames(p.getFileName.toString))
    val outCols = merged0.schema.fieldNames.toSet
    val indexedCols = (sideAll.keys.map(_._2).toSet ++ keyCols)
      .filter(outCols).toSeq.sorted
    val freshRows = KeyStats.statRowsFor(spark, freshFiles, indexedCols)
    KeyStats.writeStats(stageDir, carried ++ reusedKeyRows ++ freshRows)
    (files.size, rewrite.size, reused.size, unknown.size, bloomSkipped)
  }

  /** Every merge appends its prune outcome to the table's operations log
    * — the drift signal [[Maintenance.adviseTelemetry]] reads without
    * touching a sidecar (advisory channel: best-effort, never fails the
    * merge). */
  private def logged(root: String, keyCol: String, ms: MergeStats): MergeStats = {
    Maintenance.recordMerge(root, keyCol, ms.totalFiles, ms.rewrittenFiles,
      ms.bloomSkipped)
    ms
  }

  /** Single-writer stats-pruned merge: apply `changes` onto the live version
    * through `applyFn`, rewriting only key-intersecting files. The table
    * must have a committed base ([[AtomicTable.commit]] it first — a merge
    * needs a schema-bearing version to prune against). */
  def mergeChangesKeyed(spark: SparkSession, root: String, keyCol: String,
      changes: DataFrame, applyFn: (DataFrame, DataFrame) => DataFrame,
      driverKeyThreshold: Int = DriverKeyThreshold): MergeStats = {
    @volatile var last: (Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0)
    val next = AtomicTable.singleWriterStaged(root, "merge") { (live, stageDir) =>
      last = stageMerge(spark, Paths.get(root, live), stageDir, Seq(keyCol),
        changes, applyFn, driverKeyThreshold)
    }
    logged(root, keyCol,
      MergeStats(next, last._1, last._2, last._3, last._4, last._5))
  }

  /** MULTI-WRITER stats-pruned merge through [[AtomicTable.occCommit]]'s
    * claim/rebase CAS — a lost race re-prunes against the winner's version
    * (its file set differs), so the changeset lands exactly once alongside
    * interleaved merges and deletes. Stats reflect the attempt that won. */
  def mergeChangesKeyedOcc(spark: SparkSession, root: String, keyCol: String,
      changes: DataFrame, applyFn: (DataFrame, DataFrame) => DataFrame,
      maxRetries: Int = 16, pruneAgeMs: Long = AtomicTable.MergePruneAgeMs,
      driverKeyThreshold: Int = DriverKeyThreshold): MergeStats = {
    @volatile var last: (Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0)
    val v = AtomicTable.occCommit(root, maxRetries, pruneAgeMs) { (base, stageDir) =>
      val live = base.getOrElse(throw new IllegalStateException(
        s"no live version at $root — commit a base before merging"))
      last = stageMerge(spark, Paths.get(root, live), stageDir, Seq(keyCol),
        changes, applyFn, driverKeyThreshold)
    }
    logged(root, keyCol,
      MergeStats(v, last._1, last._2, last._3, last._4, last._5))
  }

  /** COMPOSITE-KEY stats-pruned merge (r19 verdict item 1): the changeset
    * carries the key TUPLE's columns and the assignment is the conjunctive
    * hull veto + composite bloom ([[CompositeKey.touched]]) — the
    * reference's (poi_id, url) mention upsert rides the pruned path
    * instead of the full rewrite. Same staging, linking, self-maintained
    * sidecars, and kernel contract as [[mergeChangesKeyed]]; telemetry
    * records under the composite column name. Single-writer path. */
  def mergeChangesKeyedTuple(spark: SparkSession, root: String,
      keyCols: Seq[String], changes: DataFrame,
      applyFn: (DataFrame, DataFrame) => DataFrame,
      driverKeyThreshold: Int = DriverKeyThreshold): MergeStats = {
    require(keyCols.size >= 2, "use mergeChangesKeyed for a single key column")
    @volatile var last: (Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0)
    val next = AtomicTable.singleWriterStaged(root, "merge") { (live, stageDir) =>
      last = stageMerge(spark, Paths.get(root, live), stageDir, keyCols,
        changes, applyFn, driverKeyThreshold)
    }
    logged(root, CompositeKey.colName(keyCols),
      MergeStats(next, last._1, last._2, last._3, last._4, last._5))
  }

  /** [[mergeChangesKeyedTuple]] through [[AtomicTable.occCommit]]'s
    * claim/rebase CAS — the multi-writer composite upsert. */
  def mergeChangesKeyedTupleOcc(spark: SparkSession, root: String,
      keyCols: Seq[String], changes: DataFrame,
      applyFn: (DataFrame, DataFrame) => DataFrame,
      maxRetries: Int = 16, pruneAgeMs: Long = AtomicTable.MergePruneAgeMs,
      driverKeyThreshold: Int = DriverKeyThreshold): MergeStats = {
    require(keyCols.size >= 2, "use mergeChangesKeyedOcc for a single key column")
    @volatile var last: (Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0)
    val v = AtomicTable.occCommit(root, maxRetries, pruneAgeMs) { (base, stageDir) =>
      val live = base.getOrElse(throw new IllegalStateException(
        s"no live version at $root — commit a base before merging"))
      last = stageMerge(spark, Paths.get(root, live), stageDir, keyCols,
        changes, applyFn, driverKeyThreshold)
    }
    logged(root, CompositeKey.colName(keyCols),
      MergeStats(v, last._1, last._2, last._3, last._4, last._5))
  }

  /** Idempotent streaming form of [[mergeChangesKeyedTuple]] — the
    * (appId, batchId) redelivery guard over the composite pruned merge
    * (the reference's mention-upsert cadence: micro-batches keyed on
    * (poi_id, url)). `maintainEvery` composes like the single-key form,
    * through [[Maintenance.autoMaintainMulti]] with `keyCols.head` as the
    * clustering owner (primary runs the full ladder, the other components
    * heal index/bloom only). Returns None on a redelivered batch. */
  def commitBatchKeyedTuple(spark: SparkSession, root: String, appId: String,
      batchId: Long, keyCols: Seq[String], changes: => DataFrame,
      applyFn: (DataFrame, DataFrame) => DataFrame,
      driverKeyThreshold: Int = DriverKeyThreshold,
      maintainEvery: Int = 0,
      maintainTargetBytes: Long = Compaction.TargetBytes): Option[MergeStats] = {
    require(keyCols.size >= 2, "use commitBatchKeyed for a single key column")
    if (AtomicTable.lastBatch(root).exists { case (app, b) =>
        app == appId && batchId <= b }) None
    else {
      val c = changes
      @volatile var last: (Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0)
      val next = AtomicTable.singleWriterStaged(root, "merge",
          batch = Some((appId, batchId))) { (live, stageDir) =>
        last = stageMerge(spark, Paths.get(root, live), stageDir, keyCols,
          c, applyFn, driverKeyThreshold)
      }
      val out = Some(logged(root, CompositeKey.colName(keyCols),
        MergeStats(next, last._1, last._2, last._3, last._4, last._5)))
      if (maintainEvery > 0 && batchId % maintainEvery == 0)
        Maintenance.autoMaintainMulti(spark, root, keyCols, maintainTargetBytes)
      out
    }
  }

  /** Idempotent streaming form — [[AtomicTable.commitBatch]]'s
    * (appId, batchId) redelivery guard over the pruned merge: a redelivered
    * micro-batch (foreachBatch is at-least-once) is SKIPPED without
    * evaluating `changes`; a new one stages the pruned merge and stamps the
    * manifest with its id in the same publish. Returns None on a skip.
    *
    * `maintainEvery > 0` closes the operations loop INSIDE the cadence
    * (r18 verdict item 5): after every Nth applied batch the
    * [[Maintenance.autoMaintain]] ladder runs against the just-published
    * version — the advisor's check is metadata-only (free per batch), a
    * heal is an interleaved sequential commit whose publish carries the
    * (appId, batchId) tag forward, so the exactly-once guard survives the
    * version flips (MaintenanceSpec pins it). A redelivered batch skips
    * maintenance too — no new bytes, no new drift. */
  def commitBatchKeyed(spark: SparkSession, root: String, appId: String,
      batchId: Long, keyCol: String, changes: => DataFrame,
      applyFn: (DataFrame, DataFrame) => DataFrame,
      driverKeyThreshold: Int = DriverKeyThreshold,
      maintainEvery: Int = 0,
      maintainTargetBytes: Long = Compaction.TargetBytes): Option[MergeStats] = {
    if (AtomicTable.lastBatch(root).exists { case (app, b) =>
        app == appId && batchId <= b }) None
    else {
      val c = changes
      @volatile var last: (Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0)
      val next = AtomicTable.singleWriterStaged(root, "merge",
          batch = Some((appId, batchId))) { (live, stageDir) =>
        last = stageMerge(spark, Paths.get(root, live), stageDir, Seq(keyCol),
          c, applyFn, driverKeyThreshold)
      }
      val out = Some(logged(root, keyCol,
        MergeStats(next, last._1, last._2, last._3, last._4, last._5)))
      if (maintainEvery > 0 && batchId % maintainEvery == 0)
        Maintenance.autoMaintain(spark, root, keyCol, maintainTargetBytes)
      out
    }
  }
}
