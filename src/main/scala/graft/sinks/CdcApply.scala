package graft.sinks

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** S23 — CDC CHANGESET APPLY: merge an insert/update/delete change feed into
  * a keyed table in ONE dataflow — the generalized MERGE INTO the upsert
  * kernels ([[MergeSink]]) and the targeted delete ([[TargetedDelete]]) are
  * special cases of, and the batch form of applying a Debezium/Delta-CDF
  * feed. Semantics (Delta's whenMatched/whenNotMatched ladder):
  *
  *   - several changes per key fold to the LATEST by sequence number first —
  *     a map-side-combinable max(struct(seq, ...)) aggregate, never a window;
  *   - 'D' drops the row (whether or not a base row exists);
  *   - 'U' and 'I' both land the change's values (upsert semantics: a U
  *     without a base row inserts, an I over an existing row updates —
  *     at-least-once feeds redeliver, so strict insert-vs-update raises
  *     on replays; upsert converges);
  *   - keys without a change pass the base row through unchanged.
  *
  * Scale shape: one shuffle of the changeset on the key for the fold, one
  * full-outer equi-join against the base (shuffle or broadcast as the feed
  * size dictates) — exactly the plan a format-native MERGE INTO lowers to.
  * The changeset here is synthesized deterministically from the key space
  * (delete/update/update-then-delete/insert classes + a net-new id range)
  * so the DuckDB oracle replays feed construction, fold, and apply. */
object CdcApply {

  /** Key-space classes of the synthesized feed (mod [[ChangeMod]]). */
  val ChangeMod = 19
  val InsertBase = 1000000L
  val Inserts = 500

  /** The deterministic change feed over the customer key space: class 0
    * deletes, class 1 updates, class 2 updates THEN deletes (two entries,
    * seq 1 and 2 — the fold must keep the delete), plus [[Inserts]] net-new
    * keys. Balances are integer cents derived from the key. */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    // the insert class must be NET-NEW ids: customer keys reach 1e6 around
    // sf ~7, at which point 'inserts' would silently become updates in BOTH
    // engines (the oracle replays the same collision, so the hash gate
    // would stay green while the class semantics drift) — fail loudly first
    val maxKey = Tables.customer(spark, dir)
      .agg(max(col("c_custkey"))).head.getLong(0)
    require(maxKey < InsertBase,
      s"customer keys reach $maxKey >= InsertBase $InsertBase: the synthesized " +
        "insert class would collide with existing rows at this SF")
    val keys = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"), col("c_custkey").mod(ChangeMod).as("cls"))
    val dels = keys.filter(col("cls") === 0)
      .select(col("id"), lit(1L).as("seq"), lit("D").as("op"),
        lit(null).cast("long").as("bal_c"))
    val upds = keys.filter(col("cls") === 1)
      .select(col("id"), lit(1L).as("seq"), lit("U").as("op"),
        (col("id") * 100L).as("bal_c"))
    val updThenDel = keys.filter(col("cls") === 2)
      .select(col("id"), lit(1L).as("seq"), lit("U").as("op"),
        (col("id") * 100L).as("bal_c"))
      .unionAll(keys.filter(col("cls") === 2)
        .select(col("id"), lit(2L).as("seq"), lit("D").as("op"),
          lit(null).cast("long").as("bal_c")))
    val ins = spark.range(Inserts.toLong)
      .select((lit(InsertBase) + col("id")).as("id"), lit(1L).as("seq"),
        lit("I").as("op"), (col("id") * 7L).as("bal_c"))
    dels.unionAll(upds).unionAll(updThenDel).unionAll(ins)
  }

  /** Apply `changes` (id, seq, op, bal_c) onto `base` (id, name, bal_c). */
  def apply(base: DataFrame, changes: DataFrame): DataFrame = {
    // latest change per key: lexicographic struct-max on seq — map-side
    // combinable, no window, ties impossible (seq unique per key by contract)
    val latest = changes
      .groupBy(col("id"))
      .agg(max(struct(col("seq"), col("op"), col("bal_c"))).as("c"))
      .select(col("id"), col("c.op").as("op"), col("c.bal_c").as("chg_bal"))
    base.join(latest, Seq("id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("id"),
        when(col("op").isNull, col("name"))
          .otherwise(coalesce(col("name"), lit("cdc_inserted"))).as("name"),
        when(col("op").isNull, col("bal_c")).otherwise(col("chg_bal")).as("bal_c"))
  }

  /** The keyed base every CDC query applies onto: customer (id, name,
    * exact-cents balance). */
  private def customers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        graft.ops.Relational.quantize(col("c_acctbal"), 2).cast("long").as("bal_c"))

  /** Declared query: base = customer (name + exact-cents balance), feed =
    * [[changeFeed]], output = the post-apply table. */
  def qS23CdcApply(spark: SparkSession, dir: String): DataFrame =
    apply(customers(spark, dir), changeFeed(spark, dir))

  // ---- streamed apply under the driver gate (r15 verdict item 2) --------

  def streamRoot(dir: String): String =
    "spark-warehouse/s23_cdc_stream_" + new java.io.File(dir).getName

  /** STREAMED CDC APPLY, driver-gated: the synthesized changeset arrives as
    * files through an AvailableNow file stream (maxFilesPerTrigger=1), each
    * micro-batch applied onto the COMMITTED table state and committed through
    * [[AtomicTable.commitBatch]] — with a MID-FEED RESTART baked into the
    * query: after the first two micro-batches, the engine's own commit record
    * for the last batch is dropped (the crash-after-sink-commit-before-
    * offsets-checkpoint window `foreachBatch` is documented to redeliver),
    * the third feed file lands, and the stream restarts on the same
    * checkpoint. Spark redelivers batch 1; `commitBatch` must SKIP it (the
    * manifest already carries (appId, 1)), then apply batch 2 — the query
    * throws if the redelivery was double-applied or never happened, so the
    * hash row is green ONLY through the exactly-once path. Final state must
    * equal the one-shot batch apply (same oracle as `s23_cdc_apply`).
    *
    * Scale shape per micro-batch: identical to [[apply]] (one keyed fold +
    * one full-outer join); the restart machinery is checkpoint-metadata-only.
    * CdcApplySpec additionally pins arbitrary uneven cuts; this declared form
    * pins the restart/redelivery corridor under the driver's hash gate. */
  def qS23CdcApplyStream(spark: SparkSession, dir: String): DataFrame = {
    val root = streamRoot(dir)
    AtomicTable.deleteRecursively(Paths.get(root))
    val (tableRoot, feedDir, ckpt) = (s"$root/table", s"$root/feed", s"$root/ckpt")
    val base = customers(spark, dir)
    // id-clustered + indexed base: the pruned merge's file-level decision
    // starts from the sidecar (and each merge self-maintains it)
    AtomicTable.commit(base.repartitionByRange(8, col("id"))
      .sortWithinPartitions(col("id")), tableRoot, statsCols = Seq("id"))
    // staged (r22): each feed-slice write re-evaluated the whole 5-branch
    // union (five customer scans per slice); one lazy checkpoint makes the
    // three slices read the same tiny materialized changeset. Size-gated —
    // the synthesized feed spans the key space, i.e. table-sized at scale.
    val feed = Tables.stageLocal(changeFeed(spark, dir))
    // the feed as three micro-batch files: seq-1 changes split by key
    // parity, then ALL seq-2 entries (the class-2 deletes) last — so a
    // key's update and its later delete land in DIFFERENT micro-batches and
    // the per-batch apply must net to the delete across committed state.
    // The two pre-restart slices land in ONE partitioned write job (the
    // third is written mid-corridor, after the crash window — see below)
    FeedSlices.writeSlices(feed.filter(col("seq") === 1)
      .withColumn(FeedSlices.SliceCol, (col("id") % 2).cast("int")), feedDir, 2)
    // STATS-PRUNED micro-batch apply (r17 verdict item 1): each batch
    // rewrites only the files its keys intersect and hard-links the rest —
    // the redelivery guard and the manifest batch tag are commitBatchKeyed's
    def runStream() = FeedSlices.drain(spark, feedDir, ckpt)((b, bid) =>
      KeyedMerge.commitBatchKeyed(spark, tableRoot, "s23-cdc-stream", bid, Seq("id"), b, apply))
    val first = runStream() // micro-batches 0 and 1
    // crash-window simulation: the sink committed batch 1 but the engine
    // never checkpointed it — on restart Spark re-executes batch 1
    FeedSlices.dropCommit(ckpt, 1)
    FeedSlices.writeSlice(feed.filter(col("seq") === 2), feedDir, 2)
    // redelivers 1 (must skip), then applies 2
    (first + runStream()).require(applied = 3, redelivered = 1)
    AtomicTable.read(spark, tableRoot)
  }

  /** STREAMING → MAINTENANCE lifecycle (r16 verdict item 2's done-condition):
    * the changeset streams in (AvailableNow, one file per micro-batch, three
    * batches), each commit indexed via `statsCols`, then a TARGETED DELETE of
    * a driver-known id block (half the net-new insert class) runs against the
    * stream-committed table — and THROWS unless its pruning decision came
    * entirely from the stream-written `_KEYSTATS` sidecars (footerReads==0).
    * The hash row equals the batch oracle minus the deleted block, so green
    * is reachable only when streamed producers emit indexed versions AND the
    * delete stayed on the manifest-stats path. No restart corridor here —
    * that's [[qS23CdcApplyStream]]'s job; this pins the index lifecycle. */
  val StreamDeleteFrom: Long = InsertBase
  val StreamDeleteTo: Long = InsertBase + Inserts / 2 - 1

  def qS23CdcStreamDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = streamRoot(dir) + "_del"
    AtomicTable.deleteRecursively(Paths.get(root))
    val (tableRoot, feedDir, ckpt) = (s"$root/table", s"$root/feed", s"$root/ckpt")
    val base = customers(spark, dir)
    AtomicTable.commit(base.repartitionByRange(8, col("id"))
      .sortWithinPartitions(col("id")), tableRoot, statsCols = Seq("id"))
    // staged + all three slices in ONE partitioned write job (r22)
    val feed = Tables.stageLocal(changeFeed(spark, dir))
    FeedSlices.writeSlices(feed.withColumn(FeedSlices.SliceCol,
      when(col("seq") === 2, 2).otherwise(col("id") % 2).cast("int")), feedDir, 3)
    // pruned merge per micro-batch; its self-maintained sidecar is what the
    // targeted delete below prunes from (footerReads==0 enforced)
    FeedSlices.drain(spark, feedDir, ckpt) { (b, bid) =>
      KeyedMerge.commitBatchKeyed(spark, tableRoot, "s23-cdc-stream-del",
        bid, Seq("id"), b, apply)
    }.require(applied = 3, redelivered = 0)
    val stats = TargetedDelete.delete(spark, tableRoot, "id",
      TargetedDelete.LongRange(StreamDeleteFrom, StreamDeleteTo))
    if (stats.footerReads != 0)
      throw new IllegalStateException(
        s"stream-committed versions were not indexed: $stats")
    AtomicTable.read(spark, tableRoot)
  }

  // ---- stats-pruned keyed merge under the hash gate (r17 verdict item 1) --

  /** The CLUSTERED changeset of the pruned-merge query: one contiguous
    * update block, one contiguous delete block, plus net-new inserts above
    * every existing key — a withdrawn-source correction batch on the
    * id-clustered layout, the shape where file-granular MERGE pays. Blocks
    * sit in ids < 350 (customers exist there at every SF). */
  val PrunedUpdFrom = 100L; val PrunedUpdTo = 299L
  val PrunedDelFrom = 300L; val PrunedDelTo = 349L
  val PrunedInserts = 200
  val PrunedFiles = 16

  private def prunedFeed(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(spark, dir).select(col("c_custkey").as("id"))
    val upds = keys.filter(col("id").between(PrunedUpdFrom, PrunedUpdTo))
      .select(col("id"), lit(1L).as("seq"), lit("U").as("op"),
        (col("id") * 100L).as("bal_c"))
    val dels = keys.filter(col("id").between(PrunedDelFrom, PrunedDelTo))
      .select(col("id"), lit(1L).as("seq"), lit("D").as("op"),
        lit(null).cast("long").as("bal_c"))
    val ins = spark.range(PrunedInserts.toLong)
      .select((lit(InsertBase) + col("id")).as("id"), lit(1L).as("seq"),
        lit("I").as("op"), (col("id") * 7L).as("bal_c"))
    upds.unionAll(dels).unionAll(ins)
  }

  /** FILE-GRANULAR MERGE under the driver gate: the customer table is
    * committed id-clustered and indexed; the clustered changeset is applied
    * through [[KeyedMerge.merge]] — and the query THROWS unless
    * (a) the pruning decision came entirely from the sidecar
    * (footerReads==0), (b) the merge rewrote a MINORITY of the files and
    * linked at least one, and (c) every reused file in the new version is
    * the SAME INODE as its predecessor (hard link verified, not a copy and
    * not a rewrite). The oracle replays the full apply in SQL, so the hash
    * row proves the pruned merge lands byte-identical state to the
    * full-rewrite apply while touching only the changeset's files. */
  def qS23CdcMergePruned(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    val root = streamRoot(dir) + "_merge"
    AtomicTable.deleteRecursively(Paths.get(root))
    val base = customers(spark, dir)
    AtomicTable.commit(base.repartitionByRange(PrunedFiles, col("id"))
      .sortWithinPartitions(col("id")), root, statsCols = Seq("id"))
    val prev = AtomicTable.currentVersion(root).get
    val ms = KeyedMerge.merge(spark, root, Seq("id"),
      prunedFeed(spark, dir), apply)
    if (ms.footerReads != 0 || ms.reusedFiles < 1 ||
        ms.rewrittenFiles * 2 >= ms.totalFiles)
      throw new IllegalStateException(
        s"pruned merge did not engage: $ms (want footerReads=0, reused>=1, " +
          "rewritten < total/2)")
    val prevDir = Paths.get(root, prev)
    val liveDir = Paths.get(root, ms.version)
    val reusedNames = TargetedDelete.partFiles(liveDir)
      .map(_.getFileName.toString)
      .filter(n => java.nio.file.Files.exists(prevDir.resolve(n)))
    if (reusedNames.size != ms.reusedFiles ||
        !reusedNames.forall(n =>
          KeyedMerge.sameInode(prevDir.resolve(n), liveDir.resolve(n))))
      throw new IllegalStateException(
        s"link reuse not verified by inode: ${reusedNames.size} carried names " +
          s"vs ${ms.reusedFiles} reused (every carried name must share its " +
          "predecessor's inode)")
    AtomicTable.read(spark, root)
  }

  /** Fixture for the BLOOM-pruned merge: an UNCLUSTERED key. The corpus is
    * id-clustered but keyed by `doc_hash` = md5(doc_id) — every file's
    * [min,max] hull on the hash spans ~the whole hex space, so min/max
    * stats cannot prune a point changeset (the premise is ASSERTED before
    * the bloom is built). Update ids exist at every SF. */
  val BloomMergeFiles = 16
  val BloomMergeUpdIds: Seq[Long] = Seq(7L, 143L, 421L)
  val BloomMergeInserts = 2

  /** Upsert by doc_hash — replace matched rows, append net-new; base rows
    * without a change pass through (the [[KeyedMerge]] kernel contract). */
  private def upsertDocs(base: DataFrame, changes: DataFrame): DataFrame =
    base.as("b").join(changes.as("c"), Seq("doc_hash"), "full_outer")
      .select(col("doc_hash"),
        coalesce(col("c.doc_id"), col("b.doc_id")).as("doc_id"),
        coalesce(col("c.lang"), col("b.lang")).as("lang"),
        coalesce(col("c.source"), col("b.source")).as("source"),
        coalesce(col("c.n_chars"), col("b.n_chars")).as("n_chars"))

  /** BLOOM-PRUNED MERGE — the unclustered half of the file-granular story
    * ([[qS23CdcMergePruned]] is the clustered half). The dedup/corpus hot
    * path upserts by doc HASH, a key no layout can cluster for min/max
    * skipping; the `_KEYBLOOM` sidecar is the only thing standing between a
    * point changeset and a 100%-rewrite merge. The query THROWS unless
    * (a) min/max stats alone would plan ~every file (the fixture premise),
    * (b) the merge's pruning was metadata-only (footerReads==0),
    * (c) the BLOOM did the pruning (bloomSkipped>=1, rewritten<=6,
    * reused>=total-6 — fpp-proof margins at any SF with sized blooms), and
    * (d) every reused file is inode-identical to its predecessor. The
    * oracle replays the upsert in SQL over md5 keys computed by DuckDB —
    * the hash row value-checks kernel, prune, and link reuse end to end. */
  def qS23CdcMergeBloom(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    val root = streamRoot(dir) + "_mergebloom"
    AtomicTable.deleteRecursively(Paths.get(root))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("doc_hash", md5(col("doc_id").cast("string")))
    val nRows = docs.count()
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    require(maxId < InsertBase,
      s"documents ids reach $maxId >= InsertBase $InsertBase: inserts would " +
        "collide at this SF")
    AtomicTable.commit(docs.repartitionByRange(BloomMergeFiles, col("doc_id"))
      .sortWithinPartitions(col("doc_id")), root, statsCols = Seq("doc_hash"))
    val changes = docs.filter(col("doc_id").isin(BloomMergeUpdIds: _*))
      .select(col("doc_hash"), col("doc_id"), col("lang"), col("source"),
        (col("doc_id") * 1000L).as("n_chars"))
      .unionAll(spark.range(BloomMergeInserts.toLong)
        .select(md5((lit(InsertBase) + col("id")).cast("string")).as("doc_hash"),
          (lit(InsertBase) + col("id")).as("doc_id"),
          lit("xx").as("lang"), lit("cdc").as("source"),
          ((lit(InsertBase) + col("id")) * 11L).as("n_chars")))
    // fixture premise: min/max stats CANNOT skip on the scattered hash key
    val probes = changes.select(col("doc_hash")).collect().map(_.getString(0)).toSeq
    val rsStats = StatsRead.admission(spark, root,
      Seq("doc_hash" -> TargetedDelete.KeySet.strings(probes)))
    if (rsStats.filesRead < rsStats.totalFiles - 2)
      throw new IllegalStateException(
        s"fixture premise broken: min/max stats pruned a scattered key ($rsStats)")
    // bits sized from observed rows-per-file so the gates hold at ANY SF
    KeyBloom.indexKeyBloom(spark, root, Seq("doc_hash"),
      KeyBloom.bitsFor(nRows / BloomMergeFiles + 1))
    val prev = AtomicTable.currentVersion(root).get
    val ms = KeyedMerge.merge(spark, root, Seq("doc_hash"), changes, upsertDocs)
    if (ms.footerReads != 0 || ms.bloomSkipped < 1 || ms.rewrittenFiles > 6 ||
        ms.reusedFiles < ms.totalFiles - 6)
      throw new IllegalStateException(
        s"bloom-pruned merge did not engage: $ms (want footerReads=0, " +
          "bloomSkipped>=1, rewritten<=6, reused>=total-6)")
    val prevDir = Paths.get(root, prev)
    val liveDir = Paths.get(root, ms.version)
    val reusedNames = TargetedDelete.partFiles(liveDir)
      .map(_.getFileName.toString)
      .filter(n => java.nio.file.Files.exists(prevDir.resolve(n)))
    if (reusedNames.size != ms.reusedFiles ||
        !reusedNames.forall(n =>
          KeyedMerge.sameInode(prevDir.resolve(n), liveDir.resolve(n))))
      throw new IllegalStateException(
        s"link reuse not verified by inode: ${reusedNames.size} carried names " +
          s"vs ${ms.reusedFiles} reused")
    // the bloom must SELF-MAINTAIN across the merge: every live file —
    // linked or freshly rewritten — carries a doc_hash bloom row, so the
    // NEXT merge prunes just as well without a re-index pass
    val liveBlooms = KeyBloom.loadBlooms(liveDir)
    TargetedDelete.partFiles(liveDir).foreach(f =>
      if (!liveBlooms.contains((f.getFileName.toString, "doc_hash")))
        throw new IllegalStateException(
          s"bloom not self-maintained for ${f.getFileName} after the merge"))
    AtomicTable.read(spark, root)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s23_cdc_apply" -> (qS23CdcApply _),
    "s23_cdc_apply_stream" -> (qS23CdcApplyStream _),
    "s23_cdc_stream_delete" -> (qS23CdcStreamDelete _),
    "s23_cdc_merge_pruned" -> (qS23CdcMergePruned _),
    "s23_cdc_merge_bloom" -> (qS23CdcMergeBloom _))

  /** The streamed apply must land the SAME final state as the one-shot batch
    * apply — one oracle body serves both. */
  private def cdcOracleSql: String =
      s"""WITH base AS (
         |  SELECT c_custkey AS id, c_name AS name,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
         |  FROM customer),
         |feed AS (
         |  SELECT c_custkey AS id, 1 AS seq, 'D' AS op, CAST(NULL AS BIGINT) AS bal_c
         |  FROM customer WHERE c_custkey % $ChangeMod = 0
         |  UNION ALL
         |  SELECT c_custkey, 1, 'U', CAST(c_custkey * 100 AS BIGINT)
         |  FROM customer WHERE c_custkey % $ChangeMod = 1
         |  UNION ALL
         |  SELECT c_custkey, 1, 'U', CAST(c_custkey * 100 AS BIGINT)
         |  FROM customer WHERE c_custkey % $ChangeMod = 2
         |  UNION ALL
         |  SELECT c_custkey, 2, 'D', CAST(NULL AS BIGINT)
         |  FROM customer WHERE c_custkey % $ChangeMod = 2
         |  UNION ALL
         |  SELECT $InsertBase + i.range AS id, 1, 'I', CAST(i.range * 7 AS BIGINT)
         |  FROM range($Inserts) i),
         |latest AS (
         |  SELECT id,
         |    max(struct_pack(seq := seq, op := op, bal_c := bal_c)) AS c
         |  FROM feed GROUP BY id)
         |SELECT coalesce(b.id, l.id) AS id,
         |  CASE WHEN l.id IS NULL THEN b.name
         |       ELSE coalesce(b.name, 'cdc_inserted') END AS name,
         |  CASE WHEN l.id IS NULL THEN b.bal_c ELSE (l.c).bal_c END AS bal_c
         |FROM base b FULL OUTER JOIN latest l ON b.id = l.id
         |WHERE l.id IS NULL OR (l.c).op <> 'D'""".stripMargin

  val oracles: Map[String, String] = Map(
    "s23_cdc_apply" -> cdcOracleSql,
    "s23_cdc_apply_stream" -> cdcOracleSql,
    "s23_cdc_stream_delete" ->
      s"""SELECT * FROM ($cdcOracleSql) AS applied
         |WHERE id NOT BETWEEN $StreamDeleteFrom AND $StreamDeleteTo""".stripMargin,
    // the pruned merge must land the SAME state a full-rewrite apply would:
    // the oracle replays the whole clustered feed apply in SQL (one change
    // per key, so no fold needed)
    "s23_cdc_merge_pruned" ->
      s"""WITH base AS (
         |  SELECT c_custkey AS id, c_name AS name,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
         |  FROM customer),
         |feed AS (
         |  SELECT c_custkey AS id, 'U' AS op, CAST(c_custkey * 100 AS BIGINT) AS bal_c
         |  FROM customer WHERE c_custkey BETWEEN $PrunedUpdFrom AND $PrunedUpdTo
         |  UNION ALL
         |  SELECT c_custkey, 'D', CAST(NULL AS BIGINT)
         |  FROM customer WHERE c_custkey BETWEEN $PrunedDelFrom AND $PrunedDelTo
         |  UNION ALL
         |  SELECT $InsertBase + i.range, 'I', CAST(i.range * 7 AS BIGINT)
         |  FROM range($PrunedInserts) i)
         |SELECT coalesce(b.id, f.id) AS id,
         |  CASE WHEN f.id IS NULL THEN b.name
         |       ELSE coalesce(b.name, 'cdc_inserted') END AS name,
         |  CASE WHEN f.id IS NULL THEN b.bal_c ELSE f.bal_c END AS bal_c
         |FROM base b FULL OUTER JOIN feed f ON b.id = f.id
         |WHERE f.id IS NULL OR f.op <> 'D'""".stripMargin,
    // the bloom-pruned merge must land the SAME state a full-rewrite upsert
    // would: the oracle replays the doc_hash upsert with DuckDB's own md5
    "s23_cdc_merge_bloom" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, source, n_chars,
         |    md5(CAST(doc_id AS VARCHAR)) AS doc_hash
         |  FROM documents),
         |changes AS (
         |  SELECT doc_hash, doc_id, lang, source, doc_id * 1000 AS n_chars
         |  FROM base WHERE doc_id IN (${BloomMergeUpdIds.mkString(", ")})
         |  UNION ALL
         |  SELECT md5(CAST($InsertBase + i.range AS VARCHAR)),
         |    $InsertBase + i.range, 'xx', 'cdc', ($InsertBase + i.range) * 11
         |  FROM range($BloomMergeInserts) i),
         |merged AS (
         |  SELECT coalesce(c.doc_id, b.doc_id) AS doc_id,
         |    coalesce(c.source, b.source) AS source,
         |    coalesce(c.n_chars, b.n_chars) AS n_chars
         |  FROM base b FULL OUTER JOIN changes c ON b.doc_hash = c.doc_hash)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM merged GROUP BY source""".stripMargin)
}
