package graft.sinks

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.Tables

/** COMPOSITE-KEY file-granular operations (r19 verdict item 1, its
  * top-next): the reference's natural conflict keys are TUPLES — the
  * mention upsert on (poi_id, url) (utils/database.py:776-801), the batch
  * path on (poi_id, source_id) (:927-930), api_usage on (date, api_type)
  * (utils/api_usage.py:14-46) — and until now those rode the full-rewrite
  * MergeSink kernels: correct, but 100% write amplification per batch.
  * This module generalizes the single-column prune to key tuples so a
  * composite-keyed changeset rewrites only the files that can hold a
  * matched ROW:
  *
  *  - **Conjunctive hull veto.** A file can contain tuple (a, b) only if
  *    its per-column [min,max] hulls admit BOTH components — the same
  *    per-column stats the sidecar already holds ([[KeyStats]]), no new
  *    metadata. [[FileAdmission]] tests each collected tuple exactly;
  *    past [[KeyedMerge.DriverKeyThreshold]] tuples a file must be hit on
  *    every column by the distributed boundary-index lookup.
  *  - **Composite bloom over canonical tuple bytes.** On keys whose hulls
  *    prune nothing (two hash columns), the tuple gets its own bloom
  *    under ONE sidecar/manifest column — the component names joined by
  *    [[Sep]] — hashing the LENGTH-FRAMED concatenation of each
  *    component's canonical bytes (8-byte big-endian longs, UTF-8
  *    strings; framing keeps ("ab","c")≠("a","bc")). One build serves
  *    both arities and both backends ([[KeyBloom.wordRows]] over
  *    [[keyBytes]]) with the same double-hash walk as every probe, so
  *    [[KeyBloom.indexKeyBloom]] and [[BloomManifest.indexBloomManifest]]
  *    take one column or a tuple alike; staging passes self-maintain
  *    composite rows whenever every component survives the rewrite.
  *
  * One key column and several take the same admission
  * ([[FileAdmission]]): a single key is a 1-tuple. NULL semantics match
  * the rest of the stats ladder: a tuple with any NULL component is not a
  * key (matches nothing, prunes nothing, passes every survivor filter). */
object CompositeKey {

  /** Separator of component names inside a composite sidecar/manifest
    * column name — a control byte no real column name contains. */
  val Sep = "\u0001"

  def colName(keyCols: Seq[String]): String = keyCols.mkString(Sep)

  /** A column name's components — itself when not composite. */
  def componentsOf(cname: String): Seq[String] =
    if (cname.contains(Sep)) cname.split(Sep).toSeq else Seq(cname)

  def isComposite(cname: String): Boolean = cname.contains(Sep)

  /** Component kinds ("long" | "string") from a schema; None when any
    * component's type has no canonical-bytes family (callers fall back
    * to the conservative touch-everything branch). */
  def kindsOf(schema: StructType, keyCols: Seq[String]): Option[Seq[String]] = {
    val kinds = keyCols.map { c =>
      schema(c).dataType match {
        case LongType | IntegerType => Some("long")
        case StringType => Some("string")
        case _ => None
      }
    }
    if (kinds.exists(_.isEmpty)) None else Some(kinds.map(_.get))
  }

  /** The bloom-row kind of a tuple — component kinds are part of the
    * identity, so a probe whose changeset types drifted from the build's
    * ignores the rows (conservative) instead of hashing different bytes. */
  def kindName(kinds: Seq[String]): String = "tuple:" + kinds.mkString(",")

  /** The bloom column and row kind of a key over `keyCols`: one column
    * keeps its own name and kind, several share [[colName]] and
    * [[kindName]]. */
  private[sinks] def bloomId(keyCols: Seq[String], kinds: Seq[String]): (String, String) =
    (colName(keyCols), if (kinds.size == 1) kinds.head else kindName(kinds))

  private def canonicalBytes(kind: String, v: Any): Array[Byte] = kind match {
    case "long" => KeyBloom.longBytes(v.asInstanceOf[Number].longValue)
    case "string" => KeyBloom.stringBytes(v.asInstanceOf[String])
    case k => throw new IllegalArgumentException(s"unsupported kind $k")
  }

  /** Length-framed canonical tuple bytes: per component a 4-byte
    * big-endian length then the component's canonical bytes. The framing
    * is what makes the encoding injective — unframed concatenation would
    * alias ("ab","c") with ("a","bc"). */
  def tupleBytes(kinds: Seq[String], values: Seq[Any]): Array[Byte] = {
    val parts = kinds.zip(values).map { case (k, v) => canonicalBytes(k, v) }
    val bb = java.nio.ByteBuffer.allocate(parts.map(_.length + 4).sum)
    parts.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }

  /** A key's bloom bytes, for every build and probe site: one column's
    * canonical bytes (8-byte big-endian long, UTF-8 string), several
    * columns' [[tupleBytes]]. */
  private[graft] def keyBytes(kinds: Seq[String], values: Seq[Any]): Array[Byte] =
    if (kinds.size == 1) canonicalBytes(kinds.head, values.head)
    else tupleBytes(kinds, values)

  /** Executor-side [[keyBytes]] column over `struct(keyCols)` — the
    * build and probe sides share the bytes exactly. NULL when any
    * component is NULL (a null tuple is not a key). Callers must pre-cast
    * integer components to LONG. */
  private[sinks] def bytesUdf(kinds: Seq[String]) = udf { (r: Row) =>
    val n = kinds.length
    var i = 0
    var ok = true
    while (i < n && ok) { if (r.isNullAt(i)) ok = false; i += 1 }
    if (!ok) null
    else keyBytes(kinds, (0 until n).map(r.get))
  }

  /** The normalized key projection: integer components cast to LONG so
    * collected values, bloom bytes, and predicates agree on one family. */
  private[sinks] def keySelect(kinds: Seq[String], keyCols: Seq[String]): Seq[Column] =
    kinds.zip(keyCols).map {
      case ("long", c) => col(c).cast("long").as(c)
      case (_, c) => col(c)
    }

  /** Literal tuple membership — an IN list for one column, OR-of-ANDs for
    * several; scan-pushable while the tuple set is small (the
    * [[TargetedDelete.IsinKeyThreshold]] tiering). */
  private[sinks] def matchPredicate(keyCols: Seq[String],
      tuples: Seq[Seq[Any]]): Column =
    if (keyCols.size == 1) col(keyCols.head).isin(tuples.map(_.head): _*)
    else tuples.map(t =>
      keyCols.zip(t).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
      .foldLeft(lit(false))(_ || _)

  /** One-frame form of a tuple set, for the semi/anti joins past the
    * literal threshold. */
  private[sinks] def tupleFrame(spark: SparkSession, keyCols: Seq[String],
      kinds: Seq[String], tuples: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType(keyCols.zip(kinds).map {
      case (c, "long") => StructField(c, LongType)
      case (c, _) => StructField(c, StringType)
    })
    spark.createDataFrame(
      java.util.Arrays.asList(tuples.map(t => Row(t: _*)): _*), schema)
  }

  // ---- declared queries ---------------------------------------------------

  def tableRoot(dir: String): String =
    "spark-warehouse/s24_mentions_" + new java.io.File(dir).getName

  /** The mention-shaped fixture: (poi_id, url) is the natural key —
    * poi_id deliberately LOW-cardinality (doc_id % 4) so the first column
    * alone cannot prune past ~1/4 of the files and the CONJUNCTION with
    * the url hull does the work. Layout clustered on the key tuple. */
  val MentionFiles = 32
  val MentionPoiMod = 4

  private[sinks] def mentionsOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      (col("doc_id") % MentionPoiMod).as("poi_id"),
      concat(lit("https://"), col("source"), lit("/d"),
        col("doc_id").cast("string")).as("url"),
      col("doc_id"), col("n_chars").cast("long").as("score"))

  private def commitMentions(spark: SparkSession, dir: String, root: String): Unit = {
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(
      mentionsOf(spark, dir)
        .repartitionByRange(MentionFiles, col("poi_id"), col("url"))
        .sortWithinPartitions(col("poi_id"), col("url")),
      root, statsCols = Seq("poi_id", "url"))
  }

  /** The upserted/deleted doc ids — present at every SF (ids < 500). */
  val MentionChangeIds: Seq[Long] = Seq(7L, 143L, 421L)
  val MentionNewScore = 999999L

  /** PREMISE gate shared by the merge/delete queries: from the committed
    * sidecar alone, the FIRST key column's hulls admit ≥ `atLeast` files
    * for the changeset's poi ids — single-key pruning is structurally
    * insufficient on the low-cardinality leading column, so a small
    * composite rewrite below proves the CONJUNCTION did the work. */
  private def requireFirstColInsufficient(root: String, poiIds: Seq[Long],
      atLeast: Int, gate: String): Int = {
    val live = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no live version at $root"))
    val hulls = KeyStats.loadStats(Paths.get(root, live)).collect {
      case ((f, c), r) if c == "poi_id" && r.kind == "long" => (f, r)
    }
    val n = hulls.count { case (_, r) =>
      poiIds.exists(p => r.min.toLong <= p && p <= r.max.toLong)
    }
    if (n < atLeast)
      throw new IllegalStateException(
        s"fixture premise broken for $gate: poi_id hulls admit only $n files " +
          s"(want >= $atLeast) — the first column alone would already prune")
    n
  }

  private def mentionAgg(df: DataFrame): DataFrame =
    df.groupBy(col("poi_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("score")).as("sum_score"),
        sum(col("doc_id")).as("sum_doc"))

  /** COMPOSITE-KEY FILE-GRANULAR MERGE — the reference's mention upsert on
    * (poi_id, url), through the pruned path. THROWS unless the table is in
    * the >= 24-file regime, the first column alone would have touched >= 4
    * files (premise: conjunction required), the prune decided with ZERO
    * footer reads from the committed sidecar, at most 3 files rewrote
    * (3 update pairs + 1 net-new pair whose url sorts below every hull),
    * and at least one reused file is INODE-identical to its predecessor
    * (hard-linked, not copied). The oracle replays the same upsert + insert
    * in SQL — the hash row value-checks prune, kernel, link reuse, and the
    * self-maintained sidecar end to end. */
  def qS24CompositeMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_merge"
    commitMentions(spark, dir, root)
    val prevV = AtomicTable.currentVersion(root).get
    val mentions = mentionsOf(spark, dir)
    val changes = mentions.filter(col("doc_id").isin(MentionChangeIds: _*))
      .select(col("poi_id"), col("url"), lit(MentionNewScore).as("new_score"))
      .unionAll(spark.range(1).select(lit(2L).as("poi_id"),
        lit("https://new/d999").as("url"), lit(1234L).as("new_score")))
    requireFirstColInsufficient(root,
      MentionChangeIds.map(_ % MentionPoiMod) :+ 2L, 4, "s24_composite_merge")
    val ms = KeyedMerge.merge(spark, root,
      Seq("poi_id", "url"), changes,
      (base, c) => base.join(c, Seq("poi_id", "url"), "full_outer")
        .select(col("poi_id"), col("url"),
          coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
          coalesce(col("new_score"), col("score")).as("score")))
    if (ms.totalFiles < 24 || ms.footerReads != 0 || ms.rewrittenFiles > 3 ||
        ms.rewrittenFiles < 1 || ms.reusedFiles < ms.totalFiles - 3)
      throw new IllegalStateException(
        s"composite merge did not prune: $ms (want >=24 files, footerReads=0, " +
          "1 <= rewritten <= 3)")
    // link reuse is a hard-link, by inode testimony
    val curDir = Paths.get(root, AtomicTable.currentVersion(root).get)
    val prevDir = Paths.get(root, prevV)
    val reusedName = TargetedDelete.partFiles(curDir)
      .map(_.getFileName.toString)
      .find(n => java.nio.file.Files.exists(prevDir.resolve(n)))
      .getOrElse(throw new IllegalStateException("no reused file name found"))
    if (!KeyedMerge.sameInode(prevDir.resolve(reusedName), curDir.resolve(reusedName)))
      throw new IllegalStateException(
        s"reused file $reusedName was copied or rewritten, not hard-linked")
    mentionAgg(AtomicTable.read(spark, root))
  }

  /** COMPOSITE-KEY FILE-GRANULAR DELETE — remove exact (poi_id, url) pairs
    * (plus one absent pair, which must prune to nothing extra) through the
    * same conjunctive assignment; the anti-join kernel rides the merge
    * staging, so link reuse and sidecar self-maintenance are shared. Gates
    * mirror the merge. */
  def qS24CompositeDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_del"
    commitMentions(spark, dir, root)
    val mentions = mentionsOf(spark, dir)
    val pairs = mentions.filter(col("doc_id").isin(MentionChangeIds: _*))
      .select(col("poi_id"), col("url"))
      .unionAll(spark.range(1).select(lit(1L).as("poi_id"),
        lit("https://absent/d0").as("url")))
    requireFirstColInsufficient(root,
      MentionChangeIds.map(_ % MentionPoiMod) :+ 1L, 4, "s24_composite_delete")
    val ms = TargetedDelete.deleteTupleKeys(spark, root, Seq("poi_id", "url"), pairs)
    if (ms.totalFiles < 24 || ms.footerReads != 0 || ms.rewrittenFiles > 3 ||
        ms.reusedFiles < ms.totalFiles - 3)
      throw new IllegalStateException(
        s"composite delete did not prune: $ms (want >=24 files, footerReads=0, " +
          "rewritten <= 3)")
    mentionAgg(AtomicTable.read(spark, root))
  }

  /** PREMISE gate of the two (h1, h2) bloom queries, from the committed
    * sidecar alone: the table holds >= `minFiles` files and even the
    * CONJUNCTION of both hash hulls admits at least half of them for
    * `tuples` — scattered keys, so the tuple bloom does the pruning. */
  private def requireHullsPowerless(root: String, tuples: Seq[Seq[Any]],
      minFiles: Int, why: String): Unit = {
    val live = Paths.get(root, AtomicTable.currentVersion(root).get)
    val hulls = KeyStats.loadStats(live)
    val files = TargetedDelete.partFiles(live).map(_.getFileName.toString)
    val statsPlanned = files.count { n =>
      tuples.exists(t => Seq("h1", "h2").zipWithIndex.forall { case (c, i) =>
        val r = hulls.getOrElse((n, c), KeyStats.StatRow("none", "", ""))
        r.kind != "string" ||
          (KeyStats.Utf8Order.compare(r.min, t(i).asInstanceOf[String]) <= 0 &&
            KeyStats.Utf8Order.compare(t(i).asInstanceOf[String], r.max) <= 0)
      })
    }
    if (files.size < minFiles || statsPlanned < files.size / 2)
      throw new IllegalStateException(
        s"fixture premise broken: conjunctive hulls planned $statsPlanned of " +
          s"${files.size} (want >= half of >= $minFiles)$why")
  }

  /** The probed ids — distinct from the merge set so fixtures stay
    * independent; < 500 at every SF. */
  val BloomTupleIds: Seq[Long] = Seq(11L, 222L, 433L)
  val BloomTupleFiles = 24

  /** COMPOSITE BLOOM ON SCATTERED COLUMNS, decided DISTRIBUTED: the corpus
    * carries two hash keys (h1, h2) no layout clusters — per-column hulls
    * admit ~every file even CONJUNCTIVELY (asserted premise) — and the
    * tuple bloom manifest ([[BloomManifest.indexBloomManifest]] on (h1, h2):
    * length-framed concatenated bytes under one manifest column) is the
    * only thing standing between a point tuple lookup and a full scan.
    * THROWS unless the premise holds, the read plans <= 6 of >= 24 files
    * with zero footer reads, and no TSV bloom row ever materialized on the
    * driver (the loadCalls counter stays flat — the decision was the
    * distributed join alone). The oracle recomputes both md5 keys in SQL. */
  def qS24CompositeReadBloom(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_bloom"
    AtomicTable.deleteRecursively(Paths.get(root))
    val docs = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("n_chars"),
      md5(col("doc_id").cast("string")).as("h1"),
      md5((col("doc_id") * 31 + 7).cast("string")).as("h2"))
    val nRows = docs.count()
    AtomicTable.commit(
      docs.repartitionByRange(BloomTupleFiles, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, statsCols = Seq("h1", "h2"))
    val tuples: Seq[Seq[Any]] = BloomTupleIds.map(i =>
      Seq[Any](KeyBloom.md5hex(i.toString), KeyBloom.md5hex((i * 31 + 7).toString)))
    // premise from the sidecar alone: scattered keys, hulls powerless,
    // the tuple bloom is load-bearing
    requireHullsPowerless(root, tuples, 24,
      " — the tuple bloom is not load-bearing here")
    KeyBloom.loadCalls.get() // touch to force init before the flat check
    val loads0 = KeyBloom.loadCalls.get()
    BloomManifest.indexBloomManifest(spark, root, Seq("h1", "h2"),
      KeyBloom.bitsFor(nRows / BloomTupleFiles + 1))
    val (df, rs) = StatsRead.readTupleIn(spark, root, Seq("h1", "h2"),
      tupleFrame(spark, Seq("h1", "h2"), Seq("string", "string"), tuples))
    if (rs.footerReads != 0 || rs.filesRead > 6 || rs.filesRead < 1 ||
        rs.manifestFiles != rs.totalFiles)
      throw new IllegalStateException(
        s"composite bloom read did not skip: $rs (want footerReads=0, " +
          "1 <= filesRead <= 6, manifestFiles=totalFiles)")
    if (KeyBloom.loadCalls.get() != loads0)
      throw new IllegalStateException(
        "the composite probe materialized a TSV bloom on the driver")
    df.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  /** Rank-picked probe tuples for the ≥10³-file regime — distinct from
    * the single-key sharded query's ranks so fixtures stay independent. */
  val CompShardProbeRanks: Seq[Int] = Seq(2, 120, 280)

  /** The two-hash lineitem slice (SF-stable: orderkeys < ShardKeyMax). */
  private def compShardSource(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < StatsRead.ShardKeyMax)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .withColumn("h1",
        md5((col("l_orderkey") * 8 + col("l_linenumber")).cast("string")))
      .withColumn("h2",
        md5(((col("l_orderkey") * 8 + col("l_linenumber")) * 31 + 7).cast("string")))

  /** Build (or reuse) the ≥10³-file composite-manifest fixture — the
    * [[StatsRead.ensureShardFixture]] caching contract applied to the
    * tuple column. */
  private def ensureCompShardFixture(spark: SparkSession, dir: String,
      root: String): Unit = {
    val cname = colName(Seq("h1", "h2"))
    val reusable = AtomicTable.currentVersion(root).exists { v =>
      val vDir = Paths.get(root, v)
      val covered = BloomManifest.loadHeader(vDir)
        .count { case ((_, c), _) => c == cname }
      covered >= 1000 && TargetedDelete.partFiles(vDir).size == covered &&
        BloomManifest.shardDir(vDir).isDefined &&
        !java.nio.file.Files.exists(vDir.resolve(KeyBloom.BloomFile))
    }
    if (!reusable) {
      AtomicTable.deleteRecursively(Paths.get(root))
      AtomicTable.commit(
        compShardSource(spark, dir)
          .repartitionByRange(StatsRead.ShardFiles,
            col("l_orderkey"), col("l_linenumber"))
          .sortWithinPartitions(col("l_orderkey"), col("l_linenumber")),
        root, statsCols = Seq("h1", "h2"))
      // PRODUCTION bloom sizing (the bitsFor cap) — the sizing whose dense
      // TSV twin could never ride the driver at this file count
      BloomManifest.indexBloomManifest(spark, root, Seq("h1", "h2"),
        bits = 1 << 26)
    }
  }

  /** THE COMPOSITE PRUNE AT ≥10³ FILES (the single-key sharded proof,
    * tuple-shaped): two scattered hash columns over ≥1000 files, bloomed
    * ONLY through the composite manifest at production bits. THROWS unless
    * the conjunctive hulls alone still plan ≥ half of ≥1000 files
    * (premise: scattered on both axes), the tuple probe plans ≤6 files
    * with zero footer reads decided fully distributed (manifestFiles ==
    * totalFiles), and no TSV bloom row ever materialized on the driver
    * (loadCalls flat). The oracle recomputes both md5 keys by rank, so
    * the hash row value-checks the distributed tuple probe end to end. */
  def qS24CompositeSharded(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(dir) + "_shard"
    ensureCompShardFixture(spark, dir, root)
    val ranked = compShardSource(spark, dir)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .select(col("h1"), col("h2")).limit(CompShardProbeRanks.max).collect()
    val tuples: Seq[Seq[Any]] = CompShardProbeRanks
      .map(r => Seq[Any](ranked(r - 1).getString(0), ranked(r - 1).getString(1)))
      .distinct
    requireHullsPowerless(root, tuples, 1000, "")
    val loads0 = KeyBloom.loadCalls.get()
    val (df, rs) = StatsRead.readTupleIn(spark, root, Seq("h1", "h2"),
      tupleFrame(spark, Seq("h1", "h2"), Seq("string", "string"), tuples))
    if (rs.footerReads != 0 || rs.filesRead > 6 || rs.filesRead < 1 ||
        rs.manifestFiles != rs.totalFiles)
      throw new IllegalStateException(
        s"sharded composite read did not skip distributed: $rs " +
          "(want footerReads=0, 1 <= filesRead <= 6, manifestFiles=totalFiles)")
    if (KeyBloom.loadCalls.get() != loads0)
      throw new IllegalStateException(
        "the composite probe materialized a TSV bloom on the driver")
    df.agg(count(lit(1)).as("n_rows"),
      round(sum(col("l_quantity")), 4).as("sum_qty"),
      sum(col("l_orderkey") * 8 + col("l_linenumber")).as("sum_keys"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s24_composite_merge" -> (qS24CompositeMerge _),
    "s24_composite_delete" -> (qS24CompositeDelete _),
    "s24_composite_read_bloom" -> (qS24CompositeReadBloom _),
    "s24_composite_sharded" -> (qS24CompositeSharded _))

  private def mentionsSql: String =
    s"""mentions AS (
       |  SELECT doc_id % $MentionPoiMod AS poi_id,
       |    'https://' || source || '/d' || CAST(doc_id AS VARCHAR) AS url,
       |    doc_id, CAST(n_chars AS BIGINT) AS score
       |  FROM documents)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the upsert pins every (poi_id, url) pair derived from the fixed doc
    // ids (url embeds doc_id, so pair-match == id-match) and appends the
    // net-new pair
    "s24_composite_merge" ->
      s"""WITH $mentionsSql,
         |merged AS (
         |  SELECT poi_id,
         |    CASE WHEN doc_id IN (${MentionChangeIds.mkString(", ")})
         |         THEN $MentionNewScore ELSE score END AS score,
         |    doc_id
         |  FROM mentions
         |  UNION ALL SELECT 2, 1234, -1)
         |SELECT poi_id, count(*) AS n_rows,
         |  CAST(sum(score) AS BIGINT) AS sum_score,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc
         |FROM merged GROUP BY poi_id""".stripMargin,
    "s24_composite_delete" ->
      s"""WITH $mentionsSql
         |SELECT poi_id, count(*) AS n_rows,
         |  CAST(sum(score) AS BIGINT) AS sum_score,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc
         |FROM mentions
         |WHERE doc_id NOT IN (${MentionChangeIds.mkString(", ")})
         |GROUP BY poi_id""".stripMargin,
    // both md5 keys recomputed by rank; the probe tuples join back by the
    // PAIR, so the hash row value-checks tuple-match semantics at 10^3
    // files ((l_orderkey, l_linenumber) is not unique in the synthetic
    // data — duplicate-key rows must all come back, hence the DISTINCT
    // probe + pair join, the same convention as the single-key sharded
    // oracle's IN)
    "s24_composite_sharded" ->
      s"""WITH src AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity,
         |    md5(CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)) AS h1,
         |    md5(CAST((l_orderkey * 8 + l_linenumber) * 31 + 7 AS VARCHAR)) AS h2,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
         |  FROM lineitem WHERE l_orderkey < ${StatsRead.ShardKeyMax}),
         |probe AS (SELECT DISTINCT h1, h2 FROM src
         |          WHERE rn IN (${CompShardProbeRanks.mkString(", ")}))
         |SELECT count(*) AS n_rows,
         |  CAST(round(sum(l_quantity), 4) AS DOUBLE) AS sum_qty,
         |  CAST(sum(l_orderkey * 8 + l_linenumber) AS BIGINT) AS sum_keys
         |FROM src JOIN probe USING (h1, h2)""".stripMargin,
    // both md5 keys recomputed in SQL: tuple membership == id membership
    // (urls/hashes are injective in doc_id)
    "s24_composite_read_bloom" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE (md5(CAST(doc_id AS VARCHAR)),
         |       md5(CAST(doc_id * 31 + 7 AS VARCHAR))) IN
         |  (${BloomTupleIds.map(i =>
              s"(md5('$i'), md5('${i * 31 + 7}'))").mkString(", ")})
         |GROUP BY lang""".stripMargin)
}
