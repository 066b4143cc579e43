package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** PER-FILE BLOOM SIDECAR — point-lookup skipping on UNCLUSTERED keys (r17
  * verdict item 2). Min/max statistics prune nothing on a randomly-ordered
  * column: every file's [min,max] on a hash key spans ~the whole key space,
  * so a min/max-pruned point lookup over a non-hash-clustered corpus plans
  * every file.
  * This is the Delta bloom-index move: one bloom filter per (file, column)
  * in a `_KEYBLOOM.tsv` beside `_KEYSTATS.tsv`, probed BEFORE min/max — a
  * "seen this doc-hash?" probe (the incremental dedup gate's hot question)
  * plans only the files whose blooms admit a key, independent of layout.
  *
  * BUILD is one distributed pass: the unindexed files are read once,
  * each key explodes to its k (wordIdx, bitMask) pairs, and a
  * map-side-combinable `bit_or` per (file, wordIdx) reduces to at most
  * bits/64 longs per file — only those non-zero words reach the driver.
  * Hashing is double-hashed FNV-1a over the key's canonical bytes (8-byte
  * big-endian for integers, UTF-8 for strings), the SAME pure function on
  * executors (build) and driver (probe) — no dependence on Spark's seeded
  * hash builtins.
  *
  * SIZING: fpp ≈ (1 − e^(−k·n/m))^k — at the default m=2¹⁴ bits (2 KB/file)
  * and k=7, a 2000-row file probes at ~2% fpp; size `bits` ≈ 10× expected
  * rows per file. SCALE BOUNDARY, stated honestly: this TSV sidecar is
  * driver-materialized like `_KEYSTATS`, so at the PRODUCTION sizing
  * ([[bitsFor]]'s 8 MB/file cap) it serves only ~10³ production files —
  * it is the SMALL-TABLE FAST PATH. Past it, [[BloomManifest]] (r19) is
  * the same probe contract served distributed: blooms as sharded parquet
  * inside the version directory, probed as a join that collects only
  * admitted file names, self-maintained as a delta ledger — opt in with
  * [[BloomManifest.indexBloomManifest]]; every probe site consults both
  * backends. Staging rewrites additionally write parquet's NATIVE column
  * blooms for row-group-level skipping inside touched files.
  *
  * MAINTENANCE: delete/merge/compaction/recluster SELF-MAINTAIN the bloom
  * exactly like `_KEYSTATS` ([[maintainStage]]): hard-LINKED files carry
  * their rows (same bytes, same bloom), freshly staged files get rows
  * REBUILT on every column the predecessor bloomed — one pass over only
  * the just-written bytes. A bloomed table stays bloomed, version after
  * version. */
object KeyBloom {

  val BloomFile = "_KEYBLOOM.tsv"
  val DefaultBits: Int = 1 << 14
  val NumHashes = 7

  /** Power-of-two bits sized for ~`rowsPerFile` keys: m ≈ 16n (rounded up
    * to a power of two, floored at [[DefaultBits]]) gives fpp ≤ ~0.1% at
    * k=7 — callers that know their layout's rows-per-file MUST size with
    * this instead of assuming the default fits (a bloom built at fixed bits
    * degrades toward admit-everything as files grow; a query gating on
    * filesRead would then fail at a larger SF even though the code is
    * correct). Capped at 2²⁶ bits = 8 MB/file — past that, use parquet's
    * native blooms. */
  def bitsFor(rowsPerFile: Long): Int = {
    val want = math.max(DefaultBits.toLong, rowsPerFile * 16L)
    val p2 = java.lang.Long.highestOneBit(math.max(1L, want - 1)) << 1
    math.min(p2, 1L << 26).toInt
  }

  /** One (file, column) bloom: `kind` is the key's canonical-bytes family
    * ("long" | "string") — a probe of the other family ignores the row
    * (conservative fallback) rather than probing bytes hashed differently. */
  final case class BloomRow(kind: String, bits: Int, k: Int, words: Array[Long]) {
    def mightContain(keyBytes: Array[Byte]): Boolean = {
      val (h1, h2) = hashPair(keyBytes)
      var i = 0
      while (i < k) {
        val pos = (((h1 + i * h2) % bits + bits) % bits).toInt
        if ((words(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }

  /** Double hash: FNV-1a 64 under two offset bases, each finalized with a
    * splitmix64 avalanche (raw FNV's low bits are weak for double hashing).
    * h2 is forced ODD so the probe sequence walks every residue. */
  private[sinks] def hashPair(bytes: Array[Byte]): (Long, Long) = {
    def fnv(basis: Long): Long = {
      var h = basis
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xffL)
        h *= 0x100000001b3L
        i += 1
      }
      // splitmix64 finalizer
      h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
      h ^= (h >>> 27); h *= 0x94d049bb133111ebL
      h ^ (h >>> 31)
    }
    val h1 = fnv(0xcbf29ce484222325L)
    val h2 = fnv(0x84222325cbf29ce4L) | 1L
    (h1, h2)
  }

  /** md5 hex of a UTF-8 string — the driver-side twin of SQL `md5()`.
    * ONE copy (review catch r20): both sides of the oracle hash contract
    * depend on this exact byte/format recipe, so the declared fixtures
    * must share it rather than re-derive it. */
  private[graft] def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private[sinks] def longBytes(k: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(k).array()
  private[sinks] def stringBytes(s: String): Array[Byte] =
    s.getBytes(StandardCharsets.UTF_8)

  /** Probe the slice of `keys` (sorted under `ord`) a file's [lo,hi] hull
    * admits; true iff any key might be present. Parquet writer-truncated
    * bounds only WIDEN the slice, never narrow it. Early-exits on the first
    * maybe. Shared by the merge and delete prunes. */
  private[sinks] def sliceMaybe[K](b: BloomRow, keys: Array[K], lo: K, hi: K,
      ord: Ordering[K], bytes: K => Array[Byte]): Boolean = {
    var l = 0; var h = keys.length // lower_bound(lo)
    while (l < h) { val m = (l + h) >>> 1; if (ord.lt(keys(m), lo)) l = m + 1 else h = m }
    var i = l
    while (i < keys.length && ord.lteq(keys(i), hi)) {
      if (b.mightContain(bytes(keys(i)))) return true
      i += 1
    }
    false
  }

  /** The k bit positions of a key, packed as (wordIdx, bitMask) — the build
    * side's explode payload; the probe side recomputes the same walk in
    * [[BloomRow.mightContain]]. */
  private def wordMasks(bytes: Array[Byte], bits: Int): Array[(Int, Long)] = {
    val (h1, h2) = hashPair(bytes)
    Array.tabulate(NumHashes) { i =>
      val pos = (((h1 + i * h2) % bits + bits) % bits).toInt
      (pos >>> 6, 1L << (pos & 63))
    }
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** The columns of `file` whose type family both bloom backends accept —
    * ONE schema open shared by the TSV and manifest maintenance passes
    * (a retyped column lapses like a dropped one). */
  private[sinks] def bloomableCols(spark: SparkSession, file: Path): Set[String] =
    Footers.schema(spark, file).fields.collect {
      case f if Set[org.apache.spark.sql.types.DataType](
        LongType, IntegerType, StringType)(f.dataType) => f.name
    }.toSet

  /** TEST-ONLY instrumentation (the [[KeyStats.footerOpens]] pattern):
    * how many times the TSV sidecar was driver-materialized. The sharded
    * manifest's declared query asserts its probe left this counter
    * untouched — the prune decision provably ran without loading a bloom
    * row onto the driver. */
  private[graft] val loadCalls = new java.util.concurrent.atomic.AtomicLong(0L)

  def loadBlooms(versionDir: Path): Map[(String, String), BloomRow] = {
    val p = versionDir.resolve(BloomFile)
    // counted only when a sidecar actually materializes (a missing file
    // loads nothing — a manifest-backed table stays at zero)
    if (!Files.exists(p)) Map.empty
    else {
      loadCalls.incrementAndGet()
      Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
        val a = line.split("\t", 6)
        val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(a(5)))
        val words = new Array[Long](bb.remaining() / 8)
        bb.asLongBuffer().get(words)
        (dec(a(0)), dec(a(1))) -> BloomRow(a(2), a(3).toInt, a(4).toInt, words)
      }.toMap
    }
  }

  def writeBlooms(versionDir: Path, rows: Map[(String, String), BloomRow]): Unit = {
    val body = rows.toSeq.sortBy(_._1).map { case ((f, c), r) =>
      val bb = java.nio.ByteBuffer.allocate(r.words.length * 8)
      bb.asLongBuffer().put(r.words)
      s"${enc(f)}\t${enc(c)}\t${r.kind}\t${r.bits}\t${r.k}\t" +
        java.util.Base64.getEncoder.encodeToString(bb.array())
    }.mkString("\n")
    val tmp = versionDir.resolve(s".$BloomFile.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, versionDir.resolve(BloomFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The build core: ONE distributed pass over `files` for `keyCol` at
    * `bits` (`input_file_name` grouping — no per-file jobs), `bit_or`-
    * reduced to non-zero words. A 0-row file gets an all-zero bloom (every
    * probe misses — whole-file skip, correct by construction). */
  private def buildRows(spark: SparkSession, files: Seq[Path], keyCol: String,
      bits: Int): Map[(String, String), BloomRow] = {
    require(bits >= 64 && (bits & (bits - 1)) == 0, s"bits must be a power of two >= 64: $bits")
    if (files.isEmpty) return Map.empty
    val kind = Footers.schema(spark, files.head)(keyCol).dataType match {
      case LongType | IntegerType => "long"
      case StringType => "string"
      case t => throw new IllegalArgumentException(
        s"bloom index supports BIGINT/INT/STRING keys, not $t")
    }
    val masks =
      if (kind == "long") udf((k: java.lang.Long) =>
        if (k == null) Array.empty[(Int, Long)] else wordMasks(longBytes(k), bits))
      else udf((s: String) =>
        if (s == null) Array.empty[(Int, Long)] else wordMasks(stringBytes(s), bits))
    val collected = Footers.read(spark, files)
      .select(input_file_name().as("f"), explode(masks(col(keyCol))).as("m"))
      .groupBy(col("f"), col("m._1").as("w"))
      .agg(expr("bit_or(m._2)").as("word"))
      .collect()
    val byFile = collected.groupBy(r => Paths.get(new java.net.URI(r.getString(0)).getPath)
      .getFileName.toString)
    files.map { f =>
      val name = f.getFileName.toString
      val words = new Array[Long](bits >>> 6)
      byFile.getOrElse(name, Array.empty).foreach { r =>
        words(r.getInt(1)) |= r.getLong(2)
      }
      (name, keyCol) -> BloomRow(kind, bits, NumHashes, words)
    }.toMap
  }

  /** [[buildRows]] for a COMPOSITE key: one distributed pass hashing the
    * LENGTH-FRAMED canonical tuple bytes ([[CompositeKey.tupleBytes]]) —
    * rows land under the single composite column name with the tuple's
    * kind string, so probes of drifted component types ignore them. A row
    * with any NULL component contributes nothing (a null tuple is not a
    * key). */
  private def buildRowsTuple(spark: SparkSession, files: Seq[Path],
      keyCols: Seq[String], bits: Int): Map[(String, String), BloomRow] = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64: $bits")
    if (files.isEmpty) return Map.empty
    val schema = Footers.schema(spark, files.head)
    val kinds = CompositeKey.kindsOf(schema, keyCols).getOrElse(
      throw new IllegalArgumentException(
        s"composite bloom supports BIGINT/INT/STRING components, got " +
          keyCols.map(c => schema(c).dataType).mkString(", ")))
    val cname = CompositeKey.colName(keyCols)
    val kind = CompositeKey.kindName(kinds)
    val masks = udf((b: Array[Byte]) =>
      if (b == null) Array.empty[(Int, Long)] else wordMasks(b, bits))
    val bytesCol = CompositeKey.bytesUdf(kinds)(
      struct(CompositeKey.keySelect(kinds, keyCols): _*))
    val collected = Footers.read(spark, files)
      .select(input_file_name().as("f"), explode(masks(bytesCol)).as("m"))
      .groupBy(col("f"), col("m._1").as("w"))
      .agg(expr("bit_or(m._2)").as("word"))
      .collect()
    val byFile = collected.groupBy(r =>
      Paths.get(new java.net.URI(r.getString(0)).getPath).getFileName.toString)
    files.map { f =>
      val name = f.getFileName.toString
      val words = new Array[Long](bits >>> 6)
      byFile.getOrElse(name, Array.empty).foreach { r =>
        words(r.getInt(1)) |= r.getLong(2)
      }
      (name, cname) -> BloomRow(kind, bits, NumHashes, words)
    }.toMap
  }

  /** [[indexKeyBloom]]'s COMPOSITE twin: bloom the key TUPLE under one
    * sidecar column (the [[CompositeKey.Sep]]-joined component names).
    * Returns the number of files indexed. */
  def indexKeyBloomTuple(spark: SparkSession, root: String,
      keyCols: Seq[String], bits: Int = DefaultBits): Int = {
    require(keyCols.size >= 2, "composite bloom needs >= 2 key columns")
    val live = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no live version at $root"))
    val liveDir = Paths.get(root, live)
    TargetedDelete.requireFlatLayout(liveDir, "composite bloom indexing")
    val cname = CompositeKey.colName(keyCols)
    val old = loadBlooms(liveDir)
    val missing = TargetedDelete.partFiles(liveDir)
      .filter(f => !old.contains((f.getFileName.toString, cname)))
    if (missing.isEmpty) return 0
    writeBlooms(liveDir, old ++ buildRowsTuple(spark, missing, keyCols, bits))
    missing.size
  }

  /** Build (or extend) the LIVE version's `_KEYBLOOM` for `keyCol` over the
    * not-yet-indexed files. Returns the number of files indexed. Metadata
    * augmentation only — data files are never touched. */
  def indexKeyBloom(spark: SparkSession, root: String, keyCol: String,
      bits: Int = DefaultBits): Int = {
    val live = AtomicTable.currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no live version at $root"))
    val liveDir = Paths.get(root, live)
    TargetedDelete.requireFlatLayout(liveDir, "bloom indexing")
    val old = loadBlooms(liveDir)
    val missing = TargetedDelete.partFiles(liveDir)
      .filter(f => !old.contains((f.getFileName.toString, keyCol)))
    if (missing.isEmpty) return 0
    writeBlooms(liveDir, old ++ buildRows(spark, missing, keyCol, bits))
    // first-bloom witness for the advisor's structural-vs-drift call
    Maintenance.recordBloomBaseline(spark, root, keyCol)
    missing.size
  }

  /** parquet-NATIVE bloom write options for every column the sidecar
    * blooms — the ROW-GROUP-level complement of the file-level sidecar,
    * and the documented 10⁶-file scale path: the sidecar prunes FILES from
    * the driver without IO; inside a touched multi-row-group file (128 MB
    * row groups in a 1 GB file at production sizing) the parquet reader
    * prunes ROW GROUPS with the native bloom when Spark pushes an
    * equality/IN filter — standard parquet-mr machinery, no custom reader.
    * Staging rewrites apply these automatically whenever the predecessor
    * version carries a `_KEYBLOOM` row for the column (sidecar presence IS
    * the opt-in — a metadata-only decision); table builders can pass the
    * same options to any initial write. At local test sizes every file is
    * one row group, so the spec verifies presence + read correctness; the
    * payoff surface is the multi-row-group file.
    *
    * `ndvEstimate` MUST be passed: parquet-mr with no expected-NDV and
    * adaptive sizing off allocates the MAXIMUM bloom (~1 MB per column per
    * row group) — a few-hundred-KB micro-batch rewrite would gain a 1 MB
    * bloom per bloomed column. Callers estimate from the sidecar rowCounts
    * of the files being rewritten (an upper bound on per-row-group NDV —
    * oversized is wasted bytes, undersized is fpp; the bound errs small). */
  private[sinks] def nativeWriteOptions(
      blooms: Map[(String, String), BloomRow],
      ndvEstimate: Long): Map[String, String] =
    nativeWriteOptionsCols(blooms.keys.map(_._2).toSet, ndvEstimate)

  /** [[nativeWriteOptions]] from a column set — manifest-bloomed columns
    * ([[BloomManifest.coveredColumns]]) compose with the TSV map's. */
  private[sinks] def nativeWriteOptionsCols(cols: Set[String],
      ndvEstimate: Long): Map[String, String] = {
    val ndv = math.max(1024L, ndvEstimate)
    // composite sidecar names are VIRTUAL — no physical column to
    // native-bloom; their components may still be bloomed individually
    cols.filterNot(CompositeKey.isComposite).toSeq.sorted.flatMap { c =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString)
    }.toMap
  }

  /** NDV estimate for a rewrite over `files`: the sidecar rowCounts where
    * every file carries one, else bytes/16 (>=16 bytes per row — errs
    * toward a larger, still-bounded bloom). */
  private[sinks] def ndvFor(files: Seq[Path],
      rowCountOf: String => Long): Long = {
    val counts = files.map(f => rowCountOf(f.getFileName.toString))
    if (files.nonEmpty && counts.forall(_ >= 0L)) counts.sum
    else files.map(f => Files.size(f) / 16).sum
  }

  /** Stage-side bloom lifecycle for delete/merge/compaction/recluster:
    * carry rows for hard-LINKED files (same bytes, same bloom) and REBUILD
    * rows for freshly staged files on every column the predecessor bloomed
    * — the bloom path SELF-MAINTAINS exactly like `_KEYSTATS`. Without the
    * rebuild, a merge's rewrite output — the files holding the table's
    * HOTTEST keys — would fall off the bloom path and every subsequent
    * point merge/delete/read would conservatively touch them until a manual
    * [[indexKeyBloom]]. Bits per column carry the predecessor's maximum
    * (sizing is a commit-time decision; maintenance must never shrink it).
    * Cost: one pass per bloomed column over ONLY the fresh files — bytes
    * the staging job just wrote, already pruned to the minimum. */
  private[sinks] def maintainStage(spark: SparkSession, liveDir: Path,
      stageDir: Path, reusedNames: Set[String]): Unit =
    maintainStage(spark, liveDir, stageDir, reusedNames, loadBlooms(liveDir))

  /** [[maintainStage]] with the predecessor's blooms already loaded — the
    * staging pass that probed them must not parse the sidecar twice
    * (mirrors `Pruned.allSideRows` on the stats side). */
  private[sinks] def maintainStage(spark: SparkSession, liveDir: Path,
      stageDir: Path, reusedNames: Set[String],
      old: Map[(String, String), BloomRow]): Unit = {
    // the sharded parquet manifest self-maintains through the same hook —
    // every staging site composes both backends with this one call
    BloomManifest.maintainStage(spark, liveDir, stageDir, reusedNames)
    if (old.isEmpty) return
    val carried = old.filter { case ((f, _), _) => reusedNames(f) }
    val freshFiles = TargetedDelete.partFiles(stageDir)
      .filterNot(p => reusedNames(p.getFileName.toString))
    // a full-rewrite merge (reused empty — the link-reuse schema guard
    // never ran) may legitimately DROP or RENAME a bloomed column; absent
    // columns are skipped (their bloom rows lapse) instead of failing the
    // whole merge from inside buildRows (r18 advisory)
    val freshCols: Set[String] =
      if (freshFiles.isEmpty) Set.empty
      else bloomableCols(spark, freshFiles.head)
    // a COMPOSITE bloom column survives iff EVERY component survives the
    // rewrite with a bloomable type — then its rows rebuild from the
    // framed tuple bytes exactly like the build side
    val fresh = old.keys.map(_._2).toSeq.distinct.sorted
      .filter(c => CompositeKey.componentsOf(c).forall(freshCols.contains))
      .flatMap { c =>
        val bits = old.collect { case ((_, cc), b) if cc == c => b.bits }.max
        if (CompositeKey.isComposite(c))
          buildRowsTuple(spark, freshFiles, CompositeKey.componentsOf(c), bits)
        else buildRows(spark, freshFiles, c, bits)
      }.toMap
    if (carried.nonEmpty || fresh.nonEmpty) writeBlooms(stageDir, carried ++ fresh)
  }
}
