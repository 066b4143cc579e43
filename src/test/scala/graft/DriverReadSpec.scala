package graft

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.sinks.{AtomicTable, DriverRead, Footers, StatsRead, TargetedDelete}
import graft.sinks.TargetedDelete.{KeySet, LongRange, StringPrefix, StringRange}

/** A keyed read small enough for the driver ([[DriverRead]]) answers
  * exactly what the scan answers: the same rows, column order, types,
  * nullability and metadata, for every key-set kind, null keys, time
  * travel, nested and temporal columns, rebased legacy files and nanosecond
  * timestamps; and a decode that fails mid-file leaves no file open. */
class DriverReadSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)
  private val Gate = "spark.sql.autoBroadcastJoinThreshold"

  private def scanning[A](body: => A): A = PlanTestUtils.withConf(spark, Gate, "-1")(body)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def fresh(name: String): String = {
    val root = s"spark-warehouse/test_driver_read_$name"
    AtomicTable.deleteRecursively(Paths.get(root))
    root
  }

  private def sameAnswer(local: DataFrame, scan: DataFrame): Array[Row] = {
    assert(local.schema == scan.schema)
    assert(local.schema.json == scan.schema.json) // metadata included
    val (a, b) = (local.collect(), scan.collect())
    assert(a.toSeq.sortBy(_.toString) == b.toSeq.sortBy(_.toString))
    a
  }

  /** The driver-served read and the scan of the same predicates agree;
    * returns the rows. */
  private def parity(root: String, preds: Seq[(String, TargetedDelete.KeySet)],
      version: Option[String] = None): Array[Row] = {
    val (local, rs) = StatsRead.read(spark, root, preds, version)
    val (scan, rsScan) = scanning(StatsRead.read(spark, root, preds, version))
    assert(isLocal(local), s"$preds was not served on the driver")
    assert(!isLocal(scan), s"$preds was served on the driver at $Gate=-1")
    assert(rs == rsScan)
    sameAnswer(local, scan)
  }

  /** 3000 rows in 6 id-clustered files; every 97th id and every 89th key
    * is null. */
  private def keyed(root: String): Unit =
    AtomicTable.commit(spark.range(3000).select(
        when(col("id") % 97 =!= 0, col("id")).as("id"),
        when(col("id") % 89 =!= 0, format_string("k%05d", col("id"))).as("k"),
        (col("id") % 7).as("grp"))
      .repartitionByRange(6, col("id")).sortWithinPartitions("id"),
      root, statsCols = Seq("id", "k"))

  test("every key-set kind answers as the scan does; null keys never match") {
    val root = fresh("kinds")
    keyed(root)
    // 97 and 89 are the null rows' ids and keys: neither matches
    assert(parity(root, Seq("id" -> KeySet.longs(Seq(5L, 97L, 1500L, 2999L))))
      .map(_.getLong(0)).sorted.toSeq == Seq(5L, 1500L, 2999L))
    assert(parity(root, Seq("k" -> KeySet.strings(Seq("k00005", "k00089", "k02000"))))
      .map(_.getString(1)).sorted.toSeq == Seq("k00005", "k02000"))
    assert(parity(root, Seq("id" -> LongRange(1000L, 1100L))).length == 100) // 1067 is null
    assert(parity(root, Seq("k" -> StringRange("k01000", "k01100"))).length == 100) // k01068
    assert(parity(root, Seq("k" -> StringPrefix("k012"))).length == 99) // k01246 is null
    // every id: only the null-keyed rows stay out
    assert(parity(root, Seq("id" -> LongRange(0L, 2999L))).length == 3000 - 31)
    // past IsinKeyThreshold the scan's tail is a broadcast semi join
    val many = KeySet.longs(0L until 3000L by 2L)
    assert(many.size > TargetedDelete.IsinKeyThreshold && !many.preferPredicate)
    assert(parity(root, Seq("id" -> many)).length == 1500 - 16)
    // two predicates conjoin
    assert(parity(root, Seq("id" -> LongRange(1200L, 1299L), "k" -> StringPrefix("k012")))
      .map(_.getLong(0)).toSet == (1200L to 1299L).toSet - 1246L - 1261L) // k01246, id 1261
  }

  test("a time-travel read answers from the retained version, as the scan does") {
    val root = fresh("asof")
    keyed(root)
    TargetedDelete.delete(spark, root, "id", LongRange(1000L, 1100L))
    val prev = AtomicTable.previousVersion(root).get
    assert(parity(root, Seq("id" -> LongRange(1000L, 1100L)), Some(prev)).length == 100)
    assert(parity(root, Seq("id" -> LongRange(1000L, 1100L))).isEmpty)
  }

  /** Decimal, date, timestamp, binary, array, map and struct columns, with
    * nulls at every level; `base` shifts the temporal values. */
  private def typed(base: String): DataFrame = spark.range(400).select(col("id"),
    when(col("id") % 5 =!= 0, (col("id") * 1.25).cast("decimal(12,2)")).as("amount"),
    when(col("id") % 6 =!= 0, date_add(to_date(lit(base)), col("id").cast("int"))).as("day"),
    when(col("id") % 7 =!= 0, timestamp_seconds(unix_timestamp(to_timestamp(lit(base))) +
      col("id") * 3601L)).as("at"),
    when(col("id") % 8 =!= 0, col("id").cast("string").cast("binary")).as("raw"),
    when(col("id") % 9 =!= 0, array(col("id").cast("int"),
      when(col("id") % 2 === 0, lit(7))) ).as("xs"),
    when(col("id") % 10 =!= 0, map(lit("a"), col("id").cast("int"),
      lit("b"), when(col("id") % 3 === 0, lit(1)))).as("kv"),
    when(col("id") % 11 =!= 0, struct(col("id").as("n"),
      when(col("id") % 4 =!= 0, format_string("s%d", col("id"))).as("s"),
      array(struct((col("id") % 3).as("d"))).as("deep"))).as("st"))
    .repartitionByRange(4, col("id")).sortWithinPartitions("id")

  test("decimal, date, timestamp, binary and nested columns decode as the scan decodes them") {
    val root = fresh("typed")
    AtomicTable.commit(typed("2024-02-27"), root, Seq("id"))
    assert(parity(root, Seq("id" -> LongRange(40L, 160L))).length == 121)
    assert(parity(root, Seq("id" -> KeySet.longs(Seq(0L, 55L, 77L, 360L)))).length == 4)
  }

  test("legacy-rebased dates and INT96 timestamps decode as the scan decodes them") {
    // ancient values written under the legacy hybrid calendar: each file's
    // footer records it, and the read rebases from that record
    val root = fresh("legacy")
    val writes = Seq("spark.sql.parquet.outputTimestampType" -> "INT96",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "LEGACY",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY")
    writes.foldRight(() => AtomicTable.commit(typed("1200-03-01"), root, Seq("id"))) {
      case ((k, v), w) => () => PlanTestUtils.withConf(spark, k, v)(w())
    }()
    val rows = parity(root, Seq("id" -> LongRange(0L, 399L)))
    assert(rows.length == 400)
    val day = rows.find(_.getLong(0) == 1L).get.getDate(2)
    assert(day.toLocalDate == java.time.LocalDate.of(1200, 3, 2))
  }

  test("nanosecond timestamps from a foreign writer decode as the scan decodes them") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // TIMESTAMP(NANOS) as the testdata event logs carry it; the session
    // reads it as a long (spark.sql.legacy.parquet.nanosAsLong)
    val file = Files.createTempDirectory("driverreadnanos").resolve("events.parquet")
    val schema = MessageTypeParser.parseMessageType("message events { required int64 id; " +
      "optional int64 ts (TIMESTAMP(NANOS,true)); optional binary name (STRING); }")
    val rows = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).build()
    try (0 until 50).foreach { i =>
      val g = rows.newGroup().append("id", i.toLong)
      if (i % 4 != 0) g.append("ts", 1700000000000000000L + i * 1000003L)
      w.write(g.append("name", s"e$i"))
    } finally w.close()
    val local = DriverRead.read(spark, Seq(file), Seq("id" -> LongRange(10L, 29L))).get
    val scan = Footers.read(spark, Seq(file)).filter(col("id").between(10L, 29L))
    assert(local.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(sameAnswer(local, scan).length == 20)
  }

  /** The live version's part files, by name. */
  private def liveParts(root: String): Seq[Path] = {
    val st = Files.list(Paths.get(root, AtomicTable.currentVersion(root).get))
    try st.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString).toSeq
    finally st.close()
  }

  test("the gate is the files' byte total against the broadcast threshold") {
    val root = fresh("gate")
    keyed(root)
    val files = liveParts(root).take(2)
    val bytes = files.map(Files.size).sum
    def served(limit: Long) = PlanTestUtils.withConf(spark, Gate, limit.toString)(
      DriverRead.read(spark, files, Seq("grp" -> KeySet.longs(Seq(3L))))).isDefined
    assert(served(bytes) && !served(bytes - 1) && !served(-1))
  }

  test("a decode that fails mid-file throws and closes the file") {
    val root = fresh("corrupt")
    val hconf = spark.sparkContext.hadoopConfiguration
    val old = Option(hconf.get("parquet.block.size"))
    hconf.setInt("parquet.block.size", 4096) // many small row groups
    try AtomicTable.commit(spark.range(20000).select(col("id"),
        concat(lit("payload-"), col("id")).as("p")).coalesce(1), root, Seq("id"))
    finally old.fold(hconf.unset("parquet.block.size"))(hconf.set("parquet.block.size", _))
    val file = liveParts(root).head
    val blocks = Footers.open(file.toString).getBlocks
    assert(blocks.size >= 3, s"${blocks.size} row groups")
    // garbage over the second row group's first page header, and no
    // checksum sidecar to catch it first: the decoder itself fails there
    val ch = FileChannel.open(file, StandardOpenOption.WRITE)
    try ch.write(ByteBuffer.wrap(Array.fill[Byte](64)(-1)), blocks.get(1).getStartingPos)
    finally ch.close()
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    def open(): Int = Option(new java.io.File("/proc/self/fd").listFiles).toSeq.flatten
      .count(fd => Try(Files.readSymbolicLink(fd.toPath)).toOption.contains(file.toAbsolutePath))
    val before = open()
    intercept[Exception](StatsRead.read(spark, root, Seq("id" -> LongRange(0L, 19999L))))
    assert(open() == before, "the failed decode left the file open")
  }
}
