package graft.sinks

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftSessionBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Predicate}
import org.apache.spark.sql.catalyst.optimizer.OptimizeIn
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetOptions,
  ParquetReadSupport, ParquetUtils, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Small keyed reads answered on the driver: the admitted part files are
  * decoded by Spark's own vectorized parquet reader in this thread, only
  * the rows matching every predicate are kept, and the answer is a
  * `LocalRelation`, so collecting it runs no Spark job.
  *
  * A one-file lookup through a scan pays a whole job (a task, its
  * scheduling and its result fetch) to read a file of a few hundred KB.
  * The gate is the one Spark itself uses to decide it may collect a scan
  * to the driver for a broadcast: the files' byte total at most
  * `spark.sql.autoBroadcastJoinThreshold`. At `-1` every read scans.
  * A schema the vectorized reader does not take, or a session that
  * ignores corrupt or missing files, also scans, so the answer is always
  * the scan's.
  *
  * Each file is decoded as a `FileSourceScanExec` task decodes it (the
  * vectorized branch of `ParquetFileFormat.buildReaderWithPartitionValues`):
  * one copy of the session's Hadoop configuration carries the requested
  * schema and the reader flags, and each file's own footer decides its
  * datetime and INT96 rebase. Nothing is converted by hand, so
  * `spark.sql.legacy.parquet.nanosAsLong`, the rebase modes and INT96
  * decode as the scan would. The reader is built directly, not through
  * `buildReaderWithPartitionValues`, because that broadcasts the
  * configuration on every call.
  *
  * Not for reads that group by `input_file_name()` (the bloom builds): a
  * local relation has no input file. */
private[graft] object DriverRead {

  /** The rows of `files` (one schema: [[Footers.schema]] of the first)
    * matching every `(column, key set)` predicate, as a local relation, or
    * None when the read belongs in a scan (no file, or past the gate
    * above). No predicate keeps every row. */
  def read(spark: SparkSession, files: Seq[Path],
      preds: Seq[(String, TargetedDelete.KeySet)]): Option[DataFrame] = {
    val state = GraftSessionBridge.sessionState(spark)
    val conf = state.conf
    val limit = conf.autoBroadcastJoinThreshold
    if (files.isEmpty || limit < 0 || conf.ignoreCorruptFiles || conf.ignoreMissingFiles ||
        files.iterator.map(Files.size).sum > limit) return None
    val schema = Footers.schema(spark, files.head)
    if (!ParquetUtils.isBatchReadSupportedForSchema(conf, schema)) return None
    val attrs = DataTypeUtils.toAttributes(schema)
    val keep: InternalRow => Boolean =
      if (preds.isEmpty) _ => true else matcher(spark, attrs, preds).eval
    val hconf = readerConf(state.newHadoopConf(), conf, schema)
    val rows = ArrayBuffer.empty[InternalRow]
    files.foreach(f => decode(f, hconf, conf, r => if (keep(r)) rows += r.copy()))
    Some(GraftSessionBridge.ofRows(spark, LocalRelation(attrs, rows.toSeq)))
  }

  /** The conjunction of the key sets' own match predicates, analyzed over
    * the relation's attributes (name resolution and type coercion as a
    * `filter` gets them), large IN lists turned into hash sets as the
    * optimizer turns them, then bound to column ordinals. Interpreted:
    * each lookup's literals differ, so a generated class would compile
    * once per call. */
  private def matcher(spark: SparkSession, attrs: Seq[Attribute],
      preds: Seq[(String, TargetedDelete.KeySet)]) = {
    val analyzed = GraftSessionBridge.ofRows(spark, LocalRelation(attrs))
      .filter(preds.map { case (c, ks) => ks.matchPredicate(c) }.reduce(_ && _))
      .queryExecution.analyzed
    val bound = OptimizeIn(analyzed) match {
      case Filter(c, _) => BindReferences.bindReference(c, attrs)
      case p => throw new IllegalStateException(s"a key filter analyzed to $p")
    }
    val p = Predicate.createInterpreted(bound)
    p.initialize(0)
    p
  }

  /** One copy of the session's Hadoop configuration with the keys the scan
    * sets before it reads (`ParquetFileFormat.setupHadoopConf`). */
  private def readerConf(hconf: Configuration, conf: SQLConf, schema: StructType): Configuration = {
    hconf.set("parquet.read.support.class", classOf[ParquetReadSupport].getName)
    hconf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    hconf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    hconf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hconf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, conf.nestedSchemaPruningEnabled)
    hconf.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    hconf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, conf.isParquetBinaryAsString)
    hconf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, conf.isParquetINT96AsTimestamp)
    hconf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    hconf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, conf.legacyParquetNanosAsLong)
    hconf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      conf.parquetReaderRespectUnknownTypeAnnotation)
    hconf
  }

  /** Decode every row of `file` into `sink` (each row is the reader's
    * reused buffer: copy what is kept). The reader and the file are closed
    * however the decode ends. */
  private def decode(file: Path, hconf: Configuration, conf: SQLConf,
      sink: InternalRow => Unit): Unit = {
    val len = Files.size(file)
    val hPath = new org.apache.hadoop.fs.Path(file.toUri)
    val opened = ParquetFooterReader.openFileAndReadFooter(hconf,
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(hPath), 0L, len,
        Array.empty[String], 0L, len, Map.empty), true)
    try {
      val meta = opened.footer.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val options = new ParquetOptions(Map.empty[String, String], conf)
      val datetime = DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead)
      val int96 = DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead)
      val convertTz =
        if (conf.isParquetINT96TimestampConversion && !meta.getCreatedBy.startsWith("parquet-mr"))
          DateTimeUtils.getZoneId(conf.sessionLocalTimeZone)
        else null
      val reader = new VectorizedParquetRecordReader(convertTz, datetime.mode.toString,
        datetime.timeZone, int96.mode.toString, int96.timeZone,
        conf.offHeapColumnVectorEnabled, conf.parquetVectorizedReaderBatchSize)
      try {
        reader.initialize(new FileSplit(hPath, 0L, len, Array.empty[String]),
          new TaskAttemptContextImpl(hconf,
            new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)),
          Some(opened.inputFile), Some(opened.inputStream), Some(opened.footer))
        reader.initBatch(new StructType(), InternalRow.empty)
        while (reader.nextKeyValue()) sink(reader.getCurrentValue.asInstanceOf[InternalRow])
      } finally reader.close()
    } finally opened.inputStreamOpt.ifPresent(_.close())
  }
}
