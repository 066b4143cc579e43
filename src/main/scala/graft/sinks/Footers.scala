package graft.sinks

import java.nio.file.Path

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Reads of Spark-written parquet part files (the engine's committed
  * tables, and any input directory a Spark writer produced), with the
  * schema taken from the first file's footer instead of inferred.
  *
  * `spark.read.parquet(paths)` without a schema runs a Spark job to infer
  * one (Spark opens the footer of one file inside a task). On Spark-written
  * files that job is pure overhead: every part file of one write carries
  * the same Spark schema in its footer metadata. Here the driver
  * opens that footer once, takes the schema Spark's writer recorded there
  * (the record Spark's own inference reads, then every field nullable, as a
  * file relation makes it), and hands it to the reader, so building the
  * frame launches no job.
  *
  * Use it only where the files share one schema (one version's part files,
  * one writer's output). Where files may disagree — hive-partitioned
  * tables, foreign inputs, schema-evolution reads — keep Spark's inference.
  *
  * Every footer open, here and in [[KeyStats.footerStatRows]], goes through
  * [[open]] with one shared Hadoop configuration: a fresh `Configuration`
  * parses the Hadoop XML resources again on first use. */
private[graft] object Footers {

  /** The configuration every footer open shares (one per JVM: executors
    * opening footers in a parallel stats sweep get their own). */
  private lazy val conf: Configuration = new Configuration()

  /** One file's footer (metadata only, no row groups). */
  def open(file: String): ParquetMetadata = {
    val p = new org.apache.hadoop.fs.Path(java.nio.file.Paths.get(file).toUri)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf).build())
    try r.getFooter finally r.close()
  }

  /** The key under which Spark's parquet writer records the frame's schema
    * (as JSON) in every file's footer metadata. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema `spark.read.parquet(file).schema` would infer, from one
    * driver-side footer open: the Spark schema the writer recorded, every
    * field nullable. A file no Spark writer produced carries no such record
    * and falls back to Spark's own inference. */
  def schema(spark: SparkSession, file: Path): StructType =
    Option(open(file.toString).getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .map(DataType.fromJson) match {
      case Some(s: StructType) => nullable(s).asInstanceOf[StructType]
      case _ => spark.read.parquet(file.toString).schema
    }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Scan `files` (non-empty) with the first file's schema. */
  def read(spark: SparkSession, files: Seq[Path]): DataFrame =
    spark.read.schema(schema(spark, files.head)).parquet(files.map(_.toString): _*)

  /** Scan a flat version directory with its first part file's schema; a
    * directory with no top-level part file falls back to inference. */
  def readDir(spark: SparkSession, dir: Path): DataFrame =
    TargetedDelete.partFiles(dir).headOption match {
      case Some(f) => spark.read.schema(schema(spark, f)).parquet(dir.toString)
      case None => spark.read.parquet(dir.toString)
    }
}
