package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two file-shaped sinks SURVEY §2.1 previously scoped out, re-expressed
  * relationally so the driver's oracle can check them:
  *
  *  - S14 SQL-codegen sink (neighbourhoods/generate_geometry_sql.py:20-89):
  *    render each geometry row as a parameter-inlined idempotent UPSERT
  *    statement. The statement TEXT is the sink's product — generating it is
  *    a pure per-row projection (codegen'd concat/regexp_replace), and
  *    writing the .sql file is a trivial text sink on top.
  *
  *  - S15 photo blob sink (utils/photo_manager.py:240-267): content-addressed
  *    blob paths `{poi_id}/{qq}_{md5_8}.bin`. The PATH DERIVATION is
  *    relational (md5 + format codegen'd per row); the actual file write runs
  *    via foreachPartition (SinkSpec exercises it against a temp dir).
  */
object ScriptSinks {

  // ---------------------------------------------------------------- S14

  /** Per-row PostGIS UPSERT statements for a geometry table (same clause
    * structure as the reference script: escaped literals, ST_GeomFromGeoJSON
    * wrap, ON CONFLICT DO UPDATE). Coordinates are emitted at a fixed 7
    * decimals — the raw file's own precision — so the text is deterministic
    * across engines. */
  def geometrySqlStatements(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.json(path)
    val pairs = expr("transform(geometry.coordinates[0], p -> " +
      "concat('[', format_string('%.7f', p[0]), ', ', format_string('%.7f', p[1]), ']'))")
    val geomJson = concat(lit("{\"type\": \"Polygon\", \"coordinates\": [["),
      array_join(pairs, ", "), lit("]]}"))
    val nameEsc = regexp_replace(col("name"), "'", "''")
    val cityEsc = regexp_replace(col("city_name"), "'", "''")
    val adminSql = when(col("properties.admin_level").isNotNull,
      concat(lit("'"), col("properties.admin_level"), lit("'"))).otherwise(lit("NULL"))
    val stmt = concat(
      lit("INSERT INTO urban_areas (city_name, name, type, admin_level, place_type, geometry, created_at) VALUES ('"),
      cityEsc, lit("', '"), nameEsc, lit("', '"), col("type"), lit("', "),
      adminSql, lit(", NULL, ST_Multi(ST_MakeValid(ST_SetSRID(ST_GeomFromGeoJSON('"),
      geomJson,
      lit("'), 4326))), NOW()) ON CONFLICT (city_name, name, type) DO UPDATE SET " +
        "admin_level = EXCLUDED.admin_level, place_type = EXCLUDED.place_type, " +
        "geometry = EXCLUDED.geometry, created_at = NOW();"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("area_name").asc)
    raw.select(col("name").as("area_name"), stmt.as("stmt"))
      .withColumn("seq", row_number().over(w).cast("long"))
      .select(col("seq"), col("area_name"), col("stmt"))
  }

  def qS14SqlCodegen(spark: SparkSession, dir: String): DataFrame =
    geometrySqlStatements(spark, graft.domain.Spatial.ParisGeometryJsonl)

  /** Assemble and write the full .sql script (header + BEGIN/COMMIT framing,
    * generate_geometry_sql.py:33-38,83): the file-sink step over the
    * statement rows. Single text file by contract — the script is executed
    * top-to-bottom by a SQL console, so assembly is inherently ordered. */
  def writeSqlScript(stmts: DataFrame, outFile: String): Unit = {
    val body = stmts.orderBy(col("seq").asc).select(col("stmt"))
      .collect().map(_.getString(0))
    val script = ("-- Geometry upsert script (generated)" +: "BEGIN;" +: body :+ "COMMIT;")
      .mkString("\n\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), script)
  }

  // ---------------------------------------------------------------- S15

  /** Content-addressed blob path `{poi_id}/{qq}_{md5_8}.bin`: qq is the 0-99
    * quality prefix (TRUNCATED like the reference's int(score*100)) and md5_8
    * the first 8 hex chars of the payload digest (photo_manager.py:247-252). */
  private def relPath: org.apache.spark.sql.Column =
    concat(col("poi_id"), lit("/"),
      format_string("%02d", (col("quality") * 100).cast("int")),
      lit("_"), substring(md5(col("payload")), 1, 8), lit(".bin"))

  /** Manifest of the content-addressed paths — relational, oracle-checked.
    * Payload is an opaque binary column (the driver-mandate multimodal
    * shape). */
  def blobManifest(photos: DataFrame): DataFrame =
    photos.select(col("poi_id"), relPath.as("relative_path"),
      length(col("payload")).cast("long").as("byte_len"))

  /** Derived photo stand-ins over the documents table: opaque bytes + a
    * deterministic quality score (media bytes are opaque to the sink). */
  def photosFromDocs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir).select(
      concat(lit("poi_"), col("doc_id") % 50).as("poi_id"),
      col("text").cast("binary").as("payload"),
      ((col("doc_id") % 100).cast("double") / 100.0).as("quality"))

  def qS15PhotoManifest(spark: SparkSession, dir: String): DataFrame =
    blobManifest(photosFromDocs(spark, dir))

  /** The actual blob write — one file per row, grouped per partition
    * (photo_manager.py:240-267 semantics; distributed: each partition writes
    * its own files, no driver fan-in). SinkSpec drives it on a temp dir. */
  def writeBlobs(photos: DataFrame, root: String): Unit =
    photos.select(col("payload"), relPath.as("relative_path"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val p = java.nio.file.Paths.get(root, r.getString(1))
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, r.getAs[Array[Byte]](0))
        }
      }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s14_sql_codegen" -> (qS14SqlCodegen _),
    "s15_photo_manifest" -> (qS15PhotoManifest _))

  val oracles: Map[String, String] = Map(
    "s14_sql_codegen" ->
      s"""WITH r AS (
        |  SELECT * FROM read_json_auto(
        |    '${graft.domain.Spatial.ParisGeometryJsonl}',
        |    format='newline_delimited')),
        |g AS (
        |  SELECT name AS area_name,
        |    concat(
        |      'INSERT INTO urban_areas (city_name, name, type, admin_level, place_type, geometry, created_at) VALUES (''',
        |      replace(city_name, '''', ''''''), ''', ''',
        |      replace(name, '''', ''''''), ''', ''', type, ''', ',
        |      CASE WHEN properties.admin_level IS NOT NULL
        |           THEN concat('''', properties.admin_level, '''') ELSE 'NULL' END,
        |      ', NULL, ST_Multi(ST_MakeValid(ST_SetSRID(ST_GeomFromGeoJSON(''',
        |      '{"type": "Polygon", "coordinates": [[',
        |      array_to_string(list_transform(geometry.coordinates[1],
        |        p -> concat('[', printf('%.7f', p[1]), ', ', printf('%.7f', p[2]), ']')), ', '),
        |      ']]}',
        |      '''), 4326))), NOW()) ON CONFLICT (city_name, name, type) DO UPDATE SET ',
        |      'admin_level = EXCLUDED.admin_level, place_type = EXCLUDED.place_type, ',
        |      'geometry = EXCLUDED.geometry, created_at = NOW();') AS stmt
        |  FROM r)
        |SELECT CAST(row_number() OVER (ORDER BY area_name ASC) AS BIGINT) AS seq,
        |  area_name, stmt
        |FROM g""".stripMargin,
    "s15_photo_manifest" ->
      """SELECT concat('poi_', doc_id % 50) AS poi_id,
        |  concat('poi_', doc_id % 50, '/',
        |    printf('%02d', CAST(floor((doc_id % 100) / 100.0 * 100) AS INTEGER)),
        |    '_', substring(md5(text), 1, 8), '.bin') AS relative_path,
        |  CAST(strlen(text) AS BIGINT) AS byte_len
        |FROM documents""".stripMargin)
}
