package graft.spatial

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}

import graft.functions.GeoSql

/** The four geometry encodings and the promote/demote surface.
  *
  * Mirrors `api/src/main/java/org/apache/iceberg/types/havasu/GeometryEncoding.java:26-60`
  * in /root/reference: ewkb/wkb are physically BINARY, wkt/geojson
  * physically STRING, and a column may be promoted to geometry (or demoted
  * back) only when the physical type matches (`TypeUtil.java:386-399`).
  * The fork's `ALTER TABLE … SET GEOMETRY FIELDS c AS 'enc'` DDL
  * (`SetGeometryFieldsExec.scala:43-73`) becomes a metadata-only API here:
  * the table property file records column → encoding, data files are
  * untouched.
  */
object GeometryEncoding {
  val All: Seq[String] = Seq("ewkb", "wkb", "wkt", "geojson")

  def physicalType(enc: String): DataType = enc match {
    case "ewkb" | "wkb" => BinaryType
    case "wkt" | "geojson" => StringType
    case other => throw new IllegalArgumentException(s"unknown geometry encoding: $other")
  }

  /** Decode a stored column of the given encoding to the runtime WKB repr. */
  def decode(c: Column, enc: String): Column = enc match {
    case "ewkb" | "wkb" => call_function("st_geomfromwkb", c)
    case "wkt" => call_function("st_geomfromtext", c)
    case "geojson" => call_function("st_geomfromgeojson", c)
    case other => throw new IllegalArgumentException(s"unknown geometry encoding: $other")
  }

  /** Encode the runtime WKB repr for storage under the given encoding. */
  def encode(c: Column, enc: String): Column = enc match {
    case "ewkb" => call_function("st_asewkb", c)
    case "wkb" => c
    case "wkt" => call_function("st_astext", c)
    case "geojson" => call_function("st_asgeojson", c)
    case other => throw new IllegalArgumentException(s"unknown geometry encoding: $other")
  }
}

/** Table-property store: which columns are geometry, in which encoding. */
object GeometryFields {
  val PropsName = "_graft_table.json"

  def get(path: String): Map[String, String] = {
    val f = Paths.get(path, PropsName)
    if (!Files.exists(f)) Map.empty
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(new String(Files.readAllBytes(f), StandardCharsets.UTF_8)) match {
        case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
    }
  }

  /** Write properties without physical-type validation (for writers that
    * just produced the column and know its type by construction).
    */
  private[spatial] def putUnchecked(path: String, add: Map[String, String]): Unit =
    put(path, get(path) ++ add)

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def put(path: String, m: Map[String, String]): Unit = {
    val body = m.toSeq.sorted
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    Files.write(Paths.get(path, PropsName), body.getBytes(StandardCharsets.UTF_8))
  }

  /** Promote a column to geometry(enc), or demote with enc = "none".
    * Physical-type compatibility enforced like `TypeUtil.java:386-399`.
    */
  def setGeometryField(spark: SparkSession, path: String, column: String, enc: String): Unit = {
    val cur = get(path)
    if (enc == "none") { put(path, cur - column); return }
    val physical = GeometryEncoding.physicalType(enc)
    // manifest schema when available (zero listing); inference only for
    // plain parquet directories that never wrote a graft manifest
    val schema = GeoTable.ensureSchema(spark, path)
    val field = schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no such column: $column"))
    require(field.dataType == physical,
      s"cannot promote ${field.dataType.simpleString} column '$column' to geometry($enc): " +
        s"physical type must be ${physical.simpleString}")
    put(path, cur + (column -> enc))
  }

  /** Read a table with every declared geometry column decoded to WKB.
    * A manifest-backed table MUST read through the snapshot (manifest
    * file scoping + MoR deletes + bbox pruning — `GeoTable.read` also
    * decodes declared encodings); a raw `spark.read.parquet` there would
    * resurrect deleted rows and double-read superseded file generations
    * awaiting expiry. The raw path remains only for plain parquet
    * directories that never wrote a graft manifest.
    */
  def readGeo(spark: SparkSession, path: String): DataFrame = {
    GeoSql.install(spark)
    if (Snapshots.currentVersion(path) > 0) GeoTable.read(spark, path)
    else get(path).foldLeft(spark.read.parquet(path)) { case (df, (c, e)) =>
      df.withColumn(c, GeometryEncoding.decode(col(c), e))
    }
  }

  /** Write a geo table storing the geometry column in the given encoding
    * (runtime repr is WKB; storage may be any of the four — the write-side
    * analogue of `ParquetGeometryValueWriters` routing in /root/reference's
    * `SparkParquetWriters.java:270-273`). Delegates to [[GeoTable.write]]
    * with a storage encoding; [[Snapshots.read]] and `format("graft")`
    * decode back to WKB and keep bbox pruning.
    */
  def writeGeo(df: DataFrame, path: String, geomCol: String, enc: String,
      res: Int = GeoTable.DefaultResolution,
      bounds: (Double, Double, Double, Double) = GeoTable.WorldBounds,
      numFiles: Int = 0): Unit = {
    require(GeometryEncoding.All.contains(enc), s"unknown encoding: $enc")
    GeoTable.write(df, path, geomCol, res, bounds, numFiles, Some(enc))
  }
}
