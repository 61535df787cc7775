package graft.spatial

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GeoSql

/** Geometry-aware table write/read — the engine's stand-in for the
  * reference's havasu table format:
  *
  *  - geometry column stays physical BINARY (WKB), exactly the fork's
  *    schema-compat trick (`core/.../SchemaParser.java:61,134-144` stores the
  *    physical type + an encoding annotation);
  *  - a shadow struct `<geom>_bbox(xmin,ymin,xmax,ymax)` is written per row,
  *    so parquet row-group stats + our file manifest carry the same
  *    information as the fork's manifest fields `geom_lower_bounds`/
  *    `geom_upper_bounds` (`api/.../DataFile.java:87-98`);
  *  - rows are Hilbert-clustered before write (`repartitionByRange` + sort on
  *    the hilbert index), the write-clustering the fork gets from a
  *    `hilbert[...]` sort order (`SparkWriteUtil.java:68-120`,
  *    `SortOrderToSpark.java:87-104`);
  *  - each snapshot's JSON manifest (`_graft_manifest_v{N}.json`, see
  *    [[Snapshots]]) records per-file min/max for every primitive leaf
  *    (struct leaves flattened), the analogue of Iceberg's per-file
  *    `lower_bounds`/`upper_bounds`.
  *
  * Scale posture: the clustering is a range shuffle on a long (no skew —
  * Hilbert indexes are near-uniform for near-uniform data; salting hook left
  * to callers otherwise); per-file stats come straight from parquet FOOTERS
  * ([[FooterStats]], distributed over executors) — no second data pass
  * after a write.
  */
object GeoTable {

  val DefaultResolution = 12
  val WorldBounds: (Double, Double, Double, Double) = (-180d, -90d, 180d, 90d)

  /** Add the shadow bbox column for a WKB geometry column. */
  def withBbox(df: DataFrame, geomCol: String): DataFrame =
    df.withColumn(s"${geomCol}_bbox", GeoSql.st_bbox(col(geomCol)))

  def hilbertCol(geomCol: String, res: Int, b: (Double, Double, Double, Double)): Column =
    GeoSql.hilbert(col(geomCol), lit(res), lit(b._1), lit(b._2), lit(b._3), lit(b._4))

  /** Write a Hilbert-clustered geo table: bbox shadow column + spatial
    * clustering + per-file stats manifest. `numFiles <= 0` keeps the input
    * partitioning (still sorted within partitions).
    */
  def write(
      df: DataFrame,
      path: String,
      geomCol: String,
      res: Int = DefaultResolution,
      bounds: (Double, Double, Double, Double) = WorldBounds,
      numFiles: Int = 0,
      storageEncoding: Option[String] = None,
      partitionBy: Seq[String] = Nil): Unit = {
    GeoSql.install(df.sparkSession)
    val h = hilbertCol(geomCol, res, bounds)
    val withShadow = withBbox(df, geomCol).withColumn("__hilbert", h)
    val clustered =
      if (numFiles > 0) withShadow.repartitionByRange(numFiles, col("__hilbert"))
      else withShadow
    val sorted = clustered
      .sortWithinPartitions(col("__hilbert"))
      .drop("__hilbert")
    val stored = storageEncoding match {
      case Some(e) => sorted.withColumn(geomCol, GeometryEncoding.encode(col(geomCol), e))
      case None => sorted
    }
    // partitionBy entries may be transform specs: bucket(n,c), truncate(w,c),
    // year/month/day(c), or plain identity columns
    val transforms = partitionBy.map(Transforms.parse)
    val withDerived = transforms
      .filterNot(_.isInstanceOf[Transforms.Identity])
      .foldLeft(stored)((d, t) => d.withColumn(t.derivedName, Transforms.writeExpr(t, d)))
    // a fresh table has no properties yet; the SESSION-conf codec
    // override still applies (Snapshots.compressionSpec precedence)
    val (codecOpt, levelOpt) =
      Snapshots.compressionSpec(df.sparkSession, Map.empty, delete = false)
    val writer = (codecOpt.map("compression" -> _).toSeq ++
        levelOpt.toSeq.map("parquet.compression.codec.zstd.level" -> _))
      .foldLeft(withDerived.write.mode("overwrite"))((acc, kv) => acc.option(kv._1, kv._2))
    (if (transforms.nonEmpty) writer.partitionBy(transforms.map(_.derivedName): _*)
     else writer).parquet(path)
    // bucket transform: our bucket id IS Spark's bucketing hash
    // (pmod(murmur3(col), n)), so stamping each file with the bucketed-file
    // name pattern lets the scan report HashPartitioning — bucketed joins
    // then need no exchange (the reference's storage-partitioned join)
    transforms.collectFirst { case b: Transforms.Bucket => b }
      .foreach(b => stampBucketIds(df.sparkSession, path, b, dataFileNames(df.sparkSession, path)))
    // record the encoding BEFORE stats collection so declared geometry
    // columns are excluded from value stats (bbox carries the pruning
    // info). An OVERWRITE with a different (or no) declared encoding must
    // also CLEAR the previous one — the props sidecar survives the data
    // overwrite, and a stale `wkt` entry over fresh WKB files would
    // decode every read through the wrong codec.
    storageEncoding match {
      case Some(e) => GeometryFields.putUnchecked(path, Map(geomCol -> e))
      case None if GeometryFields.get(path).contains(geomCol) =>
        GeometryFields.setGeometryField(df.sparkSession, path, geomCol, "none")
      case None => ()
    }
    writeManifest(df.sparkSession, path, transforms.map(_.spec),
      schema = Some(withDerived.schema))
  }

  /** Rename data files under `<col>_bucket=K/` dirs to carry Spark's
    * `_0000K` bucket-file suffix (parsed by `BucketingUtils.getBucketId`).
    * Stamps only `rels` (a writer's own files — attribution-exact) and
    * returns their post-stamp relative paths.
    */
  private[graft] def stampBucketIds(spark: SparkSession, path: String,
      b: Transforms.Bucket, rels: Seq[String]): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // on a MID-WAY failure, rename the already-stamped files BACK: the
    // caller's abort path knows only the pre-stamp names, so partial
    // renames would otherwise strand permanent orphan debris
    val done = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    try rels.map { rel =>
      val dir = rel.split('/').dropRight(1).mkString("/")
      val name = rel.split('/').last
      val bucketPrefix = s"${b.derivedName}="
      rel.split('/').find(_.startsWith(bucketPrefix)) match {
        case Some(seg) if !name.matches(""".*_\d{5}\..*""") =>
          val k = seg.stripPrefix(bucketPrefix).toInt
          val stamped = name.replaceFirst("""\.""", f"_$k%05d.")
          val newRel = if (dir.isEmpty) stamped else s"$dir/$stamped"
          val src = new Path(new Path(path), rel)
          val dst = new Path(new Path(path), newRel)
          // rename reports failure as FALSE, not an exception — committing
          // the post-stamp name anyway would publish a manifest entry for
          // a file that does not exist
          require(fs.rename(src, dst),
            s"bucket-id stamp rename failed: $rel -> $newRel")
          done += (src -> dst)
          newRel
        case _ => rel
      }
    } catch {
      case e: Throwable =>
        done.reverseIterator.foreach { case (src, dst) =>
          try { fs.rename(dst, src); () }
          catch { case scala.util.control.NonFatal(c) => e.addSuppressed(c) }
        }
        throw e
    }
  }

  /** All data files of the table, as base-relative paths (partition
    * directories included — `p=3/part-...parquet`).
    */
  private[spatial] def dataFileNames(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(new Path(path))
    if (!fs.exists(base)) return Nil
    val it = fs.listFiles(base, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      // decoded relative path (no URI escape layer) — matches writeBack's
      // manifest keys for names with spaces / hive-escaped chars
      val rel = st.getPath.toUri.getPath.stripPrefix(base.toUri.getPath).stripPrefix("/")
      // hidden segments (_graft_deletes/, _SUCCESS, ...) are never data files
      val hidden = rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
      if (st.isFile && rel.endsWith(".parquet") && !hidden) {
        buf += rel
      }
    }
    buf.toSeq
  }

  /** Per-file min/max for every stat leaf of the named data files, from
    * parquet FOOTERS — no second data pass after a write (see
    * [[FooterStats]]). Footer reads are distributed over executors when the
    * file count warrants it; each returns one small stats record.
    */
  def collectStats(spark: SparkSession, path: String, names: Seq[String]): Seq[FileStats] = {
    // declared geometry columns (e.g. multi-MB WKT polygons) carry no
    // pruning value — their bbox shadow struct does; keep them out of the
    // manifest's value stats
    val geomCols = GeometryFields.get(path).keySet
    val stats =
      if (names.size <= 8) {
        val conf = spark.sparkContext.hadoopConfiguration
        names.map(n => FooterStats.read(path, n, conf, geomCols))
      } else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        spark.sparkContext
          .parallelize(names, math.min(names.size, spark.sparkContext.defaultParallelism))
          .map(n => FooterStats.read(path, n, conf.value, geomCols))
          .collect().toSeq
      }
    // declared write.metadata.metrics.* modes trim/truncate the recorded
    // stats (driver-side: stats are tiny next to the footer reads)
    MetricsModes(path, stats.sortBy(_.path))
  }

  /** Compute and publish the manifest for every data file in the directory
    * (also recorded as snapshot v1+ via [[Snapshots]] naming).
    */
  def writeManifest(spark: SparkSession, path: String,
      partitionCols: Seq[String] = Nil,
      schema: Option[StructType] = None): Unit = {
    val names = dataFileNames(spark, path).sorted
    val stats = collectStats(spark, path, names)
    // persist the full table schema; writers pass the frame they just
    // wrote, other callers fall back to one write-time inference
    val sch = schema.orElse(
      try Some(spark.read.parquet(path).schema) catch { case _: Exception => None })
    // creation commits through the same refs-CAS point as every other op
    TableOps.commitCreate(path,
      v => manifestJson(stats.map(_.withAddedV(v)), Nil, partitionCols, schema = sch))
  }

  /** Read the current snapshot with every delete kind applied — the same
    * read as [[Snapshots.read]], kept under this name for callers that
    * know the table as a geo table.
    */
  def read(spark: SparkSession, path: String): DataFrame = Snapshots.read(spark, path)

  /** Apply MoR predicate deletes: keep rows where no predicate holds. */
  private[graft] def applyDeletes(df: DataFrame, deletes: Seq[String]): DataFrame =
    deletes.foldLeft(df)((d, sql) => d.filter(!coalesce(expr(sql), lit(false))))

  /** Read a file set through the pruning index BEFORE any delete applies:
    * the raw reader under [[Snapshots.read]], and the one for callers that
    * need pre-delete rows (`readWithPositions`, `changes`, Similarity's
    * delete capture). Declared geometry encodings decode back to the WKB
    * runtime repr (the bbox shadow column drives pruning either way) and
    * the frame carries exactly [[logicalSchema]]. `head` (the main head's
    * manifest) supplies the table-level layout for every version read.
    */
  def readWithStats(spark: SparkSession, path: String, stats: Seq[FileStats]): DataFrame =
    readWithStats(spark, path, stats, Snapshots.headManifest(path))

  def readWithStats(spark: SparkSession, path: String, stats: Seq[FileStats],
      head: Option[Manifest]): DataFrame = {
    GeoSql.install(spark)
    Geo.installRule(spark)
    val raw = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(buildRelation(spark, path, stats, head))
    val decoded = GeometryFields.get(path).foldLeft(raw) { case (df, (c, e)) =>
      df.withColumn(c, GeometryEncoding.decode(col(c), e))
    }
    // physical file names → current logical schema (renames/drops applied)
    TableSchema.toLogical(decoded, path)
  }

  /** The schema [[readWithStats]] serves, derived step by step from
    * metadata alone: the relation's data + partition merge (Spark's own
    * rule), each declared geometry column decoded to a nullable BINARY
    * without metadata, then [[TableSchema.logicalSchema]].
    */
  private[spatial] def logicalSchema(spark: SparkSession, path: String,
      head: Option[Manifest]): StructType = {
    val (data, part) = relationSchemas(spark, path, head)
    val raw = org.apache.spark.sql.execution.datasources.PartitioningUtils
      .mergeDataAndPartitionSchema(data, part, spark.sessionState.conf.caseSensitiveAnalysis)._1
    val encoded = GeometryFields.get(path)
    val decoded = StructType(raw.fields.map(f =>
      if (encoded.contains(f.name)) StructField(f.name, BinaryType) else f))
    TableSchema.logicalSchema(decoded, TableSchema.read(path))
  }

  /** (data, partition) schemas of the pruning relation, from metadata
    * alone. For partitioned tables the stored schema's partition columns
    * move to the partition schema; their values are served from the file
    * paths by [[GraftFileIndex]].
    */
  private[graft] def relationSchemas(spark: SparkSession, path: String,
      head: Option[Manifest]): (StructType, StructType) = {
    // authoritative schema from the manifest — relation construction makes
    // ZERO object-store round-trips (no listing, no footer sampling); the
    // inference fallback exists only for legacy manifests without a schema
    val full = ensureSchema(spark, path, head)
    val partCols = head.map(_.partitionCols).getOrElse(Nil)
    val partitionSchema = StructType(partCols.flatMap(c => full.fields.find(_.name == c)))
    // evolved tables read under the authoritative stored physical schema
    // (a sampled file may predate an added column)
    // fully nullable: any column may be absent from SOME generation of
    // files (schema merge / evolution), and a required read-schema column
    // missing from a file is a reader ERROR, not nulls
    val dataSchema = Snapshots.nullableShallow(TableSchema.physicalSchema(path).getOrElse(
      StructType(full.fields.filterNot(f => partCols.contains(f.name)))))
    (dataSchema, partitionSchema)
  }

  /** The pruning-FileIndex-backed relation under [[readWithStats]]. */
  def buildRelation(spark: SparkSession, path: String, stats: Seq[FileStats],
      head: Option[Manifest]): HadoopFsRelation = {
    val (dataSchema, partitionSchema) = relationSchemas(spark, path, head)
    val index = new GraftFileIndex(spark, new Path(path), stats, dataSchema, partitionSchema,
      head.map(_.pruningSpecs).getOrElse(Nil))
    // a bucket transform doubles as a Spark bucket spec: file names carry
    // `_0000K` ids (stamped on write) and the bucket hash is Spark's own,
    // so the scan reports HashPartitioning and bucketed joins skip the
    // exchange entirely. After spec evolution the claim only holds if
    // every live file was laid out under the bucket spec — files from an
    // older generation (no bucket dir in their path) void it.
    val bucketSpec = head.toSeq.flatMap(_.specs).collectFirst {
      case b: Transforms.Bucket if dataSchema.fieldNames.contains(b.source) &&
          stats.forall(_.path.contains(s"${b.derivedName}=")) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(b.n, Seq(b.source), Nil)
    }
    HadoopFsRelation(
      location = index,
      partitionSchema = partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  /** Metadata table over the manifest — the analogue of Iceberg's `files`
    * metadata table with geometry bounds visible
    * (`spark/.../SparkContentFile.java:206-220` in /root/reference).
    */
  def filesTable(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    val stats = Snapshots.readManifest(path, version)
    // leaf set = UNION across files: stat key sets legitimately diverge
    // (add_files-imported plain parquet next to geo appends), and a file
    // without a key serves null — a direct apply would crash the table
    val geomLeaves = stats.flatMap(_.mins.keys.filter(_.contains("_bbox.")))
      .distinct.sorted
    val rm = readableMetrics(path, stats)
    val rows = stats.map { f =>
      org.apache.spark.sql.Row.fromSeq(
        Seq[Any](f.path, f.rows, f.sizeBytes) ++
          geomLeaves.flatMap(k => Seq[Any](
            f.mins.get(k).flatMap(Option(_))
              .map(v => Double.box(v.asInstanceOf[Number].doubleValue())).orNull,
            f.maxs.get(k).flatMap(Option(_))
              .map(v => Double.box(v.asInstanceOf[Number].doubleValue())).orNull)) ++
          rm.map(_._2(f.path)).toSeq)
    }
    val schema = StructType(
      Seq(StructField("file_path", org.apache.spark.sql.types.StringType),
        StructField("record_count", org.apache.spark.sql.types.LongType),
        StructField("file_size_in_bytes", org.apache.spark.sql.types.LongType)) ++
        geomLeaves.flatMap(k => Seq(
          StructField(s"min_$k".replace('.', '_'), org.apache.spark.sql.types.DoubleType),
          StructField(s"max_$k".replace('.', '_'), org.apache.spark.sql.types.DoubleType))) ++
        rm.map(_._1).toSeq)
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The reference's `readable_metrics` derived column on the files /
    * entries metadata tables (`MetadataTableUtils` readable-metrics
    * struct, TestMetadataTableReadableMetrics): one nested struct PER
    * LOGICAL COLUMN, alphabetically ordered, each carrying
    * `{column_size, value_count, null_value_count, nan_value_count,
    * lower_bound, upper_bound}` with the bounds surfaced AS THE COLUMN'S
    * OWN TYPE (human-readable, not serialized bytes). Unknown facets are
    * null: column_size for legacy manifests, null_value_count for
    * stat-less files, nan counts always (not tracked), bounds for types
    * without value stats (geometry carries bbox shadows instead).
    * None when the table predates recorded schemas.
    * Returns (the struct field, per-file-path metric rows).
    */
  private[graft] def readableMetrics(path: String, stats: Seq[FileStats])
      : Option[(StructField, Map[String, org.apache.spark.sql.Row])] = {
    import org.apache.spark.sql.types._
    val schema = Snapshots.readSchema(path).getOrElse(return None)
    // the recorded schema stores PHYSICAL names; surface the current
    // LOGICAL names (renames) and skip dropped columns
    val byPhys = TableSchema.read(path).map(e => e.physical -> e).toMap
    val cols = schema.fields.toSeq.flatMap { f =>
      byPhys.get(f.name) match {
        case Some(e) if e.dropped => None
        case Some(e) => Some(f.copy(name = e.logical))
        case None => Some(f)
      }
    }.sortBy(_.name)
    val phys = TableSchema.read(path).filterNot(_.dropped)
      .map(e => e.logical -> e.physical).toMap
    def ext(v: Any, dt: DataType): Any = v match {
      case null => null
      case _ => dt match {
        case IntegerType => v.asInstanceOf[Number].intValue()
        case LongType => v.asInstanceOf[Number].longValue()
        case DoubleType => v.asInstanceOf[Number].doubleValue()
        case FloatType => v.asInstanceOf[Number].floatValue()
        case ShortType => v.asInstanceOf[Number].shortValue()
        case ByteType => v.asInstanceOf[Number].byteValue()
        case StringType => v.toString
        case BooleanType => v match { case b: Boolean => b; case _ => null }
        case DateType => java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()))
        case TimestampType =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(
            v.asInstanceOf[Number].longValue())
        case _: DecimalType => v match {
          case bd: scala.math.BigDecimal => bd.bigDecimal
          case n: Number => new java.math.BigDecimal(n.toString)
          case _ => null
        }
        case _ => null // binary / nested: no readable bounds
      }
    }
    val field = StructField("readable_metrics", StructType(cols.map(c =>
      StructField(c.name, StructType(Seq(
        StructField("column_size", LongType),
        StructField("value_count", LongType),
        StructField("null_value_count", LongType),
        StructField("nan_value_count", LongType),
        StructField("lower_bound", c.dataType),
        StructField("upper_bound", c.dataType)))))))
    val rows = stats.map { f =>
      f.path -> org.apache.spark.sql.Row.fromSeq(cols.map { c =>
        val k = phys.getOrElse(c.name, c.name)
        org.apache.spark.sql.Row(
          f.colSizes.get(k).map(Long.box).orNull,
          Long.box(f.rows),
          f.nulls.get(k).map(Long.box).orNull,
          null,
          ext(f.mins.get(k).orNull, c.dataType),
          ext(f.maxs.get(k).orNull, c.dataType))
      })
    }.toMap
    Some((field, rows))
  }

  // ---- manifest (de)serialization ---------------------------------------

  // control characters \u-escape (Jackson rejects raw control chars on
  // re-parse — a string column whose min/max stat contains a newline must
  // not brick the manifest)
  private[spatial] def escJson(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + escJson(s) + "\""
    case b: Boolean => b.toString
    // bare NaN/Infinity are not JSON tokens — a manifest carrying one
    // would never parse again; encode as null (stat absent)
    case d: java.lang.Double if d.isNaN || d.isInfinite => "null"
    case f: java.lang.Float if f.isNaN || f.isInfinite => "null"
    case n: Number => n.toString
    case other => "\"" + escJson(other.toString) + "\""
  }

  private[graft] def manifestJson(entries: Seq[FileStats], deletes: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil, posDeletes: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      eqDeletes: Seq[EqDelete] = Nil,
      schema: Option[StructType] = None,
      partitionHistory: Seq[String] = Nil): String = {
    val files = entries.map { e =>
      val mins = e.mins.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonVal(k)}:${jsonVal(v)}" }.mkString("{", ",", "}")
      val maxs = e.maxs.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonVal(k)}:${jsonVal(v)}" }.mkString("{", ",", "}")
      // null_value_counts (Iceberg's manifest field): omitted when empty
      // so pre-change manifests and entries stay byte-identical
      val nulls =
        if (e.nulls.isEmpty) ""
        else e.nulls.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonVal(k)}:$v" }
          .mkString(""","nulls":{""", ",", "}")
      val csizes =
        if (e.colSizes.isEmpty) ""
        else e.colSizes.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonVal(k)}:$v" }
          .mkString(""","csizes":{""", ",", "}")
      val trunc =
        if (e.truncated.isEmpty) ""
        else e.truncated.map(jsonVal).mkString(""","trunc":[""", ",", "]")
      s"""{"path":${jsonVal(e.path)},"rows":${e.rows},"size":${e.sizeBytes},"v":${e.addedV},"mins":$mins,"maxs":$maxs$nulls$csizes$trunc}"""
    }
    val del = deletes.map(jsonVal).mkString("[", ",", "]")
    val parts = partitionCols.map(jsonVal).mkString("[", ",", "]")
    val pdel = posDeletes.map(jsonVal).mkString("[", ",", "]")
    val pr = props.toSeq.sorted.map { case (k, v) => s"${jsonVal(k)}:${jsonVal(v)}" }
      .mkString("{", ",", "}")
    val edel = eqDeletes.map { e =>
      s"""{"path":${jsonVal(e.path)},"cols":${e.cols.map(jsonVal).mkString("[", ",", "]")},"seq":${e.seq}}"""
    }.mkString("[", ",", "]")
    // StructType.json is itself valid JSON — embedded verbatim. Persisting
    // the schema here is what makes every later read zero-inference: no
    // directory listing, no footer sampling (round-2 finding #2).
    val sch = schema.map(s => s""","schema":${s.json}""").getOrElse("")
    // retired partition specs (spec evolution): used ONLY for planning-time
    // projection pruning of files written under an older layout
    val ph = if (partitionHistory.isEmpty) ""
      else s""","partitionHistory":${partitionHistory.map(jsonVal).mkString("[", ",", "]")}"""
    s"""{"version":1,"deletes":$del,"partitions":$parts$ph,"posDeletes":$pdel,"eqDeletes":$edel,"props":$pr$sch,"files":[${files.mkString(",")}]}"""
  }

  /** One manifest document, parsed once: file entries, the three delete
    * kinds, partition layout and the persisted schema. [[Snapshots]]
    * memoizes it per published version; the main head's copy is the
    * table's metadata (partition spec, spec history, schema).
    */
  private[graft] final case class Manifest(files: Seq[FileStats], deletes: Seq[String],
      posDeletes: Seq[String], eqDeletes: Seq[EqDelete], partitions: Seq[String],
      partitionHistory: Seq[String], schema: Option[StructType]) {
    // Transform parse is deterministic per spec string — memoized with
    // the parse, so planning's repeated spec lookups cost nothing
    lazy val specs: Seq[Transforms.Transform] = partitions.map(Transforms.parse)
    lazy val partitionCols: Seq[String] = specs.map(_.derivedName)
    /** Transforms for PLANNING-time pruning: the current spec plus every
      * retired generation. Projection pruning is per-file self-describing —
      * a file is pruned only by transforms whose derived directory it
      * actually carries ([[GraftFileIndex]] keeps files with no matching
      * dir) — so the union is safe across spec generations, the same
      * old-files-keep-their-spec semantics as Iceberg spec evolution.
      */
    lazy val pruningSpecs: Seq[Transforms.Transform] = {
      val names = partitionCols.toSet
      specs ++ partitionHistory.map(Transforms.parse).filterNot(t => names(t.derivedName))
    }
  }

  /** Partition transform specs of the table (empty = unpartitioned). */
  def readPartitionSpecs(path: String): Seq[Transforms.Transform] =
    Snapshots.headManifest(path).map(_.specs).getOrElse(Nil)

  /** Partition DIRECTORY column names (derived names for transforms). */
  def readPartitionCols(path: String): Seq[String] =
    Snapshots.headManifest(path).map(_.partitionCols).getOrElse(Nil)

  /** Retired partition spec strings (partition-spec evolution history). */
  def readPartitionHistory(path: String): Seq[String] =
    Snapshots.headManifest(path).map(_.partitionHistory).getOrElse(Nil)

  /** Free-form table/snapshot properties (e.g. committed stream batch). */
  private[spatial] def parseProps(txt: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    (JsonMethods.parse(txt) \ "props") match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  /** Authoritative full schema with legacy backfill: manifests written
    * before schemas were persisted get ONE inference, whose result is
    * written back as a metadata-only snapshot — so the fallback fires at
    * most once in a table's lifetime and every later read is
    * zero-round-trip, the same contract new tables get at write time.
    * `head` is the main head's manifest, passed by callers that hold it.
    */
  def ensureSchema(spark: SparkSession, path: String): StructType =
    ensureSchema(spark, path, Snapshots.headManifest(path))

  def ensureSchema(spark: SparkSession, path: String, head: Option[Manifest]): StructType =
    head.flatMap(_.schema).getOrElse {
      val inferred = spark.read.format("parquet").load(path).schema
      try Snapshots.backfillSchema(path, inferred)
      catch { case _: Exception => () } // read-only filesystems keep inferring
      inferred
    }

  /** The whole manifest in one json4s pass. */
  private[spatial] def parseManifest(txt: String): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // BigDecimal parsing: a decimal(p>15) column's min/max must not round
    // through Double on read — a rounded-UP min could prune files that
    // hold matching rows. Values that round-trip Double exactly (i.e.
    // every stat a double/float column ever writes) still come back as
    // Double so downstream literal typing is unchanged.
    val j = JsonMethods.parse(txt, useBigDecimalForDouble = true)
    def toScala(v: JValue): Any = v match {
      case JString(s) => s
      case JDouble(d) => d
      case JInt(i) => i.toLong
      case JLong(l) => l
      case JDecimal(d) =>
        if (BigDecimal(d.toDouble.toString).compare(d) == 0) d.toDouble else d
      case JBool(b) => b
      case JNull => null
      case other => other.toString
    }
    def strings(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.collect { case JString(x) => x }
      case _ => Nil
    }
    val files = (j \ "files") match {
      case JArray(fs) => fs.map { f =>
        val JString(p) = f \ "path"
        val rows = toScala(f \ "rows").asInstanceOf[Number].longValue()
        val size = toScala(f \ "size").asInstanceOf[Number].longValue()
        val addedV = (f \ "v") match {
          case JInt(v) => v.toInt
          case _ => 0 // legacy manifest entry
        }
        def m(field: String): Map[String, Any] = (f \ field) match {
          case JObject(kv) => kv.map { case (k, v) => k -> toScala(v) }.toMap
          case _ => Map.empty
        }
        val nulls = m("nulls").collect { case (k, v: Number) => k -> v.longValue() }
        val csizes = m("csizes").collect { case (k, v: Number) => k -> v.longValue() }
        FileStats(p, rows, size, m("mins"), m("maxs"), addedV, nulls, csizes,
          strings(f \ "trunc"))
      }
      case _ => Nil
    }
    // equality delete files with their sequence (commit version) scoping
    val eqDeletes = (j \ "eqDeletes") match {
      case JArray(ds) => ds.collect {
        case d: JObject =>
          val JString(f) = d \ "path"
          val seq = (d \ "seq") match {
            case JInt(v) => v.toInt
            case _ => 0 // legacy manifest: applies to all files
          }
          EqDelete(f, strings(d \ "cols"), seq)
      }
      case _ => Nil
    }
    // authoritative full table schema (data + partition columns) persisted
    // at write time — None only for legacy manifests
    val schema = (j \ "schema") match {
      case JNothing | JNull => None
      case sj => DataType.fromJson(JsonMethods.compact(JsonMethods.render(sj))) match {
        case st: StructType => Some(st)
        case _ => None
      }
    }
    Manifest(files, strings(j \ "deletes"), strings(j \ "posDeletes"), eqDeletes,
      strings(j \ "partitions"), strings(j \ "partitionHistory"), schema)
  }
}
