package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, BoundReference, Coalesce, Expression, GetStructField, Literal, Predicate, SafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.spatial.{GeometryEncoding, GeometryFields, GeoTable, GraftFileIndex, Snapshots, TableSchema}

/** DSv2 `Table` over a graft snapshot table — the connector face the
  * catalog serves (`SELECT * FROM graft.db.t`), mirroring the reference's
  * `SparkTable` (`spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/SparkTable.java`).
  *
  * The scan plans input partitions straight from the manifest (pruned by
  * pushed filters through the same [[GraftFileIndex]] evaluation the V1
  * path uses, including partition-transform projection), and reads through
  * Spark's own parquet reader factory:
  *
  *  - files with NO pending delete state and NO decode/projection needs
  *    take the COLUMNAR path — full vectorized parquet + ColumnarToRow +
  *    whole-stage codegen, zero overhead (the reference's batch reads);
  *  - files with applicable positional/equality deletes, pending MoR
  *    predicate deletes, or declared geometry encodings fall to a row
  *    reader wrapped with exactly that state — the reference's
  *    `DeleteFilter` row path (`RowDataReader.java:95`).
  *
  * Pushed filters also reach the parquet readers for row-group pruning.
  */
class GraftTable(val path: String, val snapshotVersion: Option[Int],
    val branch: Option[String] = None, val tag: Option[String] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns {

  /** `_file` / `_pos` / `_deleted` / `_partition` for DQL (the
    * reference's `MetadataColumns.java` FILE_PATH / ROW_POSITION /
    * IS_DELETED / PARTITION).
    */
  override def metadataColumns(): Array[MetadataColumn] = {
    val head = Snapshots.headManifest(path)
    val partType = GraftScan.partitionKeySchema(
      head.map(_.specs).getOrElse(Nil),
      head.flatMap(_.schema).map(_.fields.toSeq).getOrElse(schema.fields.toSeq))
    GraftMetadataColumns.forSchema(schema, partType)
  }

  private def spark = SparkSession.active

  override def name(): String =
    s"graft.`$path`" + branch.map(b => s"@branch_$b").orElse(tag.map(t => s"@tag_$t")).getOrElse("")

  // the LOGICAL read schema — exactly what Snapshots.read serves (decoded
  // geometries, renames applied), derived from metadata alone
  override lazy val schema: StructType = Snapshots.schema(spark, path, snapshotVersion)

  override def capabilities(): util.Set[TableCapability] =
    if (tag.isDefined) util.EnumSet.of(TableCapability.BATCH_READ) // tags never move: read-only
    else if (branch.isDefined) // branch heads: batch append only (WAP writes)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)
    // BATCH_WRITE is required (with OVERWRITE_DYNAMIC) for Spark to plan
    // OverwritePartitionsDynamic — appends/filter-overwrites still route
    // through the V1 write (exec dispatches on the Write type, not the
    // capability set)
    else {
      val caps = util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
        TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE)
      // the reference's schema-evolve-on-write seam (SparkTable
      // capabilities + TableProperties.SPARK_WRITE_ACCEPT_ANY_SCHEMA):
      // with the property set, Spark skips output resolution and the
      // write builder enforces the contract instead — `merge-schema`
      // evolves the table, otherwise columns must already exist
      if (Snapshots.readProps(path, snapshotVersion)
          .get("write.spark.accept-any-schema").exists(_.equalsIgnoreCase("true")))
        caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      caps
    }

  /** Snapshot property map (SHOW TBLPROPERTIES / DESCRIBE EXTENDED). */
  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Snapshots.readProps(path, snapshotVersion).asJava
  }

  /** Declared partition transforms (DESCRIBE TABLE's partitioning block). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    graft.spatial.GeoTable.readPartitionSpecs(path).map {
      case graft.spatial.Transforms.Identity(c) => Expressions.identity(c)
      case graft.spatial.Transforms.Bucket(n, c, _) => Expressions.bucket(n, c)
      case graft.spatial.Transforms.Truncate(w, c, _) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(c))
      case graft.spatial.Transforms.DatePart("year", c) => Expressions.years(c)
      case graft.spatial.Transforms.DatePart("month", c) => Expressions.months(c)
      case graft.spatial.Transforms.DatePart("hour", c) => Expressions.hours(c)
      case graft.spatial.Transforms.DatePart(_, c) => Expressions.days(c)
    }.toArray
  }

  /** Filter-based `DELETE FROM` / `TRUNCATE TABLE` lowered onto the
    * copy-on-write delete (the reference's metadata-delete surface on
    * `SparkTable`). Only filters expressible as Column predicates are
    * accepted; Spark falls back to an analysis error otherwise — complex
    * conditions route through the graft DML parser instead.
    */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    branch.isEmpty && tag.isEmpty &&
      filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val cond = filters.flatMap(GraftTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    graft.spatial.Geo.install(spark)
    Snapshots.delete(spark, path, cond)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, path, snapshotVersion, schema, options)

  /** INSERT INTO/OVERWRITE lowered onto the snapshot commit protocol;
    * `toStreaming` serves `writeStream.format("graft")` / `.toTable`
    * (append mode) with per-epoch exactly-once snapshots. A branch-scoped
    * table (`t.branch_x`, the reference's SparkTable branch writes,
    * SparkTable.java:123-136 in /root/reference) appends onto the branch
    * head only — main-line readers stay isolated until `fast_forward`.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // SupportsStreamingUpdateAsAppend: update-mode streaming queries write
    // their changed rows as per-epoch appends — the reference's
    // SparkWriteBuilder implements the same (internal) marker
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      // 0 = append, 1 = truncate (full overwrite), 2 = filter overwrite,
      // 3 = dynamic partition overwrite — V2Writes calls exactly one of
      // the mode setters before build(), matching the reference's
      // SparkWriteBuilder (truncate/overwrite/overwriteDynamicPartitions)
      private var mode = 0
      private var owFilters: Array[sources.Filter] = Array.empty

      override def truncate(): WriteBuilder = { mode = 1; this }
      override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
        if (filters.length == 1 && filters(0).isInstanceOf[sources.AlwaysTrue])
          return truncate()
        mode = 2; owFilters = filters; this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = { mode = 3; this }

      // `snapshot-property.<key>` write options commit as snapshot summary
      // properties atomically with the data (the reference's
      // SparkWriteOptions / SnapshotSummary custom properties)
      private def snapshotProps: Map[String, String] = {
        import scala.jdk.CollectionConverters._
        info.options().asCaseSensitiveMap().asScala.collect {
          case (k, v) if k.toLowerCase.startsWith("snapshot-property.") =>
            k.substring("snapshot-property.".length) -> v
        }.toMap
      }

      // per-write sizing (the reference's SparkWriteOptions
      // TARGET_FILE_SIZE_BYTES — option > table property)
      private def writeOpts: Map[String, String] =
        Option(info.options().get("target-file-size-bytes"))
          .map(v => Map("target-file-size-bytes" -> v)).getOrElse(Map.empty)

      // conflict validation for overwrites: the reference's
      // validate-from-snapshot-id + isolation-level write options
      // (SparkWriteConf; serializable is the reference's default level)
      private def validateOpt: Option[(Int, String)] = {
        val o = info.options()
        Option(o.get("validate-from-version"))
          .orElse(Option(o.get("validate-from-snapshot-id")))
          .map(_.toInt)
          .map(_ -> Option(o.get("isolation-level"))
            .map(_.toLowerCase).getOrElse("serializable"))
      }

      override def build(): org.apache.spark.sql.connector.write.Write =
        if (mode == 3) {
          require(branch.isEmpty && tag.isEmpty,
            "dynamic partition overwrite is not supported on a branch or tag")
          // same contract as the V1 path: when ACCEPT_ANY_SCHEMA turned
          // Spark's output resolution off, the declared write schema must
          // resolve here — by name when every name exists, positionally
          // otherwise (merge-schema is not supported on dynamic overwrite)
          new GraftDynamicOverwrite(path,
            GraftTable.resolveWriteSchema(spark, info.schema(), schema),
            writeOpts, snapshotProps, validateOpt)
        } else new V1Write
            // partitioned writes — batch INSERT/append and EVERY streaming
            // epoch through toStreaming below — cluster rows to their
            // partition first, or D touched dirs × N tasks stage N×D
            // sliver files per write/trigger (shared with the dynamic
            // overwrite; unpartitioned tables report unspecified)
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            GraftWriteDistribution.forTable(path, info.schema())
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] = Array.empty
          override def requiredNumPartitions(): Int = 0 // AQE sizes the shuffle
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
            // under ACCEPT_ANY_SCHEMA Spark skipped output resolution, so
            // the builder enforces the reference's contract
            // (SparkWriteBuilder.validateOrMergeWriteSchema): with
            // `merge-schema`/`mergeSchema` new columns evolve the table
            // (the snapshot layer unions by name); without it every
            // written column must already exist with its declared type —
            // missing columns are fine (all graft columns are nullable,
            // readers null-fill)
            val mergeOpt = Option(info.options().get("merge-schema"))
              .orElse(Option(info.options().get("mergeSchema")))
              .exists(_.equalsIgnoreCase("true"))
            val data2 = if (mergeOpt) data else {
              val tbl = schema
              require(data.schema.length <= tbl.length,
                s"write has ${data.schema.length} columns, table has ${tbl.length} " +
                  "(write with merge-schema=true to add columns)")
              // by-name when every written name exists; otherwise by
              // POSITION (SQL INSERT arrives positionally — Spark's own
              // resolver would have done this, but ACCEPT_ANY_SCHEMA
              // turns it off), renaming to the table's canonical names
              val resolved = GraftTable.resolveWriteSchema(spark, data.schema, tbl,
                mergeHint = ", or add columns with merge-schema=true")
              data.toDF(resolved.fieldNames.toIndexedSeq: _*)
            }
            branch match {
              case Some(b) =>
                if (overwrite || mode != 0) throw new UnsupportedOperationException(
                  s"INSERT OVERWRITE is not supported on branch $b; write-audit-publish " +
                    "appends to the branch, then fast_forward publishes")
                Snapshots.appendToBranch(data2, path, b, snapshotProps, writeOpts)
              case None => mode match {
                case 1 => Snapshots.overwrite(data2, path, snapshotProps, validateOpt,
                  writeOpts)
                case 2 =>
                  val conds = owFilters.map(f => GraftTable.filterToColumn(f).getOrElse(
                    throw new UnsupportedOperationException(
                      s"overwrite condition not expressible as a column predicate: $f")))
                  Snapshots.overwriteWhere(data2, path, owFilters.toSeq,
                    conds.reduceOption(_ && _)
                      .getOrElse(org.apache.spark.sql.functions.lit(true)),
                    snapshotProps, validateOpt, writeOpts)
                case _ =>
                  if (overwrite) Snapshots.overwrite(data2, path, snapshotProps,
                    writeOptions = writeOpts)
                  else Snapshots.append(data2, path, snapshotProps, writeOpts)
              }
            }
            ()
          }
        // complete-mode streaming (Spark calls truncate() on the builder,
        // mode 1) becomes per-epoch overwrite commits — the reference's
        // asStreamingOverwrite (SparkWrite.java:181-186)
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          // ACCEPT_ANY_SCHEMA applies to micro-batch sinks too — enforce
          // the by-name contract here (no merge-schema on streaming, like
          // the reference); with the capability off this is a no-op
          // re-check. Name matching honors the session's case sensitivity
          // like [[GraftTable.resolveWriteSchema]].
          val tbl = schema
          val ci = !spark.sessionState.conf.caseSensitiveAnalysis
          info.schema().fields.foreach { f =>
            val tf = tbl.find(t =>
                if (ci) t.name.equalsIgnoreCase(f.name) else t.name == f.name)
              .getOrElse(throw new IllegalArgumentException(
                s"streaming write column ${f.name} is not in the table schema"))
            require(tf.dataType.catalogString == f.dataType.catalogString,
              s"streaming write column ${f.name}: ${f.dataType.simpleString} is not " +
                s"the table's ${tf.dataType.simpleString}")
          }
          new graft.streaming.GraftStreamingWrite(path, info.schema(), info.queryId(),
            overwrite = mode == 1, extraProps = snapshotProps,
            writeOptions = writeOpts)
        }
      }
    }
}

object GraftTable {

  /** Resolve a declared write schema against the table — ONE seat for
    * the ACCEPT_ANY_SCHEMA write faces (dynamic overwrite, the V1
    * insertable relation; Spark's own output resolution is OFF there, so
    * this replaces it and must match its posture): names compare under
    * the session's case sensitivity; by NAME when every written name
    * matches a table column, POSITIONALLY at full width otherwise. A
    * partial write with an unmatched name, a full-width frame whose
    * names cross positions, and any type mismatch reject — positional
    * resolution would otherwise land data in the wrong same-typed column
    * silently. Returns the fields in the WRITTEN order under the table's
    * canonical names.
    */
  private[sources] def resolveWriteSchema(spark: SparkSession,
      declared: org.apache.spark.sql.types.StructType,
      tbl: org.apache.spark.sql.types.StructType,
      mergeHint: String = ""): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val ci = !spark.sessionState.conf.caseSensitiveAnalysis
    def nameEq(a: String, b: String) = if (ci) a.equalsIgnoreCase(b) else a == b
    def tblIdx(n: String) = tbl.fieldNames.indexWhere(nameEq(_, n))
    def unmatched = declared.fieldNames.filterNot(n => tblIdx(n) >= 0)
    def typeCheck(name: String, written: org.apache.spark.sql.types.DataType,
        table: org.apache.spark.sql.types.DataType): Unit =
      require(table.catalogString == written.catalogString,
        s"write column $name: ${written.simpleString} is not the " +
          s"table's ${table.simpleString}")
    if (declared.fields.forall(f => tblIdx(f.name) >= 0)) {
      StructType(declared.fields.map { f =>
        val tf = tbl(tblIdx(f.name))
        typeCheck(f.name, f.dataType, tf.dataType)
        f.copy(name = tf.name)
      })
    } else {
      // positional only at FULL width (SQL INSERT with unnamed
      // select-list expressions); a PARTIAL write with an unmatched name
      // is ambiguous
      require(declared.length == tbl.length,
        s"write columns ${unmatched.mkString("[", ", ", "]")} not in the " +
          "table: partial writes resolve by name; write all columns " +
          s"positionally or match names$mergeHint")
      // full-width frames whose names match table columns at DIFFERENT
      // positions are as ambiguous as partial ones (same-position
      // matches are no-op renames, fine)
      val crossed = declared.fieldNames.zipWithIndex.collect {
        case (n, i) if tblIdx(n) >= 0 && tblIdx(n) != i => n
      }
      require(crossed.isEmpty,
        s"ambiguous write: columns ${crossed.mkString("[", ", ", "]")} match " +
          "table columns at different positions while " +
          s"${unmatched.mkString("[", ", ", "]")} match none — match every " +
          "column name, or write a fully unnamed select-list to resolve " +
          "positionally")
      StructType(declared.fields.zip(tbl.fields).map { case (df, tf) =>
        typeCheck(tf.name, df.dataType, tf.dataType)
        df.copy(name = tf.name)
      })
    }
  }
  /** V1 source filter → Column predicate (top-level columns only); None =
    * not expressible, declining the native DELETE path for this filter.
    */
  private[sources] def filterToColumn(f: sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    def c(a: String): Option[org.apache.spark.sql.Column] =
      if (a.contains('.')) None else Some(col(a))
    f match {
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.EqualTo(a, v) => c(a).map(_ === lit(v))
      case sources.EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case sources.GreaterThan(a, v) => c(a).map(_ > lit(v))
      case sources.GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case sources.LessThan(a, v) => c(a).map(_ < lit(v))
      case sources.LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case sources.In(a, vs) => c(a).map(_.isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => c(a).map(_.isNull)
      case sources.IsNotNull(a) => c(a).map(_.isNotNull)
      case sources.StringStartsWith(a, v) => c(a).map(_.startsWith(v))
      case sources.StringEndsWith(a, v) => c(a).map(_.endsWith(v))
      case sources.StringContains(a, v) => c(a).map(_.contains(v))
      case sources.Not(x) => filterToColumn(x).map(!_)
      case sources.And(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
      case sources.Or(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
      case _ => None
    }
  }
}

class GraftScanBuilder(spark: SparkSession, path: String, version: Option[Int],
    logicalSchema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  // LIMIT prunes the PLANNED FILE SET: manifest row counts bound how many
  // files can possibly be needed, so `SELECT * FROM t LIMIT 10` opens one
  // file of a 100k-file table. Spark re-applies the limit above, so this
  // is safe whenever kept-file row counts are exact lower bounds — the
  // scan skips the trim when deletes or residual filters could shrink
  // per-file row yields.
  private var limit: Option[Int] = None

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  // ---- incremental / timestamp read options (the reference's
  // SparkReadOptions surface: start-snapshot-id / end-snapshot-id /
  // start-timestamp / end-timestamp, SparkScanBuilder.java:398-427 in
  // /root/reference). Options reach this builder from BOTH faces —
  // `format("graft").option(...)` and `spark.read.option(...).table("cat.db.t")`.
  private def opt(k: String): Option[String] = Option(options.get(k))
  private def tsVersion(millis: String): Int =
    Snapshots.versionAsOfTimestamp(path, millis.toLong)
  private val endVersion: Option[Int] =
    opt("end-version").orElse(opt("end-snapshot-id")).map(_.toInt)
      .orElse(opt("end-timestamp").map(tsVersion))
  private val startVersion: Option[Int] =
    opt("start-version").orElse(opt("start-snapshot-id")).map(_.toInt)
      .orElse(opt("start-timestamp").map(tsVersion))
  // the reference's SparkScanBuilder posture: incremental options never
  // combine with table-level time travel — the files would be planned
  // along MAIN's ancestry while schema/delete state came from the
  // traveled version, silently mixing histories
  require(startVersion.isEmpty || version.isEmpty,
    "incremental read options (start-version / start-snapshot-id / start-timestamp) " +
      "cannot be combined with VERSION/TIMESTAMP AS OF or version/ref/branch/tag; " +
      "bound the window with end-version / end-snapshot-id / end-timestamp instead")
  /** Scan-effective snapshot: an explicit end bound wins over the
    * table-level time travel (`version`/`ref` options, `VERSION AS OF`);
    * an unpinned scan under an active `spark.wap.branch`/`spark.wap.id`
    * conf follows the session's audit branch (the reference's WAP reads).
    */
  private val effVersion: Option[Int] =
    endVersion.orElse(version).orElse(Snapshots.wapReadVersion(path))
  /** Incremental scans plan ONLY the files entering `(start, end]` —
    * including files a later rewrite removed from the end manifest (their
    * rows were already consumed as appended; the rewrite's own outputs
    * are skipped, matching `BaseIncrementalAppendScan`).
    */
  private lazy val incrementalFiles: Option[Seq[graft.spatial.FileStats]] =
    startVersion.map(sv => Snapshots.enteredBetween(path, sv,
      endVersion.getOrElse(Snapshots.mainVersion(path))))

  /** INTERNAL (`__files` read option): plan over exactly these manifest
    * entries (comma-separated relative paths) instead of the whole
    * snapshot. The row-level-operation seat: a CoW MERGE reads only its
    * affected files through the DSv2 scan, keeping the scan's reported
    * partitioning so a co-bucketed merge source joins storage-partitioned
    * (the reference's SparkScanBuilder stage-scan surface used by
    * TestStoragePartitionedJoinsInRowLevelOperations). Delete state,
    * decodings, and schema evolution apply exactly as in a full read.
    */
  private lazy val explicitFiles: Option[Seq[graft.spatial.FileStats]] =
    opt("__files").map { s =>
      val names = s.split(',').filter(_.nonEmpty).toSet
      val found = table.files.filter(f => names(f.path))
      require(found.size == names.size,
        s"__files names ${names.size - found.size} file(s) not in the snapshot manifest")
      found
    }

  /** The file set this scan plans over: the snapshot manifest, the
    * incremental entered set, or the explicit subset.
    */
  private def manifestForPlanning: Seq[graft.spatial.FileStats] =
    explicitFiles.orElse(incrementalFiles).getOrElse(table.files)

  /** Table metadata and the scanned snapshot, resolved once and shared
    * with the scan this builder builds.
    */
  private lazy val table = new GraftScan.TableState(spark, path, effVersion, logicalSchema)

  private var pushed: Array[sources.Filter] = Array.empty
  private var claimed: Set[sources.Filter] = Set.empty
  private var required: StructType = logicalSchema
  private var aggResult: Option[(StructType, Array[InternalRow])] = None

  /** Identity-partition columns whose dir values are present and non-null
    * on EVERY live file — predicates on them are exact at file
    * granularity. Dir-comparable types only; any pre-evolution file
    * (missing segment) or null partition dir voids the column.
    */
  private lazy val exactPartCols: Set[String] = try {
    import org.apache.spark.sql.types._
    val ident = table.specs.collect { case graft.spatial.Transforms.Identity(c) => c }
    if (ident.isEmpty) Set.empty
    else {
      val typed = logicalSchema.fields.filter(f => ident.contains(f.name)).collect {
        case f if (f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | StringType |
               DateType | BooleanType => true
          case _ => false
        }) => f.name
      }.toSet
      if (typed.isEmpty) Set.empty
      else {
        // one dir parse per file, checked against every candidate column
        val perFile = manifestForPlanning.map(_.dirVals)
        typed.filter(c => perFile.forall(kv =>
          graft.spatial.PartitionPaths.value(kv, c).isDefined))
      }
    }
  } catch { case _: Exception => Set.empty }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters
    // claim filters the manifest pruning evaluates EXACTLY (identity
    // partition dirs) — Spark drops the row-level re-evaluation; all
    // other filters stay residual (pruning is inclusive)
    claimed = filters.filter {
      case sources.EqualTo(a, v) => exactPartCols(a) && GraftScan.comparableDirLiteral(v)
      case sources.In(a, vs) =>
        exactPartCols(a) && vs.nonEmpty && vs.forall(GraftScan.comparableDirLiteral)
      case sources.IsNotNull(a) => exactPartCols(a)
      case _ => false
    }.toSet
    filters.filterNot(claimed)
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep the table's field order for a stable physical row layout
    val names = requiredSchema.fieldNames.toSet
    required = StructType(logicalSchema.fields.filter(f => names(f.name)))
    // requested metadata columns (_file/_pos/_deleted) arrive in the same
    // required schema (Spark's AddMetadataColumns resolved them against
    // the table's metadataColumns) — split them out; the scan serves them
    // as a fixed-order tail after the data columns. A data column of the
    // same name shadows the metadata column (it stays in `required`).
    val dataNames = logicalSchema.fieldNames.toSet
    metaCols = GraftMetadataColumns.ordered.filter(c => names(c) && !dataNames(c))
  }

  private var metaCols: Seq[String] = Nil

  // ---- aggregate pushdown: answer COUNT(*) / MIN / MAX from the manifest
  // (the reference's SparkScanBuilder.pushAggregation,
  // spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/SparkScanBuilder.java:202-274
  // in /root/reference) — `SELECT count(*) FROM graft.db.t` becomes a
  // driver-side O(#files) manifest fold, zero data files opened. Same
  // guards as the V1 rule [[graft.plans.StatsAggregatePushdown]]: no
  // residual filters, no pending delete state (deleted rows would make
  // manifest counts overcount), stats present for every referenced column.

  // memoized per Aggregation: Spark calls supportCompletePushDown then
  // pushAggregation with the same instance — one manifest + delete-state
  // read instead of two
  private var lastAgg: (Aggregation, Option[(StructType, Array[InternalRow])]) = _

  private def evalCached(agg: Aggregation): Option[(StructType, Array[InternalRow])] = {
    // the session kill-switch shared with the V1 rule — lets users force
    // a real scan when auditing results
    if (!graft.plans.StatsAggregatePushdown.enabled(spark.sessionState.conf)) return None
    val last = lastAgg
    if (last != null && (last._1 eq agg)) last._2
    else { val r = evalAggregation(agg); lastAgg = (agg, r); r }
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    evalCached(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    evalCached(aggregation) match {
      case Some(r) => aggResult = Some(r); true
      case None => false
    }

  private def evalAggregation(agg: Aggregation): Option[(StructType, Array[InternalRow])] = try {
    // filters are allowed iff ALL of them were claimed as exact-at-file-
    // granularity identity-partition predicates: the surviving files then
    // contain ONLY matching rows, so manifest counts/stats stay exact
    // (the reference's partition-aligned pushAggregation)
    if (!pushed.forall(claimed)) return None
    // GROUP BY pushes down iff every group column is a castable identity
    // partition column: the dir value IS the group key for all of a
    // file's rows, so grouping files by dir tuple is exact — a 100 TB
    // partition histogram with zero files opened (beyond the reference,
    // which declines grouped aggregations)
    import org.apache.spark.sql.types.{DataType => SDataType}
    val groupCols: Option[Seq[(String, SDataType)]] = {
      val identCols = table.specs
        .collect { case graft.spatial.Transforms.Identity(c) => c }.toSet
      val resolved = agg.groupByExpressions.toSeq.map {
        case n: NamedReference if n.fieldNames.length == 1 &&
            identCols(n.fieldNames.head) =>
          logicalSchema.fields.find(_.name == n.fieldNames.head)
            .filter(f => graft.spatial.PartitionPaths.castable(f.dataType))
            // NOT float/double: boxed == splits NaN (and -0.0 vs 0.0)
            // into distinct groups where Spark's NormalizeFloatingNumbers
            // would merge them — pushed results would silently differ
            .filterNot(f => f.dataType == org.apache.spark.sql.types.FloatType ||
              f.dataType == org.apache.spark.sql.types.DoubleType)
            .map(f => f.name -> f.dataType)
        case _ => None
      }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.map(_.get))
    }
    if (groupCols.isEmpty) return None
    if (table.morConds.nonEmpty || table.eqDeletes.nonEmpty || table.posDeletes.nonEmpty)
      return None
    val stats = manifestForPlanning.filter(f =>
      pushed.forall(GraftScan.exactlyMatches(f.dirVals, _)))
    val schemaEntries = TableSchema.read(path)
    val encoded = GeometryFields.get(path).keySet
    import org.apache.spark.sql.types._
    def key(e: org.apache.spark.sql.connector.expressions.Expression): Option[(String, DataType)] =
      e match {
        case n: NamedReference if !n.fieldNames.exists(encoded) =>
          val parts = n.fieldNames.toSeq
          // nested-aware logical → physical stats-key mapping
          val phys = TableSchema.physicalFieldPath(schemaEntries, parts).mkString(".")
          val dt = parts match {
            case Seq(c) => logicalSchema.fields.find(_.name == c).map(_.dataType)
            case Seq(c, leaf) => logicalSchema.fields.find(_.name == c).map(_.dataType)
              .collect { case st: StructType if st.fieldNames.contains(leaf) => st(leaf).dataType }
            case _ => None
          }
          dt.filter {
            case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
                 StringType | DateType | TimestampType => true
            case _ => false
          }.map(phys -> _)
        case _ => None
      }
    // each aggregate as a manifest-stats aggregate with its result field;
    // the shared evaluator folds it per group of files
    import graft.plans.StatsAggregatePushdown.{evaluate, StatAgg}
    val statAggs: Seq[(StructField, StatAgg)] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(StructField("count(*)", LongType, nullable = false) -> StatAgg.CountStar)
      case m: Min => key(m.column).map { case (k, dt) =>
        StructField(s"min($k)", dt) -> StatAgg.MinCol(k, dt) }
      case m: Max => key(m.column).map { case (k, dt) =>
        StructField(s"max($k)", dt) -> StatAgg.MaxCol(k, dt) }
      case c: org.apache.spark.sql.connector.expressions.aggregate.Count if !c.isDistinct =>
        key(c.column).map { case (k, _) =>
          StructField(s"count($k)", LongType, nullable = false) -> StatAgg.CountCol(k) }
      case _ => return None
    }.map(_.getOrElse(return None))
    // aggregate values over one group of files; None = not answerable
    def valuesOver(gstats: Seq[graft.spatial.FileStats]): Option[Seq[Any]] = {
      val vs = statAggs.map { case (_, a) => evaluate(a, gstats) }
      if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get))
    }
    val gcs = groupCols.get
    if (gcs.isEmpty) {
      valuesOver(stats).map(vs =>
        (StructType(statAggs.map(_._1)), Array(InternalRow.fromSeq(vs))))
    } else {
      // group key per file from its dir tuple; any missing segment or
      // uncastable value makes grouping undecidable → decline
      val keyed = stats.map { f =>
        val kv = f.dirVals
        val gk = gcs.map { case (c, dt) =>
          kv.get(c) match {
            case None => return None
            case Some(graft.spatial.PartitionPaths.NullSentinel) => Some(null): Option[Any]
            case Some(v) => graft.spatial.PartitionPaths.cast(v, dt) match {
              case None => return None
              case some => some
            }
          }
        }
        gk.map(_.get) -> f
      }
      val rows = keyed.groupBy(_._1).toSeq.map { case (gvals, files) =>
        valuesOver(files.map(_._2)) match {
          case None => return None
          case Some(vs) => InternalRow.fromSeq(gvals ++ vs)
        }
      }
      // schema: group columns first, then aggregates (the layout Spark's
      // pushdown rewrite expects)
      val schema = StructType(
        gcs.map { case (c, dt) => StructField(c, dt) } ++ statAggs.map(_._1))
      Some((schema, rows.toArray))
    }
  } catch { case _: Exception => None }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, rows)) => GraftLocalAggScan(aggSchema, rows)
    case None => new GraftScan(spark, path, effVersion, table, required, pushed,
      exactFilters = claimed.toArray, limit = limit,
      streamOptions = {
        import scala.jdk.CollectionConverters._
        options.asCaseSensitiveMap().asScala.toMap
      },
      incrementalFiles = explicitFiles.orElse(incrementalFiles),
      metaCols = metaCols)
  }
}

/** A fully-pushed aggregate answered on the driver: Spark plans a local
  * table scan over these pre-computed rows — no executors, no files.
  */
case class GraftLocalAggScan(aggSchema: StructType, rows: Array[InternalRow])
    extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def description(): String = s"GraftLocalAggScan${aggSchema.fieldNames.mkString("[", ", ", "]")}"
}

/** `pruneFilters` carries conjuncts recovered AFTER scan construction by
  * [[graft.spatial.Geo]]'s late optimizer rule — the spatial bbox rewrite
  * runs in the user-rule batch, which is after V2ScanRelationPushDown, so
  * its derived conjuncts would otherwise never reach the manifest index.
  */
class GraftScan(spark: SparkSession, path: String, version: Option[Int],
    /** Table-level state resolved once from metadata; the copies
      * `withMorePruning` / `withExtraReadColumn` make share it.
      */
    table: GraftScan.TableState,
    required: StructType, pushed: Array[sources.Filter],
    val pruneFilters: Array[sources.Filter] = Array.empty,
    /** Filters the builder CLAIMED as fully pushed (exact identity-
      * partition predicates): Spark re-evaluates nothing for them, so
      * planning must drop every file not exactly matching — including
      * null-dir files the inclusive pruning would conservatively keep.
      */
    exactFilters: Array[sources.Filter] = Array.empty,
    /** Pushed LIMIT: trims the planned file set to the first files whose
      * cumulative row count covers it — only when every kept row is
      * guaranteed to surface (no deletes, no residual filters).
      */
    limit: Option[Int] = None,
    /** Read options (admission control for `readStream.table`). */
    streamOptions: Map[String, String] = Map.empty,
    /** Incremental scan (`start-version` et al.): plan over exactly the
      * files entering `(start, end]` instead of the snapshot manifest —
      * `version` is the end bound, so the end snapshot's delete state
      * applies to the entered rows through the normal per-file scoping.
      */
    incrementalFiles: Option[Seq[graft.spatial.FileStats]] = None,
    /** Requested metadata columns (`_file`/`_pos`/`_deleted`), served as a
      * fixed-order tail after the data columns. `_deleted` switches the
      * MoR delete application from filter to mark-and-keep (the
      * reference's `DeleteFilter` with IS_DELETED in the expected schema).
      */
    metaCols: Seq[String] = Nil) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning {

  import table.{encodings, eqDeletes, fullSchemaFields, logicalFull, logicalToPhysical,
    morConds, partCols, physicalDataSchema, posCov, posCovBySuffix, posRefs, pruningSpecs,
    resolveEqCol, schemaEntries}

  /** `spark.readStream.table("cat.db.t")` — the reference's
    * `SparkTable.java:105-109` advertises MICRO_BATCH_READ on catalog
    * identifiers. Offsets/admission come from the committed-chain stream;
    * rows are served through THIS scan's batch reader factory, so
    * declared encodings, renames, and per-file delete state apply
    * identically to batch reads.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    def opt(k: String) = streamOptions.collectFirst {
      case (n, v) if n.equalsIgnoreCase(k) => v
    }
    new graft.streaming.GraftCatalogMicroBatchStream(this, path,
      opt("maxFilesPerTrigger").map(_.toInt).getOrElse(Int.MaxValue),
      opt("maxRecordsPerTrigger").map(_.toLong).getOrElse(Long.MaxValue),
      opt("maxBytesPerTrigger").map(_.toLong).getOrElse(Long.MaxValue),
      opt("stream-from-timestamp").map(_.toLong),
      opt("branch"),
      opt("streaming-skip-delete-snapshots").forall(_.toBoolean),
      opt("streaming-skip-overwrite-snapshots").forall(_.toBoolean))
  }

  /** Same scan with extra pruning conjuncts; `this` when nothing new (the
    * fixed-point convergence guarantee for the rewrite rule).
    */
  def withMorePruning(extra: Seq[sources.Filter]): GraftScan = {
    val known = (pushed ++ pruneFilters).toSet
    val fresh = extra.filterNot(known)
    if (fresh.isEmpty) this
    else new GraftScan(spark, path, version, table, required, pushed, pruneFilters ++ fresh,
      exactFilters, limit, streamOptions, incrementalFiles, metaCols)
  }

  /** Same scan additionally READING logical column `name` — the seam the
    * late spatial-join rule uses to re-expose a shadow struct V2 column
    * pruning removed (pruning bakes the read schema into the scan, so a
    * Project extension can't recover it the way the V1 path's can).
    * None when the column doesn't exist, is a partition column (layout
    * position would differ), or is already read. The caller must extend
    * the relation OUTPUT at the matching readSchema position.
    */
  def withExtraReadColumn(name: String): Option[GraftScan] =
    if (required.fieldNames.contains(name) || partCols.contains(name)) None
    else logicalFull.fields.find(_.name == name).map { f =>
      new GraftScan(spark, path, version, table, StructType(required.fields :+ f),
        pushed, pruneFilters, exactFilters, limit, streamOptions,
        incrementalFiles, metaCols)
    }

  // delete-referenced columns the projection pruned away
  private val extraCols: Seq[String] = {
    val have = required.fieldNames.toSet
    table.deleteCols.filterNot(have)
  }

  /** Logical fields actually read: required ++ delete-referenced extras,
    * data fields first, partition fields last (the DSv2 file-scan layout).
    */
  private val readLogical: Seq[org.apache.spark.sql.types.StructField] = {
    val all = required.fields.toSeq ++ extraCols.map(c => logicalFull(c))
    all.filterNot(f => partCols.contains(f.name)) ++ all.filter(f => partCols.contains(f.name))
  }
  private val readLogicalData = readLogical.filterNot(f => partCols.contains(f.name))
  private val readLogicalPart = readLogical.filter(f => partCols.contains(f.name))

  // physical twin of each logical data field (the column name and type as
  // stored in the files)
  private val readPhysicalData: StructType = StructType(readLogicalData.map { f =>
    val phys = logicalToPhysical.getOrElse(f.name, f.name)
    val dt = encodings.get(f.name).map(GeometryEncoding.physicalType)
      .getOrElse(physicalDataSchema.fields.find(_.name == phys).map(_.dataType)
        .getOrElse(f.dataType))
    org.apache.spark.sql.types.StructField(phys, dt, nullable = true)
  })
  private[graft] val readPartSchema: StructType = StructType(readLogicalPart)

  override def readSchema(): StructType =
    StructType(readLogicalData.filterNot(f => extraCols.contains(f.name)) ++
      readLogicalPart.filterNot(f => extraCols.contains(f.name)) ++
      metaCols.map(GraftMetadataColumns.field(_, spjKeySchema)))

  override def toBatch: Batch = this

  // ---- statistics from the pruned manifest (the reference's
  // SparkScan#estimateStatistics,
  // spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/SparkScan.java:93,242
  // in /root/reference): without this DataSourceV2Relation falls back to
  // defaultSizeInBytes and a small catalog dimension table never
  // auto-broadcasts in the initial plan. Row counts are an upper bound
  // while MoR deletes are pending — correct posture for estimates.
  override def estimateStatistics(): Statistics = {
    val files = plannedFiles
    val rows = files.map(_.rows).sum
    // report rows × estimated IN-MEMORY row width of the read schema, not
    // compressed parquet bytes (the reference's SparkScan.java:260-264 via
    // SparkSchemaUtil.estimateSize): compressed size undercounts 5-20x for
    // wide string columns, and sizeInBytes drives broadcast decisions — a
    // "9 MB" on-disk dim can be 100+ MB on-heap, an OOM vector
    val rowWidth = 8L + readSchema().fields.map(_.dataType.defaultSize.toLong).sum
    val size = rows * rowWidth
    // per-column min/max folded from the pruned manifest — Spark's
    // transformV2Stats turns these into catalyst attributeStats, feeding
    // CBO filter-selectivity and join-reorder estimates (the reference
    // reports rows/size only; range estimates at 100 TB are what lets the
    // optimizer order a 5-way join without scanning anything). The fold is
    // O(#files × #cols) driver work, so it runs only when CBO — its sole
    // consumer — is enabled.
    val cols: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (!spark.sessionState.conf.cboEnabled) java.util.Collections.emptyMap()
      else buildColumnStats(files)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
    }
  }

  private def buildColumnStats(files: Seq[graft.spatial.FileStats])
      : java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    def opt(v: Option[Any]): java.util.Optional[Object] = v match {
      case Some(x) => java.util.Optional.of(x.asInstanceOf[Object])
      case None => java.util.Optional.empty[Object]()
    }
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    // NDV recorded by compute_table_stats: properties are snapshot-
    // versioned, so a time-travel read can only ever see stats committed
    // at or before its version (never from its future)
    val ndv = Snapshots.ndvStats(path, version)
    readSchema().fields.foreach { f =>
      // encoded geometry columns carry bbox structs, not orderable scalars
      if (!encodings.contains(f.name)) {
        val phys = logicalToPhysical.getOrElse(f.name, f.name)
        val mn = graft.plans.StatsAggregatePushdown.fold(
          files.map(_.mins.get(phys)), f.dataType, isMin = true)
        val mx = graft.plans.StatsAggregatePushdown.fold(
          files.map(_.maxs.get(phys)), f.dataType, isMin = false)
        val nc: Option[Long] =
          if (files.nonEmpty && files.forall(_.nulls.contains(phys)))
            Some(files.map(_.nulls(phys)).sum)
          else None
        val dc: Option[Long] = ndv.get(f.name)
        if (mn.isDefined || mx.isDefined || nc.isDefined || dc.isDefined) {
          out.put(org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new ColumnStatistics {
              override def min(): java.util.Optional[Object] = opt(mn)
              override def max(): java.util.Optional[Object] = opt(mx)
              override def nullCount(): java.util.OptionalLong =
                nc.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
              override def distinctCount(): java.util.OptionalLong =
                dc.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
            })
        }
      }
    }
    out
  }

  // ---- runtime filtering (the reference's SparkBatchQueryScan
  // SupportsRuntimeV2Filtering, SparkBatchQueryScan.java:62,156): after the
  // build side of a join executes, Spark hands back IN-predicates on the
  // partition source columns; re-pruning through the same manifest
  // evaluation (incl. transform projection — `id IN (…)` opens only the
  // matching bucket dirs) shrinks a 100 TB fact scan to the joined keys.
  private var runtimeFilters: Array[sources.Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] = {
    val partSrcs = table.specs.map(_.source)
    // beyond partition sources: any atomic data column with per-file
    // min/max in the manifest can prune files at runtime too — a
    // dim-filtered join on a non-partition key over clustered data drops
    // whole files from the fact scan (the ref's metrics-based residual
    // evaluation reaches the same filters). Binary/geometry columns are
    // excluded: their stats are bbox structs, not orderable scalars.
    val physicalToLogical = logicalToPhysical.map(_.swap)
    def statPrunable(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
             StringType | BooleanType | DateType | TimestampType | _: DecimalType => true
        case _ => false
      }
    }
    val statted = try {
      val keys = table.files.flatMap(f => f.mins.keysIterator ++ f.maxs.keysIterator).toSet
      fullSchemaFields.collect {
        case f if statPrunable(f.dataType) && keys.contains(f.name) =>
          physicalToLogical.getOrElse(f.name, f.name)
      }
    } catch { case _: Exception => Seq.empty }
    // Spark resolves these refs against the scan's PRUNED output (a miss
    // is an AnalysisException, not a decline) — restrict to served
    // columns; a runtime-filterable join key is in the output by nature
    val served = readSchema().fieldNames.toSet
    (partSrcs ++ statted).distinct.filter(served)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val v1 = predicates.flatMap(GraftScan.v2ToV1)
    if (v1.nonEmpty) { runtimeFilters ++= v1; plannedCache = null }
  }

  override def description(): String =
    s"GraftScan $path${version.map(v => s"@v$v").getOrElse("")} " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"

  // ---- partitioning report (the reference's SparkPartitioningAwareScan,
  // spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/SparkPartitioningAwareScan.java:61,119
  // in /root/reference): a partition-transformed table reports
  // KeyGroupedPartitioning over its transforms; two co-partitioned
  // `graft.db.*` tables then join as a storage-partitioned join — ZERO
  // exchanges, the shuffle that dominates a 100 TB fact-fact join gone.
  // Transforms resolve to catalyst TransformExpressions through the
  // catalog's V2 function registry ([[GraftFunctions]]); per-file key rows
  // ride each [[GraftInputPartition]] (HasPartitionKey) and Spark groups
  // same-key files into one task. After partition-spec evolution the claim
  // only holds if every live file is laid out under the CURRENT spec —
  // any file missing a derived dir voids the report (same guard as the V1
  // path's BucketSpec, `spatial/GeoTable.scala`).

  private[sources] def spjSpecs: Seq[graft.spatial.Transforms.Transform] = table.specs

  /** Names of HIDDEN derived partition columns (bucket/truncate/date
    * transforms): filters on them prune via directory segments only — the
    * column doesn't exist in data files, so they must never reach row- or
    * stats-level evaluation.
    */
  private lazy val derivedDirNames: Set[String] =
    spjSpecs.filterNot(_.isInstanceOf[graft.spatial.Transforms.Identity])
      .map(_.derivedName).toSet

  private def isDirFilter(f: sources.Filter): Boolean =
    f.references.nonEmpty && f.references.forall(derivedDirNames)

  /** Data types of the per-file partition key row, in spec order; None =
    * unpartitioned or a transform whose key type can't be established
    * (e.g. truncate over a dropped source column).
    */
  private lazy val spjKeySchema: Option[StructType] =
    GraftScan.partitionKeySchema(spjSpecs, fullSchemaFields)

  private def keyRowOf(rel: String): Option[InternalRow] =
    spjKeySchema.flatMap(ks => GraftScan.partitionKeyRow(rel, spjSpecs, ks))

  private def keyRowOf(f: graft.spatial.FileStats): Option[InternalRow] =
    spjKeySchema.flatMap(ks => GraftScan.partitionKeyRowOf(f.dirVals, spjSpecs, ks))

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    import org.apache.spark.sql.connector.expressions.Expressions
    import graft.spatial.Transforms._
    spjKeySchema match {
      case Some(_) =>
        val files = plannedFiles
        val keys = files.map(keyRowOf)
        if (files.isEmpty || keys.exists(_.isEmpty)) new UnknownPartitioning(0)
        else {
          val v2 = spjSpecs.map {
            case Identity(c) => Expressions.identity(c)
            case Bucket(n, c, _) => Expressions.bucket(n, c)
            case Truncate(w, c, _) =>
              Expressions.apply("truncate", Expressions.literal(w), Expressions.column(c))
            case DatePart("year", c) => Expressions.years(c)
            case DatePart("month", c) => Expressions.months(c)
            case DatePart("hour", c) => Expressions.hours(c)
            case DatePart(_, c) => Expressions.days(c)
          }.toArray[org.apache.spark.sql.connector.expressions.Expression]
          new KeyGroupedPartitioning(v2, keys.map(_.get).distinct.length)
        }
      case None => new UnknownPartitioning(0)
    }
  }

  // ---- planning: manifest pruning through GraftFileIndex ------------------

  private def catalystFilters: Seq[Expression] = {
    def attr(name: String): Option[Expression] = {
      val phys = logicalToPhysical.getOrElse(name, name)
      if (physicalDataSchema.fieldNames.contains(phys) || partCols.contains(phys))
        Some(AttributeReference(phys,
          fullSchemaFields.find(_.name == phys).map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.StringType))())
      else name.split('.') match {
        case Array(root, leaf) =>
          val physRoot = logicalToPhysical.getOrElse(root, root)
          fullSchemaFields.find(_.name == physRoot).map(_.dataType) match {
            case Some(st: StructType) if st.fieldNames.contains(leaf) =>
              Some(GetStructField(AttributeReference(physRoot, st)(),
                st.fieldIndex(leaf), Some(leaf)))
            case _ => None
          }
        case _ => None
      }
    }
    def conv(f: sources.Filter): Option[Expression] = f match {
      case sources.EqualTo(a, v) => attr(a).map(ce.EqualTo(_, Literal(v)))
      case sources.GreaterThan(a, v) => attr(a).map(ce.GreaterThan(_, Literal(v)))
      case sources.GreaterThanOrEqual(a, v) => attr(a).map(ce.GreaterThanOrEqual(_, Literal(v)))
      case sources.LessThan(a, v) => attr(a).map(ce.LessThan(_, Literal(v)))
      case sources.LessThanOrEqual(a, v) => attr(a).map(ce.LessThanOrEqual(_, Literal(v)))
      case sources.In(a, vs) => attr(a).map(x => ce.In(x, vs.toIndexedSeq.map(Literal(_))))
      // null-count pruning: IS [NOT] NULL reaches FileStats' null_value_counts
      case sources.IsNull(a) => attr(a).map(ce.IsNull)
      case sources.IsNotNull(a) => attr(a).map(ce.IsNotNull)
      case sources.And(l, r) => for (a <- conv(l); b <- conv(r)) yield ce.And(a, b)
      case sources.Or(l, r) => for (a <- conv(l); b <- conv(r)) yield ce.Or(a, b)
      case _ => None
    }
    (pushed ++ pruneFilters ++ runtimeFilters).filterNot(isDirFilter).flatMap(conv).toSeq
  }

  /** Planning-only partition schema: every IDENTITY partition column with
    * its declared type, whether or not the query reads it — a filter (or a
    * runtime DPP predicate) on a partition column must prune directories
    * even when the column is pruned from the output.
    */
  private val planningPartSchema: StructType = StructType(
    table.specs.collect { case graft.spatial.Transforms.Identity(c) => c }
      .flatMap(c => fullSchemaFields.find(_.name == c))
      // only castable types: an uncastable (timestamp/decimal) dir value
      // cannot drive pruning decisions — see PartitionPaths.castable
      .filter(f => graft.spatial.PartitionPaths.castable(f.dataType))
      .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType)))

  // planning result memoized per runtime-filter state: statistics,
  // partitioning report, and input-partition planning all consume it in
  // one query planning — without the cache a 100k-file table parses its
  // manifest and re-evaluates stats 3-4x per query on the driver
  @volatile private var plannedCache: Seq[graft.spatial.FileStats] = _

  private def plannedFiles: Seq[graft.spatial.FileStats] = {
    val cached = plannedCache
    if (cached != null) return cached
    val computed = computePlannedFiles
    plannedCache = computed
    computed
  }

  // ---- scan metrics (the reference's SparkScan custom metrics:
  // TestSparkReadMetrics / metrics/* in spark/source) — planning-time
  // pruning observability surfaced into the SQL UI node: how many
  // manifest files the scan kept vs skipped, their byte volume, and the
  // delete files riding along. All values fall out of the memoized
  // planning pass — reporting reads no extra metadata.
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ResultDataFilesMetric, new SkippedDataFilesMetric,
      new TotalFileSizeMetric, new ResultDeleteFilesMetric)

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val candidates = incrementalFiles.getOrElse(table.files)
    val result = plannedFiles
    Array(GraftScan.DriverMetric("resultDataFiles", result.size),
      GraftScan.DriverMetric("skippedDataFiles", candidates.size - result.size),
      GraftScan.DriverMetric("totalFileSize", result.map(_.sizeBytes).sum),
      GraftScan.DriverMetric("resultDeleteFiles", posRefs.size + eqSpecs.size))
  }

  private def computePlannedFiles: Seq[graft.spatial.FileStats] = {
    val manifest0 = incrementalFiles.getOrElse(table.files)
    // claimed filters are not re-evaluated above the scan: enforce them
    // exactly here (drops null-dir files inclusive pruning would keep)
    val manifest1 =
      if (exactFilters.isEmpty) manifest0
      else manifest0.filter(f =>
        exactFilters.forall(GraftScan.exactlyMatches(f.dirVals, _)))
    // derived-dir filters (explicit transform-function predicates like
    // `system.bucket(4, id) = 1`, recovered by the late pushdown rule):
    // evaluated INCLUSIVELY against directory segments — a file missing
    // the segment (pre-evolution layout) is kept; Spark re-evaluates the
    // original function predicate above the scan, so pruning here only
    // has to be a superset
    val dirFs = (pruneFilters ++ runtimeFilters).filter(isDirFilter)
    val manifest =
      if (dirFs.isEmpty) manifest1
      else manifest1.filter(f => dirFs.forall(GraftScan.dirMightMatch(f.dirVals, _)))
    val index = new GraftFileIndex(spark, new Path(path), manifest,
      readPhysicalData, planningPartSchema, pruningSpecs)
    val keep = index.listFiles(Nil, catalystFilters)
      .flatMap(_.files.map(_.getPath.toUri.getPath)).toSet
    val kept = manifest.filter(f =>
      keep.contains(new Path(new Path(path), f.path).toUri.getPath))
    // LIMIT trim: safe only when every row of every kept file surfaces —
    // no delete state, and no filters beyond the claimed-exact ones
    // (residual, late-recovered, or runtime filters shrink row yields)
    limit match {
      case Some(n) if posRefs.isEmpty && eqDeletes.isEmpty && morConds.isEmpty &&
          pruneFilters.isEmpty && runtimeFilters.isEmpty &&
          pushed.forall(exactFilters.contains) =>
        var cum = 0L
        kept.takeWhile { f => val need = cum < n; cum += f.rows; need }
      case _ => kept
    }
  }

  /** Bind one equality delete's key ordinals against THIS scan's row
    * layout (pruned/projected logical data ++ partition columns) — the
    * layout its reader factory emits. The catalog micro-batch stream
    * delegates here: its rows serve through this scan's readers, so
    * ordinals bound against the full physical schema (the path-based
    * stream's layout) would index the wrong fields.
    */
  private[graft] def bindEqSpec(e: graft.spatial.EqDelete): Option[EqDeleteSpec] = {
    val logicalCombined = StructType(readLogicalData ++ readLogicalPart)
    // a delete key column missing from the logical layout is usually a
    // later RENAME (delete cols record the name at delete time, i.e. the
    // physical one) — remap physical → current logical via
    // [[resolveEqCol]] (extraCols used the same resolver, so the remapped
    // column is guaranteed IN the read layout); a column resolvable
    // NEITHER way must fail LOUD (silently dropping the spec resurrects
    // deleted rows; the V1 read path fails on the missing column too)
    val resolved = e.cols.map { c =>
      resolveEqCol(c).filter(logicalCombined.fieldNames.contains)
        .getOrElse(throw new IllegalStateException(
          s"equality delete ${e.path} keys on column '$c', which resolves " +
            "to no current table column — the delete cannot be applied"))
    }
    val ordinals = resolved.map(logicalCombined.fieldIndex).toArray
    val types = ordinals.map(logicalCombined(_).dataType)
    // the delete PARQUET is read under its own at-delete-time column
    // names (e.cols); values compare by position against the resolved
    // scan ordinals
    val keySchema = StructType(e.cols.zip(types).map { case (c, t) =>
      org.apache.spark.sql.types.StructField(c, t) })
    val ref = DeleteFiles.refs(spark, path, Seq(e.path)).head
    Some(EqDeleteSpec(ref, ordinals, types, e.seq,
      DeleteFiles.readerFactory(spark, keySchema)))
  }

  private lazy val eqSpecs: Seq[EqDeleteSpec] = eqDeletes.flatMap(bindEqSpec)

  /** Each task carries the table-relative path(s) and exactly the delete
    * files scoped to each — the reference's per-task `DeleteFilter`
    * attachment; readers resolve delete contents executor-side. Oversized
    * files split into byte ranges and small files bin-pack into shared
    * tasks ([[TaskPlanner]]); packing never crosses SPJ key groups.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = plannedFiles
    val index = new GraftFileIndex(spark, new Path(path), files,
      readPhysicalData, readPartSchema, pruningSpecs)
    val byAbs = files.map(f => new Path(new Path(path), f.path).toUri.getPath -> f).toMap
    // one key per task only when the partitioning report is live — the
    // same condition outputPartitioning() checks
    val spjActive = spjKeySchema.isDefined && files.nonEmpty &&
      files.forall(f => keyRowOf(f).isDefined)
    val items = index.listFiles(Nil, Nil).flatMap { dir =>
      dir.files.map { st =>
        val abs = st.getPath.toUri.getPath
        val fstat = byAbs.get(abs)
        val rel = fstat.map(_.path).getOrElse(abs)
        val addedV = fstat.map(_.addedV).getOrElse(Int.MaxValue)
        val pos = posCov.getOrElse(DeleteFiles.norm(abs),
          posCovBySuffix.getOrElse(rel, Nil))
        // seq == 0 is the LEGACY stamp: "applies to every file"
        // (EqDelete.appliesTo) — a strict < alone silently skipped every
        // legacy equality delete on this path while the V1 read applied it
        val eqs = eqSpecs.filter(s => s.seq == 0 || addedV < s.seq)
        val partKey = fstat.map(keyRowOf).getOrElse(keyRowOf(rel)).orNull
        TaskPlanner.Item(
          PartitionedFile(dir.values,
            org.apache.spark.paths.SparkPath.fromPath(st.getPath), 0, st.getLen),
          GraftFileSlice(rel, pos.toArray, eqs, partKey),
          partKey,
          // positional deletes address file-absolute row positions — the
          // whole file must stay in one task for pos reconstruction
          splittable = pos.isEmpty)
      }
    }
    // per-read planning knobs (the reference's SparkReadOptions SPLIT_SIZE
    // / FILE_OPEN_COST with the read.split.* table-property fallbacks)
    def knob(opt: String, prop: String): Option[Long] = {
      val o = streamOptions.collectFirst {
        case (k, v) if k.equalsIgnoreCase(opt) => v }
      o.orElse(scala.util.Try(
          graft.spatial.Snapshots.readProps(path, version).get(prop))
        .toOption.flatten)
        .map(_.toLong)
    }
    TaskPlanner.plan(spark, items, groupByKey = spjActive,
      splitSize = knob("split-size", "read.split.target-size"),
      openCostOpt = knob("file-open-cost", "read.split.open-file-cost"))
  }

  // ---- execution ----------------------------------------------------------

  override def createReaderFactory(): PartitionReaderFactory =
    buildReaderFactory(forceRowDeletes = false)

  /** Reader factory for the catalog micro-batch stream: delete state
    * EVOLVES across batches while this scan instance lives for the whole
    * query, so (1) a pos-delete reader factory ALWAYS ships — deciding
    * None from this scan's lazily-snapshotted `posRefs` would NPE on
    * deletes committed mid-stream — and (2) readers stay on the row path
    * so each batch's freshly-planned per-slice delete state is always
    * applied (a clean-at-start stream would otherwise keep columnar
    * readers and silently resurface rows deleted later). Same posture as
    * the path-based [[graft.streaming.GraftStreamReaderFactory]].
    */
  /** Reader factory for the catalog micro-batch stream. Predicate
    * deletes EVOLVE across batches while this scan instance lives for
    * the whole query — the caller passes the conds of the batch's OWN
    * head (branch-aware), because the scan's `morConds` val is a
    * construction-time snapshot and would miss every predicate delete
    * committed after stream start.
    */
  private[graft] def streamReaderFactory(
      freshMorConds: Seq[String]): PartitionReaderFactory =
    buildReaderFactory(forceRowDeletes = true, condsOverride = Some(freshMorConds))

  private def buildReaderFactory(forceRowDeletes: Boolean,
      condsOverride: Option[Seq[String]] = None): PartitionReaderFactory = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // row positions come from the parquet reader's OWN row-index generator
    // (ParquetRowIndexUtil) whenever anything consumes them — positional
    // delete application or a requested `_pos` column. A read-side counter
    // would drift the moment a pushed filter prunes a row group, silently
    // deleting the wrong rows; the generator is exact under pruning.
    val needRowIdx = forceRowDeletes || posRefs.nonEmpty ||
      metaCols.contains(GraftMetadataColumns.RowPos)
    val parquetData: StructType =
      if (!needRowIdx) readPhysicalData
      else StructType(readPhysicalData.fields :+ org.apache.spark.sql.types.StructField(
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
          .ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true))
    val rowIdxOrdinal = if (needRowIdx) readPhysicalData.length else -1
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, parquetData.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, parquetData.json)
    conf.set("spark.sql.session.timeZone", sqlConf.sessionLocalTimeZone)
    ParquetWriteSupport.setSchema(parquetData, conf)
    DeleteFiles.primeTaskSideParquetConfs(conf, sqlConf)
    val broadcastConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    // physical-name pushed filters reach parquet for row-group pruning —
    // DATA columns only: a partition-column filter would be evaluated by
    // parquet's record filter against the clipped record (the column is
    // served from the dir, not the file) and drop every row of any file
    // that happens to materialize the column in-file
    val dataCols = readPhysicalData.fieldNames.toSet
    val physFilters = (pushed ++ pruneFilters ++ runtimeFilters).flatMap(translatePhysical)
      .filter(_.references.forall(r => dataCols.contains(r.split('.').head)))
    val parquet = ParquetPartitionReaderFactory(sqlConf, broadcastConf, parquetData,
      parquetData, readPartSchema, physFilters, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    // indices of the OUTPUT fields within the combined (data ++ partition)
    // row — extras read only for delete evaluation are trimmed away
    val outNames = readSchema().fieldNames.toSet
    val keepIdx = (readLogicalData ++ readLogicalPart).zipWithIndex
      .filter { case (f, _) => outNames(f.name) }.map(_._2).toArray
    val posFactory =
      if (forceRowDeletes || posRefs.nonEmpty)
        Some(DeleteFiles.readerFactory(spark, DeleteFiles.PosDeleteSchema))
      else None
    // the reference's vectorization toggle (SparkReadOptions
    // VECTORIZATION_ENABLED / TableProperties PARQUET_VECTORIZATION):
    // read option > table property > enabled — false forces the row path
    // (debugging surface; columnar stays the default)
    val vectorize = streamOptions.collectFirst {
        case (k, v) if k.equalsIgnoreCase("vectorization-enabled") => v.toBoolean }
      .orElse(scala.util.Try(
          graft.spatial.Snapshots.readProps(path, version)
            .get("read.parquet.vectorization.enabled").map(_.toBoolean))
        .toOption.flatten)
      .getOrElse(true)
    GraftBatchReaderFactory(parquet, posFactory,
      morPredicate(condsOverride.getOrElse(morConds)),
      forceRowDeletes || posRefs.nonEmpty || eqSpecs.nonEmpty,
      combinedPhysical, projectionExprs, keepIdx, rowIdxOrdinal, metaCols,
      vectorize)
  }

  private def combinedPhysical: StructType =
    StructType(readPhysicalData.fields ++ readPartSchema.fields)

  /** Rename a pushed filter's columns to physical names (best effort) —
    * nested-aware: each dot-path component maps through the evolution log
    * (a renamed struct leaf's filter must reach parquet under the name
    * the files store, or worse, collide with a later re-added field).
    */
  private def translatePhysical(f: sources.Filter): Option[sources.Filter] = {
    def phys(a: String): String =
      TableSchema.physicalFieldPath(schemaEntries, a.split('.').toSeq).mkString(".")
    f match {
      case sources.EqualTo(a, v) => Some(sources.EqualTo(phys(a), v))
      case sources.GreaterThan(a, v) => Some(sources.GreaterThan(phys(a), v))
      case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(phys(a), v))
      case sources.LessThan(a, v) => Some(sources.LessThan(phys(a), v))
      case sources.LessThanOrEqual(a, v) => Some(sources.LessThanOrEqual(phys(a), v))
      case sources.In(a, vs) => Some(sources.In(phys(a), vs))
      case sources.IsNull(a) => Some(sources.IsNull(phys(a)))
      case sources.IsNotNull(a) => Some(sources.IsNotNull(phys(a)))
      case sources.And(l, r) =>
        for (a <- translatePhysical(l); b <- translatePhysical(r)) yield sources.And(a, b)
      case sources.Or(l, r) =>
        for (a <- translatePhysical(l); b <- translatePhysical(r)) yield sources.Or(a, b)
      case _ => None
    }
  }

  /** physical combined row → logical combined row: decode declared
    * encodings in place; `null` when the rows are structurally identical.
    */
  private def projectionExprs: Option[Seq[Expression]] = {
    val combined = combinedPhysical
    val logicalFields = readLogicalData ++ readLogicalPart
    val needsDecode = logicalFields.exists(f => encodings.contains(f.name))
    if (!needsDecode) None
    else Some(logicalFields.zipWithIndex.map { case (f, i) =>
      val base = BoundReference(i, combined(i).dataType, nullable = true)
      encodings.get(f.name) match {
        case Some("wkt") => graft.functions.StGeomFromText(base)
        case Some("geojson") => graft.functions.StGeomFromGeoJson(base)
        case Some("ewkb") | Some("wkb") => graft.functions.StGeomFromWkb(base)
        case _ => base
      }
    })
  }

  /** MoR predicate-delete filter bound to the LOGICAL combined row
    * (decode runs first). Predicate strings are manifest metadata — tiny,
    * resolved on the driver by design.
    */
  private def morPredicate(conds: Seq[String]): Option[Expression] = {
    if (conds.isEmpty) return None
    val logicalCombined = StructType(readLogicalData ++ readLogicalPart)
    graft.functions.GeoSql.install(spark)
    val attrs = logicalCombined.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val parsed = spark.sessionState.sqlParser.parseExpression(
      conds.map(c => s"($c)").mkString(" OR "))
    val analyzed = spark.sessionState.analyzer.execute(
      LFilter(parsed, LocalRelation(attrs)))
    analyzed.collectFirst { case LFilter(c, _) =>
      BindReferences.bindReference(
        Coalesce(Seq(c, Literal(false))), attrs.map(_.toAttribute))
    }
  }
}

/** Scan custom metrics — TOP-LEVEL classes with zero-arg constructors:
  * Spark re-instantiates CustomMetric classes REFLECTIVELY on the driver
  * to aggregate SQL-UI values, so anonymous/inner classes break with
  * "did not have a zero-argument constructor" on every query.
  */
class ResultDataFilesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "resultDataFiles"
  override def description(): String = "data files read"
}
class SkippedDataFilesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "skippedDataFiles"
  override def description(): String = "data files skipped by pruning"
}
class TotalFileSizeMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "totalFileSize"
  override def description(): String = "bytes of data files read"
}
class ResultDeleteFilesMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "resultDeleteFiles"
  override def description(): String = "delete files applied"
}

object GraftScan {
  import org.apache.spark.sql.catalyst.CatalystTypeConverters
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLiteral}

  /** What a scan resolves once per table load from metadata: the logical
    * schema (passed down from the table), main head's table-level layout
    * (partition spec, pruning specs, stored schema), the evolution log,
    * declared encodings, and the scanned snapshot's files and delete
    * state. Delete-file METADATA only, never rows.
    */
  private[sources] final class TableState(spark: SparkSession, path: String,
      version: Option[Int], val logicalFull: StructType) {
    private val head: Option[graft.spatial.GeoTable.Manifest] = Snapshots.headManifest(path)
    /** The scanned snapshot: `version`, else main's head. */
    private val snapshot: Option[graft.spatial.GeoTable.Manifest] =
      version.map(v => Snapshots.manifest(path, Some(v))).orElse(head)
    val files: Seq[graft.spatial.FileStats] = snapshot.map(_.files).getOrElse(Nil)
    val specs: Seq[graft.spatial.Transforms.Transform] = head.map(_.specs).getOrElse(Nil)
    val pruningSpecs: Seq[graft.spatial.Transforms.Transform] =
      head.map(_.pruningSpecs).getOrElse(Nil)
    val partCols: Seq[String] = head.map(_.partitionCols).getOrElse(Nil)
    val schemaEntries: Seq[TableSchema.Entry] = TableSchema.read(path)
    val logicalToPhysical: Map[String, String] =
      schemaEntries.filterNot(_.dropped).map(e => e.logical -> e.physical).toMap
    val encodings: Map[String, String] = GeometryFields.get(path)
    // full physical file schema (for parquet footer matching), nullable
    // like the V1 relation's
    val physicalDataSchema: StructType = GeoTable.relationSchemas(spark, path, head)._1
    val fullSchemaFields: Seq[org.apache.spark.sql.types.StructField] =
      head.flatMap(_.schema).map(_.fields.toSeq).getOrElse(physicalDataSchema.fields.toSeq)
    // MoR predicate deletes must be evaluable even when their columns are
    // pruned away — scans extend the read with those logical columns and
    // drop them after filtering
    val morConds: Seq[String] = snapshot.map(_.deletes).getOrElse(Nil)
    val eqDeletes: Seq[graft.spatial.EqDelete] = snapshot.map(_.eqDeletes).getOrElse(Nil)
    val posDeletes: Seq[String] = snapshot.map(_.posDeletes).getOrElse(Nil)
    /** An equality-delete key column under the CURRENT logical schema —
      * ONE resolver seat with the V1 read path
      * ([[graft.spatial.TableSchema.resolveDeleteCol]]: physical match
      * first, current-name fallback for legacy entries). None =
      * unresolvable either way — `bindEqSpec` fails loudly on it.
      */
    def resolveEqCol(c: String): Option[String] =
      TableSchema.resolveDeleteCol(schemaEntries, c, logicalFull.fieldNames.toSet)
    /** Logical columns the pending deletes reference, in first-use order. */
    lazy val deleteCols: Seq[String] = {
      def refs(sql: String): Seq[String] = try {
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }
      } catch { case _: Exception => Nil }
      (morConds.flatMap(refs) ++ eqDeletes.flatMap(_.cols).flatMap(resolveEqCol))
        .filter(logicalFull.fieldNames.contains).distinct
    }
    lazy val posRefs: Seq[DeleteFileRef] = DeleteFiles.refs(spark, path, posDeletes)
    lazy val posCov: Map[String, Seq[DeleteFileRef]] =
      DeleteFiles.posCoverage(spark, path, posRefs)
    // shared suffix-fallback construction — see [[DeleteFiles.suffixIndex]]
    lazy val posCovBySuffix: Map[String, Seq[DeleteFileRef]] =
      DeleteFiles.suffixIndex(posCov)
  }

  private[sources] case class DriverMetric(metricName: String, metricValue: Long)
      extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = metricValue
  }

  /** Typed per-file partition key schema for the declared transforms, in
    * spec order; None = unpartitioned or a transform whose key type can't
    * be established (e.g. truncate over a dropped source column). Shared
    * by the SPJ report (`outputPartitioning`) and the `_partition`
    * metadata column — both must agree on the type.
    */
  private[sources] def partitionKeySchema(
      specs: Seq[graft.spatial.Transforms.Transform],
      fields: Seq[org.apache.spark.sql.types.StructField]): Option[StructType] = {
    import graft.spatial.Transforms._
    if (specs.isEmpty) None
    else {
      // identity/truncate key values are parsed from dir strings — only
      // castable types can produce a correctly-typed key row (a mistyped
      // row would CCE inside Spark's partition grouping)
      val out = specs.map {
        case Identity(c) => fields.find(_.name == c)
          .filter(f => graft.spatial.PartitionPaths.castable(f.dataType))
          .map(f => org.apache.spark.sql.types.StructField(c, f.dataType))
        case b: Bucket =>
          Some(org.apache.spark.sql.types.StructField(b.derivedName,
            org.apache.spark.sql.types.IntegerType))
        case t: Truncate => fields.find(_.name == t.source)
          .filter(f => graft.spatial.PartitionPaths.castable(f.dataType))
          .map(f => org.apache.spark.sql.types.StructField(t.derivedName, f.dataType))
        case d: DatePart =>
          Some(org.apache.spark.sql.types.StructField(d.derivedName,
            org.apache.spark.sql.types.IntegerType))
      }
      if (out.exists(_.isEmpty)) None else Some(StructType(out.map(_.get)))
    }
  }

  /** Explicit transform-function predicates — `system.bucket(4, id) = 1`,
    * `system.days(d) IN (...)` — prune to the matching derived partition
    * dirs (the reference's `ReplaceStaticInvoke` optimizer rule +
    * `SparkV2Filters.java:458-475`; test `TestSystemFunctionPushDownDQL`,
    * and via [[graft.spatial.Snapshots]]'s row-level file split,
    * `TestSystemFunctionPushDownInRowLevelOperations`).
    * The call must match a DECLARED transform of the table exactly (same
    * function, same parameter, same source column) — only then is the
    * per-directory derived value the function's value for every row in it.
    * Our V2 functions bind without a magic method, so the resolved shape
    * is `ApplyFunctionExpression`, not the reference's `StaticInvoke`.
    */
  private[graft] def transformFunctionFilter(e: Expression,
      specs: Seq[graft.spatial.Transforms.Transform]): Option[sources.Filter] = {
    def ext(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case x => x
    }
    def derived(fe: Expression): Option[String] = fe match {
      case af: ce.ApplyFunctionExpression
          // ours only: another catalog's bucket() may hash differently
          if af.function.canonicalName().startsWith("graft.") =>
        import graft.spatial.Transforms._
        (af.function.name(), af.children) match {
          case ("bucket", Seq(ce.Literal(n: Int, _), a: ce.AttributeReference)) =>
            specs.collectFirst {
              case b @ Bucket(n2, src, _) if n2 == n && src == a.name => b.derivedName }
          case ("truncate", Seq(ce.Literal(w: Int, _), a: ce.AttributeReference)) =>
            specs.collectFirst {
              case t @ Truncate(w2, src, _) if w2 == w && src == a.name => t.derivedName }
          case (fn @ ("years" | "months" | "days" | "hours"), Seq(a: ce.AttributeReference)) =>
            specs.collectFirst {
              case d @ DatePart(p, src) if p == fn.stripSuffix("s") && src == a.name =>
                d.derivedName }
          case _ => None
        }
      case _ => None
    }
    e match {
      case ce.EqualTo(fe, ce.Literal(v, _)) => derived(fe).map(sources.EqualTo(_, ext(v)))
      case ce.EqualTo(ce.Literal(v, _), fe) => derived(fe).map(sources.EqualTo(_, ext(v)))
      case ce.In(fe, vs) if vs.forall(_.isInstanceOf[ce.Literal]) =>
        derived(fe).map(sources.In(_,
          vs.map { case ce.Literal(v, _) => ext(v) }.toArray))
      case _ => None
    }
  }


  /** Per-file partition key row from the file's hive-layout dir segments:
    * one value per transform in spec order, cast to the key schema's
    * types (catalyst internal form). None when any derived dir is missing
    * from the path — the file predates the current spec.
    */
  private[sources] def partitionKeyRow(rel: String,
      specs: Seq[graft.spatial.Transforms.Transform],
      keySchema: StructType): Option[InternalRow] =
    partitionKeyRowOf(graft.spatial.PartitionPaths.dirValues(rel), specs, keySchema)

  /** Same, over an already-parsed dir map ([[graft.spatial.FileStats.dirVals]]
    * — one parse per file per manifest version instead of per planning).
    */
  private[sources] def partitionKeyRowOf(kv: Map[String, String],
      specs: Seq[graft.spatial.Transforms.Transform],
      keySchema: StructType): Option[InternalRow] = {
    import graft.spatial.PartitionPaths
    val vals = specs.zip(keySchema.fields).map { case (t, f) =>
      kv.get(t.derivedName) match {
        case None => None // missing segment: pre-evolution file, void SPJ
        case Some(PartitionPaths.NullSentinel) => Some(null) // null IS a key
        // an uncastable value would make a mistyped key row — void instead
        case Some(v) => PartitionPaths.cast(v, f.dataType)
      }
    }
    if (vals.exists(_.isEmpty)) None else Some(InternalRow.fromSeq(vals.map(_.get)))
  }

  // ---- exact identity-partition filter evaluation: a file's directory
  // value determines the column for EVERY row in it, so Eq/In/IsNotNull
  // predicates on an identity partition column are exact at file
  // granularity — a kept file has only matching rows, a dropped file none.
  // That exactness is what lets the scan builder claim such filters as
  // fully pushed (no row-level re-evaluation) and answer filtered
  // COUNT/MIN/MAX from the manifest (the reference's
  // SparkScanBuilder.pushAggregation with partition-aligned filters).


  /** Literal types whose directory rendering compares losslessly. */
  private[graft] def comparableDirLiteral(v: Any): Boolean = v match {
    case null => false
    case _: String | _: java.lang.Boolean | _: java.sql.Date | _: java.time.LocalDate => true
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }

  private def dirLiteralMatches(raw: String, v: Any): Boolean = v match {
    case null => false
    case s: String => raw == s
    case b: java.lang.Boolean => raw.equalsIgnoreCase(b.toString)
    case d: java.sql.Date => raw == d.toString
    case d: java.time.LocalDate => raw == d.toString
    case n: Number =>
      try BigDecimal(raw) == BigDecimal(n.toString)
      catch { case _: NumberFormatException => false }
    case _ => false
  }

  /** Can ANY row of the file with dir segments `kv` satisfy a filter on a
    * hidden DERIVED partition column (bucket/truncate/date dirs)? The
    * derived value is constant per directory, so Eq/In are decidable when
    * the segment is present; a missing segment (pre-evolution file) keeps
    * the file — inclusive posture, the residual predicate re-filters rows.
    * A null-sentinel dir means the transform evaluated to NULL for every
    * row: no equality against a literal can hold there.
    */
  private[graft] def dirMightMatch(kv: Map[String, String], f: sources.Filter): Boolean =
    f match {
      case sources.EqualTo(a, v) => kv.get(a) match {
        case None => true
        case Some(graft.spatial.PartitionPaths.NullSentinel) => false
        case Some(raw) => dirLiteralMatches(raw, v)
      }
      case sources.In(a, vs) => kv.get(a) match {
        case None => true
        case Some(graft.spatial.PartitionPaths.NullSentinel) => false
        case Some(raw) => vs.exists(dirLiteralMatches(raw, _))
      }
      case _ => true
    }

  /** Does EVERY row of the file with dir segments `kv` satisfy the
    * claimed filter? (Exact for the claimable shapes: null dir values
    * never match Eq/In, and IsNotNull holds iff the dir value is present
    * and non-null.) Takes the pre-parsed segment map so callers parse
    * each file path once, not once per filter.
    */
  private[graft] def exactlyMatches(kv: Map[String, String], f: sources.Filter): Boolean = {
    def dirVal(c: String): Option[String] = graft.spatial.PartitionPaths.value(kv, c)
    f match {
      case sources.EqualTo(a, v) => dirVal(a).exists(dirLiteralMatches(_, v))
      case sources.EqualNullSafe(a, null) =>
        kv.get(a).contains(graft.spatial.PartitionPaths.NullSentinel)
      case sources.EqualNullSafe(a, v) => dirVal(a).exists(dirLiteralMatches(_, v))
      case sources.In(a, vs) =>
        dirVal(a).exists(raw => vs.exists(dirLiteralMatches(raw, _)))
      case sources.IsNotNull(a) => dirVal(a).isDefined
      case _ => false
    }
  }

  /** V2 runtime predicate → V1 source filter, for the shapes runtime
    * filtering produces (IN / equality over a column, AND/OR trees).
    * Literal values convert to external form, matching normal V1 filters.
    */
  private[sources] def v2ToV1(p: V2Predicate): Option[sources.Filter] = {
    def ref(e: VExpr): Option[String] = e match {
      case n: NamedReference => Some(n.fieldNames.mkString("."))
      case _ => None
    }
    def lit(e: VExpr): Option[Any] = e match {
      case l: VLiteral[_] => Some(CatalystTypeConverters.convertToScala(l.value, l.dataType))
      case _ => None
    }
    val ch = p.children()
    p.name() match {
      case "=" => for (a <- ref(ch(0)); v <- lit(ch(1))) yield sources.EqualTo(a, v)
      case "<=>" => for (a <- ref(ch(0)); v <- lit(ch(1))) yield sources.EqualNullSafe(a, v)
      case ">" => for (a <- ref(ch(0)); v <- lit(ch(1))) yield sources.GreaterThan(a, v)
      case ">=" => for (a <- ref(ch(0)); v <- lit(ch(1))) yield sources.GreaterThanOrEqual(a, v)
      case "<" => for (a <- ref(ch(0)); v <- lit(ch(1))) yield sources.LessThan(a, v)
      case "<=" => for (a <- ref(ch(0)); v <- lit(ch(1))) yield sources.LessThanOrEqual(a, v)
      case "IN" =>
        val vs = ch.drop(1).map(lit)
        if (vs.exists(_.isEmpty)) None
        else ref(ch(0)).map(sources.In(_, vs.map(_.get)))
      case "IS_NULL" => ref(ch(0)).map(sources.IsNull)
      case "IS_NOT_NULL" => ref(ch(0)).map(sources.IsNotNull)
      case "AND" => p match {
        case and: org.apache.spark.sql.connector.expressions.filter.And =>
          for (l <- v2ToV1(and.left()); r <- v2ToV1(and.right())) yield sources.And(l, r)
        case _ => None
      }
      case "OR" => p match {
        case or: org.apache.spark.sql.connector.expressions.filter.Or =>
          for (l <- v2ToV1(or.left()); r <- v2ToV1(or.right())) yield sources.Or(l, r)
        case _ => None
      }
      case "NOT" => p match {
        case not: org.apache.spark.sql.connector.expressions.filter.Not =>
          v2ToV1(not.child()).map(sources.Not)
        case _ => None
      }
      case _ => None
    }
  }
}

/** Late filter recovery for [[GraftScan]]: user-batch optimizer rules run
  * AFTER V2ScanRelationPushDown, so conjuncts derived there — notably the
  * spatial bbox rewrite — sit in a Filter above an already-built scan and
  * would never prune files. This rule rebuilds the scan with them.
  * `withMorePruning` returns `this` when nothing is new, so the fixed-point
  * user batch converges.
  */
object GraftScanFilterPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ LFilter(cond, rel @ DataSourceV2ScanRelation(_, scan: GraftScan, _, _, _)) =>
      val merged = scan.withMorePruning(split(cond).flatMap(c =>
        toV1(c).orElse(GraftScan.transformFunctionFilter(c, scan.spjSpecs))))
      if (merged eq scan) f else LFilter(cond, rel.copy(scan = merged))
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case ce.And(l, r) => split(l) ++ split(r)
    case x => Seq(x)
  }

  /** Catalyst → V1 filter for the conjunct shapes the manifest index can
    * evaluate (comparisons on columns / struct leaves vs literals).
    */
  private def toV1(e: Expression): Option[sources.Filter] = {
    def name(x: Expression): Option[String] = x match {
      case a: ce.AttributeReference => Some(a.name)
      case ce.GetStructField(child, _, Some(fld)) => name(child).map(n => s"$n.$fld")
      case _ => None
    }
    def ext(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case x => x
    }
    e match {
      case ce.EqualTo(a, ce.Literal(v, _)) => name(a).map(sources.EqualTo(_, ext(v)))
      case ce.EqualTo(ce.Literal(v, _), a) => name(a).map(sources.EqualTo(_, ext(v)))
      case ce.GreaterThan(a, ce.Literal(v, _)) => name(a).map(sources.GreaterThan(_, ext(v)))
      case ce.GreaterThan(ce.Literal(v, _), a) => name(a).map(sources.LessThan(_, ext(v)))
      case ce.GreaterThanOrEqual(a, ce.Literal(v, _)) =>
        name(a).map(sources.GreaterThanOrEqual(_, ext(v)))
      case ce.GreaterThanOrEqual(ce.Literal(v, _), a) =>
        name(a).map(sources.LessThanOrEqual(_, ext(v)))
      case ce.LessThan(a, ce.Literal(v, _)) => name(a).map(sources.LessThan(_, ext(v)))
      case ce.LessThan(ce.Literal(v, _), a) => name(a).map(sources.GreaterThan(_, ext(v)))
      case ce.LessThanOrEqual(a, ce.Literal(v, _)) =>
        name(a).map(sources.LessThanOrEqual(_, ext(v)))
      case ce.LessThanOrEqual(ce.Literal(v, _), a) =>
        name(a).map(sources.GreaterThanOrEqual(_, ext(v)))
      case ce.In(a, vs) if vs.forall(_.isInstanceOf[ce.Literal]) =>
        name(a).map(sources.In(_,
          vs.map { case ce.Literal(v, _) => ext(v) }.toArray))
      case ce.IsNull(a) => name(a).map(sources.IsNull)
      case ce.IsNotNull(a) => name(a).map(sources.IsNotNull)
      // an OR of conjunctions — the spatial rewrite of `ST_Intersects(g, A)
      // OR ST_Intersects(g, B)`, or a literal-table join bound — prunes
      // only if each branch translates. A pruning filter need only be
      // implied by the condition, so a conjunction keeps what translates.
      case ce.And(l, r) => (toV1(l), toV1(r)) match {
        case (Some(a), Some(b)) => Some(sources.And(a, b))
        case (a, b) => a.orElse(b)
      }
      case ce.Or(l, r) => for (a <- toV1(l); b <- toV1(r)) yield sources.Or(a, b)
      case _ => None
    }
  }
}

/** Columnar for clean scans; row path (decode → deletes → trim) otherwise.
  *
  * Delete contents are resolved EXECUTOR-side from the delete files each
  * [[GraftInputPartition]] carries ([[DeleteFileCache]]) — the driver
  * ships file metadata only. When any delete state exists the whole scan
  * reads row-oriented (Spark rejects mixed row/columnar partitions in one
  * scan; per-file columnar restoration would need delete coverage stats
  * in the manifest — the reference reads deleted files row-oriented too).
  */
case class GraftBatchReaderFactory(
    parquet: ParquetPartitionReaderFactory,
    posFactory: Option[ParquetPartitionReaderFactory],
    morPredicate: Option[Expression],
    anyDeletes: Boolean,
    physicalCombined: StructType,
    projection: Option[Seq[Expression]],
    keepIdx: Array[Int],
    /** Ordinal of the parquet row-index column within the inner reader's
      * rows (data fields... rowIdx, partition fields...); -1 = not read.
      */
    rowIdxOrdinal: Int = -1,
    /** Metadata columns to append (`_file`/`_pos`/`_deleted`). */
    metaCols: Seq[String] = Nil,
    /** false = the declared vectorization toggle forces row readers. */
    vectorizationEnabled: Boolean = true) extends PartitionReaderFactory {

  private def uniformRowMode: Boolean =
    projection.isDefined || morPredicate.isDefined || anyDeletes ||
      physicalCombined.size != keepIdx.length ||
      rowIdxOrdinal >= 0 || metaCols.nonEmpty

  /** Clean files whose ONLY row-mode reason is a declared geometry storage
    * encoding keep the COLUMNAR path: the encoded column decodes
    * batch-at-a-time into a fresh binary vector, every other column serves
    * zero-copy from the parquet batch, and the scan keeps feeding
    * whole-stage codegen through ColumnarToRow. This is the "do better
    * with a WKB-vector reader" half of SURVEY §4: the reference drops a
    * whole file to row-oriented reads whenever the projected schema
    * contains a geometry; here only the geometry column pays per-value
    * decode. Delete state, MoR predicates, row-index and metadata columns
    * still force the row path (their per-file scoping logic lives there).
    */
  private def decodeOnlyMode: Boolean =
    projection.isDefined && morPredicate.isEmpty && !anyDeletes &&
      physicalCombined.size == keepIdx.length &&
      rowIdxOrdinal < 0 && metaCols.isEmpty

  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorizationEnabled && (!uniformRowMode || decodeOnlyMode) &&
      parquet.supportColumnarReads(partition.asInstanceOf[GraftInputPartition].fp)

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val inner = parquet.createColumnarReader(partition.asInstanceOf[GraftInputPartition].fp)
    if (!uniformRowMode) inner
    else new PartitionReader[ColumnarBatch] {
      private val exprs = projection.get.toArray
      private val decodeIdx =
        exprs.indices.filterNot(i => exprs(i).isInstanceOf[BoundReference]).toArray
      private var decoded: Array[org.apache.spark.sql.execution.vectorized.OnHeapColumnVector] = _
      private var out: ColumnarBatch = _

      override def next(): Boolean = {
        if (!inner.next()) return false
        val batch = inner.get()
        val n = batch.numRows()
        if (decoded != null) decoded.foreach(_.close())
        decoded = decodeIdx.map(_ =>
          new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(
            math.max(n, 1), org.apache.spark.sql.types.BinaryType))
        var k = 0
        while (k < decodeIdx.length) {
          val vec = decoded(k)
          val ex = exprs(decodeIdx(k))
          var r = 0
          while (r < n) {
            // ColumnarBatchRow is a reused cursor — eval consumes it before
            // the next row advance
            val v = ex.eval(batch.getRow(r))
            if (v == null) vec.putNull(r)
            else vec.putByteArray(r, v.asInstanceOf[Array[Byte]])
            r += 1
          }
          k += 1
        }
        val cols = Array.tabulate[org.apache.spark.sql.vectorized.ColumnVector](exprs.length) { i =>
          val k2 = java.util.Arrays.binarySearch(decodeIdx, i)
          if (k2 >= 0) decoded(k2) else batch.column(i)
        }
        out = new ColumnarBatch(cols, n)
        true
      }

      override def get(): ColumnarBatch = out

      override def close(): Unit = {
        if (decoded != null) decoded.foreach(_.close())
        inner.close()
      }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    // clean path: Spark's FilePartitionReader concatenates the files
    if (!uniformRowMode) return parquet.createReader(p.fp)
    // row mode applies PER-FILE delete state: read file-by-file so row
    // positions and delete scopes never bleed across packed files
    val proj = projection.map(SafeProjection.create)
    val pred = morPredicate.map { e =>
      val pr = Predicate.createInterpreted(e); pr.initialize(p.fp.index); pr
    }
    // emit only the output fields (delete-only extra columns trimmed)
    val trim =
      if (physicalCombined.size == keepIdx.length) None
      else Some(SafeProjection.create(keepIdx.toIndexedSeq.map { i =>
        val dt = projection match {
          case Some(exprs) => exprs(i).dataType
          case None => physicalCombined(i).dataType
        }
        BoundReference(i, dt, nullable = true): Expression
      }))
    // metadata tail: `_deleted` switches delete application from filter
    // to mark-and-keep (the reference's DeleteFilter with IS_DELETED in
    // the expected schema — deleted rows surface, flagged true)
    val fileIdx = metaCols.indexOf(GraftMetadataColumns.FilePath)
    val posIdx = metaCols.indexOf(GraftMetadataColumns.RowPos)
    val delIdx = metaCols.indexOf(GraftMetadataColumns.IsDeleted)
    val partIdx = metaCols.indexOf(GraftMetadataColumns.Partition)
    val markDeleted = delIdx >= 0
    val perFile = p.fp.files.indices.iterator.map { fi =>
      val pf = p.fp.files(fi)
      val slice = p.slices(fi)
      val inner = parquet.createReader(FilePartition(p.fp.index, Array(pf)))
      val abs = DeleteFiles.norm(pf.toPath.toUri.getPath)
      // this file's deleted positions: parsed per-executor, scoped per-file
      val posDel: Array[Long] =
        if (slice.posDeletes.isEmpty) Array.emptyLongArray
        else {
          val all = slice.posDeletes.flatMap(f =>
            DeleteFileCache.positionsFor(posFactory.get, f, abs, slice.rel))
          java.util.Arrays.sort(all)
          all
        }
      val eqs = slice.eqDeletes.map(s => (s, DeleteFileCache.keysFor(s)))
      new PartitionReader[InternalRow] {
        private var pos = -1L
        private var current: InternalRow = _
        // hides the row-index column from the decode projection / MoR
        // predicate / trim, which were all bound against data ++ partition
        private val skipRow =
          if (rowIdxOrdinal >= 0) new SkipOrdinalRow(rowIdxOrdinal) else null
        private val metaRow =
          if (metaCols.isEmpty) null
          else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(metaCols.length)
        private val joined =
          if (metaCols.isEmpty) null
          else new org.apache.spark.sql.catalyst.expressions.JoinedRow
        if (fileIdx >= 0)
          metaRow.update(fileIdx, org.apache.spark.unsafe.types.UTF8String.fromString(abs))
        if (partIdx >= 0) metaRow.update(partIdx, slice.partKey) // per-file constant
        override def next(): Boolean = {
          while (inner.next()) {
            val raw = inner.get()
            // file-absolute row position: the reader's row-index generator
            // when read (exact under row-group pruning), else a counter
            // (valid only when no parquet-side pruning can drop rows)
            pos = if (rowIdxOrdinal >= 0) raw.getLong(rowIdxOrdinal) else pos + 1
            val physical: InternalRow =
              if (skipRow != null) { skipRow.row = raw; skipRow } else raw
            val posDeleted = posDel.nonEmpty &&
              java.util.Arrays.binarySearch(posDel, pos) >= 0
            if (!posDeleted || markDeleted) {
              val logical = proj.map(_(physical)).getOrElse(physical)
              val deleted = posDeleted ||
                eqs.exists { case (e, keys) => keys.contains(e.ordinals.indices.map(i =>
                  DeleteFileCache.canonKeyVal(
                    logical.get(e.ordinals(i), e.types(i)))).toList) } ||
                  pred.exists(_.eval(logical))
              if (!deleted || markDeleted) {
                val out = trim.map(_(logical)).getOrElse(logical)
                if (metaRow == null) current = out
                else {
                  if (posIdx >= 0) metaRow.setLong(posIdx, pos)
                  if (delIdx >= 0) metaRow.setBoolean(delIdx, deleted)
                  current = joined(out, metaRow)
                }
                return true
              }
            }
          }
          false
        }
        override def get(): InternalRow = current
        override def close(): Unit = inner.close()
      }
    }
    ConcatReader(perFile)
  }
}

/** Sequential concatenation of per-file readers within one task — each
  * inner reader is created lazily and closed as soon as it drains.
  */
case class ConcatReader(readers: Iterator[PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private var cur: PartitionReader[InternalRow] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!readers.hasNext) return false
        cur = readers.next()
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
