package graft.streaming

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Coalesce, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.spatial.{EqDelete, FileStats, GeoTable, GraftFileIndex, Snapshots, TableSchema}
import graft.sources.{DeleteFileCache, DeleteFiles, EqDeleteSpec, GraftInputPartition}

/** Manifest-driven streaming source (`format("graft-stream")`): streams
  * COMMITTED append snapshots, never the raw directory — the shape of the
  * reference's `SparkMicroBatchStream.java:117-184` in /root/reference.
  *
  *  - Orphan files (failed writes, expired rewrites still on disk) never
  *    enter the stream: batches are planned from manifest diffs.
  *  - The snapshot's positional and equality delete files are applied
  *    per row inside the readers; merge-on-read predicate deletes are
  *    evaluated against the physical rows when they resolve there.
  *  - Schema comes from the manifest — zero per-read inference, the same
  *    zero-round-trip contract as the batch relation.
  *  - Admission control: at most `maxFilesPerTrigger` files per batch
  *    (`SupportsAdmissionControl`, the reference's rate limiting).
  *
  * Offsets count files consumed along the committed snapshot chain (the
  * chain of entered-file sets is immutable once committed, so offsets
  * replay deterministically). Overwrite/rewrite-shaped snapshots are
  * SKIPPED — their added files rematerialize rows already streamed
  * (the reference refuses or skips such snapshots the same way); pure
  * appends stream exactly once. Snapshot retention must cover the
  * stream's backlog, as in the reference.
  */
class GraftStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-stream"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftStreamTable.tableSchema(tablePath(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftStreamTable(tablePath(opts),
      Option(opts.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(Int.MaxValue),
      Option(opts.get("maxRecordsPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue),
      Option(opts.get("maxBytesPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue),
      Option(opts.get("stream-from-timestamp")).map(_.toLong),
      Option(opts.get("branch")),
      Option(opts.get("streaming-skip-delete-snapshots")).forall(_.toBoolean),
      Option(opts.get("streaming-skip-overwrite-snapshots")).forall(_.toBoolean),
      Option(opts.get("mor-bind-fallback")).exists(_.toBoolean))
  }

  private def tablePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("format(\"graft-stream\") requires a path"))
}

object GraftStreamTable {
  /** Physical data schema + partition columns, straight from main head's
    * manifest `head` (inference only for legacy manifests without a
    * persisted schema).
    */
  def tableSchema(path: String): StructType = tableSchema(path, Snapshots.headManifest(path))

  def tableSchema(path: String, head: Option[GeoTable.Manifest]): StructType = {
    val full = GeoTable.ensureSchema(SparkSession.active, path, head)
    val partCols = head.map(_.partitionCols).getOrElse(Nil)
    val data = TableSchema.physicalSchema(path).getOrElse(
      StructType(full.fields.filterNot(f => partCols.contains(f.name))))
    StructType(data.fields ++ partCols.flatMap(c => full.fields.find(_.name == c)))
  }
}

class GraftStreamTable(path: String, maxFiles: Int,
    maxRecords: Long = Long.MaxValue, maxBytes: Long = Long.MaxValue,
    streamFromTimestamp: Option[Long] = None,
    branch: Option[String] = None,
    skipDeleteSnapshots: Boolean = true,
    skipOverwriteSnapshots: Boolean = true,
    morBindFallback: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"graft-stream:$path"
  override def schema(): StructType = GraftStreamTable.tableSchema(path)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftMicroBatchStream(path, maxFiles, maxRecords, maxBytes,
            streamFromTimestamp, branch, skipDeleteSnapshots,
            skipOverwriteSnapshots, morBindFallback)
      }
    }
}

/** Offset = number of files consumed along the committed snapshot chain. */
case class GraftStreamOffset(filesSeen: Long) extends Offset {
  override def json(): String = s"""{"filesSeen":$filesSeen}"""
}
object GraftStreamOffset {
  def apply(o: Offset): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case other => GraftStreamOffset(
      """"filesSeen"\s*:\s*(\d+)""".r.findFirstMatchIn(other.json())
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(s"bad offset: ${other.json()}")))
  }
}

class GraftMicroBatchStream(path: String, maxFiles: Int,
    maxRecords: Long = Long.MaxValue, maxBytes: Long = Long.MaxValue,
    streamFromTimestamp: Option[Long] = None,
    branch: Option[String] = None,
    /** The reference's SparkReadOptions STREAMING_SKIP_DELETE_SNAPSHOTS /
      * STREAMING_SKIP_OVERWRITE_SNAPSHOTS. Deviation, stated: our default
      * is true (skip) on both — the established silent-skip posture of
      * this source — where the reference FAILS by default; set false to
      * get the reference's strict failure.
      */
    skipDeleteSnapshots: Boolean = true,
    skipOverwriteSnapshots: Boolean = true,
    /** A downstream post-decode belt filter is declared (the
      * [[GeoStreams.readTableStream]] wrapper) — predicate-delete bind
      * failures may fall back to it instead of failing the stream.
      */
    morBindFallback: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: pin the chain length at prepare time; admission
  // then paces rate-limited batches up to exactly this boundary (without
  // this the engine's generic wrapper collapses admission to one batch)
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(fileChain().size.toLong)

  private def spark = SparkSession.active

  /** Append-shaped file deltas of the committed chain up to `main`'s head,
    * in version order. Entered-file sets of committed snapshots are
    * immutable, so this sequence only ever GROWS at the tail — offsets
    * into it are stable. Snapshots that also removed files (overwrite /
    * CoW rewrite / compaction) are skipped: their additions rematerialize
    * already-streamed rows.
    */
  private def fileChain(): Seq[FileStats] = chainByVersion().flatMap(_._2)

  /** Streamed head: main's, or the scoped branch's (`option("branch", b)`
    * — the reference's SparkReadOptions.BRANCH applies to streams too).
    */
  protected def streamHead(): Int =
    if (Snapshots.currentVersion(path) == 0) 0
    else branch match {
      case Some(b) => Snapshots.resolveRef(path, b)
      case None => Snapshots.mainVersion(path)
    }

  /** The chain with its version boundaries (for timestamp-scoped starts).
    * Walks the streamed ref's ANCESTRY, not all version numbers — an
    * unpublished branch WAP commit interleaved between two main commits
    * must never stream into a main-ref consumer (and vice versa).
    *
    * MEMOIZED by head version: committed entered-file sets are immutable
    * (the invariant the offsets already rely on), so each trigger resumes
    * the walk from the last memoized head instead of re-walking the whole
    * ancestry — latestOffset + reportLatestOffset + planInputPartitions
    * each consult the chain, and an uncached walk would cost O(history)
    * manifest-diff set work three-plus times per trigger, growing without
    * bound as the table ages. Driver-only state; a head outside the
    * memo's lineage (rollback to another ref's history) rewalks fully.
    */
  @volatile private var chainMemo: (Int, Seq[(Int, Seq[FileStats])], Set[String]) =
    (0, Nil, Set.empty)

  private def chainByVersion(): Seq[(Int, Seq[FileStats])] = {
    val head = streamHead()
    if (head == 0) return Nil
    val memo = chainMemo
    if (memo._1 == head) return memo._2
    val anc = Snapshots.ancestry(path, head)
    val (doneChain, donePrev, todo) =
      if (memo._1 != 0 && anc.contains(memo._1))
        (memo._2, memo._3, anc.dropWhile(_ != memo._1).tail)
      else (Nil, Set.empty[String], anc)
    val out = Seq.newBuilder[(Int, Seq[FileStats])]
    out ++= doneChain
    var prev = donePrev
    todo.foreach { v =>
      val m = Snapshots.readManifest(path, Some(v))
      val names = m.map(_.path).toSet
      val entered = m.filterNot(f => prev(f.path)).sortBy(_.path)
      val removedAny = prev.nonEmpty && (prev -- names).nonEmpty
      if (!removedAny) out += (v -> entered)
      else if (entered.isEmpty && !skipDeleteSnapshots)
        throw new IllegalStateException(
          s"cannot stream past a delete snapshot (version $v); " +
            "set streaming-skip-delete-snapshots=true to skip it")
      else if (entered.nonEmpty && !skipOverwriteSnapshots)
        throw new IllegalStateException(
          s"cannot stream past an overwrite/rewrite snapshot (version $v); " +
            "set streaming-skip-overwrite-snapshots=true to skip it")
      prev = names
    }
    val result = out.result()
    chainMemo = (head, result, prev)
    result
  }

  /** `stream-from-timestamp` (the reference's SparkReadOptions surface):
    * the stream starts AFTER every snapshot committed strictly before the
    * timestamp — history is skipped by advancing the initial offset past
    * that prefix of the chain, so a restart from a checkpoint is
    * unaffected (Spark persists the real offset from then on).
    */
  override def initialOffset(): Offset = streamFromTimestamp match {
    case None => GraftStreamOffset(0L)
    case Some(ts) =>
      val skipped = chainByVersion()
        .takeWhile { case (v, _) => Snapshots.commitTimeMillis(path, v) < ts }
        .map(_._2.size.toLong).sum
      GraftStreamOffset(skipped)
  }
  override def deserializeOffset(json: String): Offset = {
    // one parser for the offset JSON shape (GraftStreamOffset.apply);
    // bind the argument first — inside the anonymous Offset, `json`
    // names the method, not this parameter
    val body = json
    GraftStreamOffset(new Offset { override def json(): String = body })
  }

  /** Admission by files, records, AND bytes — records/bytes come from the
    * MANIFEST's per-file stats, so rate limiting costs zero data reads
    * (the reference's maxFilesPerTrigger/maxRecordsPerTrigger surface).
    */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      if (maxFiles != Int.MaxValue) Some(ReadLimit.maxFiles(maxFiles)) else None,
      if (maxRecords != Long.MaxValue) Some(ReadLimit.maxRows(maxRecords)) else None,
      if (maxBytes != Long.MaxValue) Some(ReadLimit.maxBytes(maxBytes)) else None).flatten
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with SupportsAdmissionControl")

  private def caps(limit: ReadLimit): (Long, Long, Long) = limit match {
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.map(caps).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2), math.min(a._3, b._3)))
    case m: ReadMaxFiles => (m.maxFiles().toLong, Long.MaxValue, Long.MaxValue)
    case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      (Long.MaxValue, m.maxRows(), Long.MaxValue)
    case m: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
      (Long.MaxValue, Long.MaxValue, m.maxBytes())
    case _ => (Long.MaxValue, Long.MaxValue, Long.MaxValue)
  }

  /** The admissible chain: everything committed, capped at the
    * Trigger.AvailableNow boundary when one is pinned.
    */
  private def boundedChain(): Seq[FileStats] = availableNowEnd match {
    case Some(end) => fileChain().take(end.toInt)
    case None => fileChain()
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = GraftStreamOffset(start).filesSeen.toInt
    val (mf, mr, mb) = caps(limit)
    var files = 0L; var rows = 0L; var bytes = 0L
    boundedChain().drop(s).iterator.takeWhile { f =>
      // always admit the first pending file so the stream makes progress
      val admit = files < mf &&
        (files == 0 || (rows + f.rows <= mr && bytes + f.sizeBytes <= mb))
      if (admit) { files += 1; rows += f.rows; bytes += f.sizeBytes }
      admit
    }.foreach(_ => ())
    GraftStreamOffset(s + files)
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(boundedChain().size.toLong)

  /** Bind one equality delete's key ordinals against the row layout THIS
    * stream's readers emit — the FULL physical (data ++ partition) row
    * for the path-based stream. Delete columns are recorded under
    * LOGICAL names, so ordinals bind through the rename map (a delete on
    * a renamed column would otherwise silently be dropped here while the
    * batch read of the same table filters it); the delete FILE's parquet
    * columns carry the logical names — the key reader addresses it by
    * those, the ordinals by physical. The catalog stream OVERRIDES this:
    * its rows serve through the owning scan's reader factory, whose
    * layout is the scan's pruned/projected logical row.
    */
  /** The partition schema the READERS of this stream expect
    * `PartitionedFile.partitionValues` in — the full table layout for the
    * path stream; the catalog stream overrides with its scan's
    * pruned/projected layout.
    */
  protected def partSchemaForReaders(full: StructType): StructType = full

  protected def bindEqDelete(eq: EqDelete, rowSchema: StructType): Option[EqDeleteSpec] = {
    val logicalToPhysical: Map[String, String] =
      graft.spatial.TableSchema.read(path).filterNot(_.dropped)
        .map(e => e.logical -> e.physical).toMap
    // PHYSICAL-first like TableSchema.resolveDeleteCol: delete cols record
    // physical names (legacy entries: at-delete-time logical), and this
    // row layout IS physical — a logical-first lookup would let a column
    // re-added under a renamed-away name shadow the delete onto the
    // wrong (all-NULL) field
    val phys = eq.cols.map(c =>
      if (rowSchema.fieldNames.contains(c)) c
      else logicalToPhysical.getOrElse(c, c))
    // FAIL LOUD on an unresolvable key column (the batch bindEqSpec
    // posture): silently dropping the spec resurrects deleted rows
    if (!phys.forall(rowSchema.fieldNames.contains))
      throw new IllegalStateException(
        s"equality delete ${eq.path} keys on column(s) " +
          s"${eq.cols.mkString(", ")} that cannot resolve in the stream " +
          s"row schema ${rowSchema.fieldNames.mkString(", ")}")
    else {
      val ordinals = phys.map(rowSchema.fieldIndex).toArray
      val types = ordinals.map(rowSchema(_).dataType)
      val keySchema = StructType(eq.cols.zip(types).map { case (c, t) =>
        org.apache.spark.sql.types.StructField(c, t) })
      val ref = DeleteFiles.refs(spark, path, Seq(eq.path)).head
      Some(EqDeleteSpec(ref, ordinals, types, eq.seq,
        DeleteFiles.readerFactory(spark, keySchema)))
    }
  }

  /** Each partition carries the delete files scoped to its data file —
    * the same executor-side `DeleteFilter` attachment as the batch scan
    * ([[graft.sources.GraftInputPartition]]); the driver resolves only
    * delete-file metadata, never delete rows.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = GraftStreamOffset(start).filesSeen.toInt
    val e = GraftStreamOffset(end).filesSeen.toInt
    val slice = fileChain().slice(s, e)
    if (slice.isEmpty) return Array.empty
    val meta = Snapshots.headManifest(path)
    val schema = GraftStreamTable.tableSchema(path, meta)
    val partCols = meta.map(_.partitionCols).getOrElse(Nil)
    val partitionSchema = StructType(partCols.flatMap(c => schema.fields.find(_.name == c)))
    val dataSchema = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    // delete state of the current committed snapshot of the streamed ref,
    // resolved at batch plan time (the read-time semantics of Snapshots.read)
    val head = streamHead()
    val posRefs = if (head == 0) Nil
      else DeleteFiles.refs(spark, path, Snapshots.readPosDeletes(path, Some(head)))
    val posCov = DeleteFiles.posCoverage(spark, path, posRefs)
    val rowSchema = StructType(dataSchema ++ partitionSchema)
    val eqSpecs = if (head == 0) Nil
      else Snapshots.readEqDeletes(path, Some(head)).flatMap(bindEqDelete(_, rowSchema))
    // GraftFileIndex parses hive-layout partition values from the paths —
    // the same code path the batch relation uses
    val index = new GraftFileIndex(spark, new Path(path), slice, dataSchema, partitionSchema,
      meta.map(_.pruningSpecs).getOrElse(Nil))
    // the readers interpret PartitionedFile.partitionValues POSITIONALLY
    // against THEIR partition schema: the path stream's factory uses the
    // full table partition schema (identity), but the catalog stream's
    // factory was built with the SCAN's pruned/reordered layout — project
    // the parsed dir values onto it, or a pruned leading column shifts
    // every ordinal (a region string served as the day)
    val servedPart = partSchemaForReaders(partitionSchema)
    val partProj: org.apache.spark.sql.catalyst.InternalRow =>
        org.apache.spark.sql.catalyst.InternalRow =
      if (servedPart == partitionSchema) identity
      else {
        val ix = servedPart.fields.map(f =>
          partitionSchema.fieldIndex(f.name) -> f.dataType)
        row => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          ix.map { case (i, dt) => row.get(i, dt) }.toArray[Any])
      }
    val byAbs = slice.map(f => new Path(new Path(path), f.path).toUri.getPath -> f).toMap
    // suffix index over covered paths, built once per planning pass — the
    // SHARED construction the batch scan uses ([[DeleteFiles.suffixIndex]])
    val posCovBySuffix = DeleteFiles.suffixIndex(posCov)
    val items = index.listFiles(Nil, Nil).flatMap { dir =>
      dir.files.map { st =>
        val abs = st.getPath.toUri.getPath
        val fstat = byAbs.get(abs)
        val rel = fstat.map(_.path).getOrElse(abs)
        val addedV = fstat.map(_.addedV).getOrElse(Int.MaxValue)
        val pos = posCov.getOrElse(DeleteFiles.norm(abs),
          posCovBySuffix.getOrElse(rel, Nil))
        // seq == 0 = legacy pre-stamping delete, applies to EVERY file
        // (EqDelete.appliesTo and the batch planner agree; a strict <
        // silently skipped every legacy equality delete)
        val eqs = eqSpecs.filter(sp => sp.seq == 0 || addedV < sp.seq)
        graft.sources.TaskPlanner.Item(
          PartitionedFile(partProj(dir.values),
            org.apache.spark.paths.SparkPath.fromPath(st.getPath), 0, st.getLen),
          graft.sources.GraftFileSlice(rel, pos.toArray, eqs),
          key = null, splittable = pos.isEmpty)
      }
    }
    // a micro-batch admitting many small files bin-packs them into ≤ cores
    // tasks (and splits an oversized compacted file) — same planner as the
    // batch scan; no SPJ report on the streaming path
    graft.sources.TaskPlanner.plan(spark, items, groupByKey = false)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val sess = spark
    val conf = sess.sessionState.newHadoopConf()
    val sqlConf = sess.sessionState.conf
    val meta = Snapshots.headManifest(path)
    val schema = GraftStreamTable.tableSchema(path, meta)
    val partCols = meta.map(_.partitionCols).getOrElse(Nil)
    val partitionSchema = StructType(partCols.flatMap(c => schema.fields.find(_.name == c)))
    val dataSchema = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    // the reader-side conf ParquetScan.createReaderFactory wires up —
    // without READ_SUPPORT_CLASS + requested schema the parquet-mr path
    // NPEs on executors
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, dataSchema.json)
    conf.set("spark.sql.session.timeZone", sqlConf.sessionLocalTimeZone)
    ParquetWriteSupport.setSchema(dataSchema, conf)
    // every boolean the parquet schema converter reads from the TASK-side
    // Configuration (ParquetToSparkSchemaConverter's Configuration ctor)
    DeleteFiles.primeTaskSideParquetConfs(conf, sqlConf)
    val broadcastConf: Broadcast[SerializableConfiguration] =
      sess.sparkContext.broadcast(new SerializableConfiguration(conf))
    val parquet = ParquetPartitionReaderFactory(sqlConf, broadcastConf, dataSchema, dataSchema,
      partitionSchema, Array.empty, None, new ParquetOptions(Map.empty[String, String], sqlConf))
    // pos/eq delete CONTENTS resolve executor-side from the per-partition
    // attachments; only the MoR predicate (tiny manifest metadata) binds here
    val head = streamHead()
    val mor = if (head == 0) None
      else GraftStreamFilters.morPredicate(sess, path, head,
        StructType(dataSchema ++ partitionSchema), morBindFallback)
    // ALWAYS ship a pos-delete reader factory: the partitions were planned
    // from a separately read head, so deciding None from a re-read here
    // races with a concurrent compaction — partitions still carrying
    // posDeletes would hit posFactory.get on the executors. Construction
    // is metadata-only (no I/O); readers consult it only when a partition
    // actually has positional deletes attached.
    val posFactory = Some(DeleteFiles.readerFactory(sess, DeleteFiles.PosDeleteSchema))
    new GraftStreamReaderFactory(parquet, posFactory, mor)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Catalog-table micro-batch stream (`spark.readStream.table("cat.db.t")`,
  * the reference's `SparkTable.java:105-109` MICRO_BATCH_READ): identical
  * committed-chain offsets, admission control, and task planning, but
  * rows serve through the owning scan's BATCH reader factory — declared
  * geometry encodings, renames, output trimming, and per-slice delete
  * state apply exactly as in batch reads of the same table.
  */
class GraftCatalogMicroBatchStream(scan: graft.sources.GraftScan, path: String,
    maxFiles: Int, maxRecords: Long, maxBytes: Long,
    streamFromTimestamp: Option[Long] = None,
    branch: Option[String] = None,
    skipDeleteSnapshots: Boolean = true,
    skipOverwriteSnapshots: Boolean = true)
    extends GraftMicroBatchStream(path, maxFiles, maxRecords, maxBytes,
      streamFromTimestamp, branch, skipDeleteSnapshots,
      skipOverwriteSnapshots) {
  override def createReaderFactory(): PartitionReaderFactory = {
    // predicate deletes are per-BATCH fresh like pos/eq state: read the
    // conds at this batch's own (branch-aware) head — the scan's
    // construction-time snapshot would miss deletes committed mid-stream
    val head = streamHead()
    val conds = if (head == 0) Nil
      else graft.spatial.Snapshots.readDeletes(path, Some(head))
    scan.streamReaderFactory(conds)
  }

  /** Rows serve through the SCAN's reader factory, whose layout is the
    * scan's pruned/projected logical row — equality-delete ordinals must
    * bind against THAT layout, not the full physical schema (a pruned
    * column would shift every ordinal and the filter would compare the
    * wrong fields).
    */
  override protected def bindEqDelete(eq: graft.spatial.EqDelete,
      rowSchema: StructType): Option[EqDeleteSpec] = scan.bindEqSpec(eq)

  /** The scan's reader factory appends partition values in ITS
    * pruned/projected layout — partitionValues must be projected to it.
    */
  override protected def partSchemaForReaders(full: StructType): StructType =
    scan.readPartSchema
}

/** MoR predicate-delete binding: the OR of pending predicate deletes,
  * bound to the physical row when every referenced column resolves there
  * (tables with renamed/encoded columns fall back to the post-decode
  * filter in [[GeoStreams.readTableStream]]). Pos/eq delete CONTENTS are
  * never resolved here — they ride the partitions and are parsed
  * executor-side ([[graft.sources.DeleteFileCache]]).
  */
object GraftStreamFilters {
  /** `bindFallback` = a post-decode belt filter WILL apply downstream
    * ([[GeoStreams.readTableStream]] declares it via stream option), so a
    * bind failure may resolve to None. WITHOUT it, failing to bind must
    * FAIL the stream: a direct `format("graft-stream")` reader has no
    * belt, and silently dropping the predicate would resurrect every
    * deleted row as live data.
    */
  def morPredicate(spark: SparkSession, path: String, version: Int,
      rowSchema: StructType, bindFallback: Boolean = false): Option[Expression] = {
    val conds = Snapshots.readDeletes(path, Some(version))
    if (conds.isEmpty) None else try {
      graft.functions.GeoSql.install(spark)
      val attrs = rowSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
      // predicates are written against the LOGICAL schema; translate
      // top-level renamed columns to their physical names so the binding
      // happens HERE, per batch — the post-decode belt in readTableStream
      // is captured at stream START and misses deletes committed after
      val renames = graft.spatial.TableSchema.read(path)
        .filterNot(_.dropped)
        .filter(e => e.logical != e.physical)
        .map(e => e.logical -> e.physical).toMap
      val parsed0 = spark.sessionState.sqlParser.parseExpression(
        conds.map(c => s"($c)").mkString(" OR "))
      val parsed =
        if (renames.isEmpty) parsed0
        else parsed0.transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if ua.nameParts.nonEmpty && renames.contains(ua.nameParts.head) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
              renames(ua.nameParts.head) +: ua.nameParts.tail)
        }
      // a predicate referencing a DECLARED-ENCODING column must never
      // bind against the raw physical row: the implicit string→binary
      // cast can ANALYZE cleanly and then evaluate garbage (a wkt string
      // is not wkb bytes). Check the POST-translation names — encodings
      // key on the declared (physical) name, so a predicate written
      // against a RENAMED geometry column would slip a pre-translation
      // check and silently no-op every predicate delete
      val encodedCols = graft.spatial.GeometryFields.get(path).keySet
      if (encodedCols.nonEmpty && parsed.collectFirst {
            case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                if ua.nameParts.nonEmpty && encodedCols.contains(ua.nameParts.head) => ()
          }.isDefined)
        throw new IllegalStateException(
          "predicate references a declared-encoding column")
      val analyzed = spark.sessionState.analyzer.execute(
        Filter(parsed, LocalRelation(attrs)))
      analyzed.collectFirst { case Filter(c, _) =>
        BindReferences.bindReference(
          Coalesce(Seq(c, Literal(false))), attrs.map(_.toAttribute))
      }
    } catch {
      case _: Exception if bindFallback =>
        None // physical-schema mismatch: the declared post-decode belt applies
      case e: Exception =>
        throw new IllegalStateException(
          s"merge-on-read predicate delete(s) on $path cannot bind to the " +
            "physical stream schema (encoded/renamed columns); stream the " +
            "table through the catalog or GeoStreams.readTableStream, " +
            "which apply the predicate post-decode", e)
    }
  }
}

/** Wraps the parquet readers with the delete filters. Row mode reads
  * file-by-file so positions and delete scopes never bleed across packed
  * files (files with positional deletes are never split, so each slice's
  * emitted-row counter IS the file row position — no filters are pushed
  * into parquet, full file scan order). Delete-file contents resolve
  * from the per-executor cache, scoped per file.
  */
class GraftStreamReaderFactory(
    parquet: ParquetPartitionReaderFactory,
    posFactory: Option[ParquetPartitionReaderFactory],
    morPredicate: Option[Expression]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    if (!p.hasDeletes && morPredicate.isEmpty) return parquet.createReader(p.fp)
    val pred = morPredicate.map { e =>
      val pr = Predicate.createInterpreted(e); pr.initialize(p.fp.index); pr
    }
    val perFile = p.fp.files.indices.iterator.map { fi =>
      val pf = p.fp.files(fi)
      val s = p.slices(fi)
      val inner = parquet.createReader(FilePartition(p.fp.index, Array(pf)))
      val abs = DeleteFiles.norm(pf.toPath.toUri.getPath)
      val posDel: Array[Long] =
        if (s.posDeletes.isEmpty) Array.emptyLongArray
        else {
          val all = s.posDeletes.flatMap(f =>
            DeleteFileCache.positionsFor(posFactory.get, f, abs, s.rel))
          java.util.Arrays.sort(all)
          all
        }
      val eqs = s.eqDeletes.map(sp => (sp, DeleteFileCache.keysFor(sp)))
      new PartitionReader[InternalRow] {
        private var pos = -1L
        private var current: InternalRow = _
        override def next(): Boolean = {
          while (inner.next()) {
            pos += 1
            val row = inner.get()
            val deleted =
              (posDel.nonEmpty && java.util.Arrays.binarySearch(posDel, pos) >= 0) ||
                eqs.exists { case (e, keys) =>
                  keys.contains(e.ordinals.indices.map(i =>
                    graft.sources.DeleteFileCache.canonKeyVal(
                      row.get(e.ordinals(i), e.types(i)))).toList) } ||
                pred.exists(_.eval(row))
            if (!deleted) { current = row; return true }
          }
          false
        }
        override def get(): InternalRow = current
        override def close(): Unit = inner.close()
      }
    }
    graft.sources.ConcatReader(perFile)
  }
}
