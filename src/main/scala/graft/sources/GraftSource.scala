package graft.sources

import org.apache.spark.sql.sources.DataSourceRegister

import graft.spatial.{Geo, Snapshots}

/** `spark.read.format("graft").load(path)` — the connector face of the
  * engine (the reference registers `havasu.iceberg` the same way:
  * `spark/v3.5/spark/src/main/java/org/apache/iceberg/spark/source/havasu/HavasuIcebergSource.java`
  * in /root/reference, a DataSourceRegister short name resolving to the
  * table implementation). Options:
  *
  *  - `version` — time travel to a snapshot (default: current), the
  *    `VERSION AS OF` equivalent; `ref`/`branch`/`tag` resolve by name;
  *    `as-of-timestamp` (epoch millis) resolves within main's ancestry.
  *  - `start-version`/`start-snapshot-id` (+ optional `end-version`/
  *    `end-snapshot-id`, or the `-timestamp` forms) — incremental append
  *    read: only rows entering `(start, end]`, rewrite snapshots skipped
  *    (the reference's SparkReadOptions incremental surface).
  *  - `metadata` — a metadata table (`files`, `snapshots`, ...).
  *
  * Reading through the format installs the ST_ function catalog and the
  * spatial/aggregate pushdown rules on the session, so
  * `spark.read.format("graft").load(p).filter(st_intersects(...))` prunes
  * files exactly like [[GeoTable.read]].
  *
  * Fidelity: the format read ALWAYS equals [[Snapshots.read]] — the
  * reference's connector applies delete files unconditionally at read
  * (`RowDataReader.java:95` + `DeleteFilter` in /root/reference), and so
  * does this one. The format is DSv2 only and resolves to [[GraftTable]]:
  * files with no pending delete state and no declared geometry encodings
  * take the native vectorized columnar path; files with pending
  * merge-on-read predicate / positional / equality deletes take the
  * wrapped row path, which applies them per file. There is no V1
  * relation: listing `graft` in `spark.sql.sources.useV1SourceList`
  * makes Spark reject the format.
  */
class GraftSource extends DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider {

  override def shortName(): String = "graft"

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.types.StructType =
    makeTable(options).schema()

  override def getTable(
      schema: org.apache.spark.sql.types.StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table =
    makeTable(new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties))

  // one read calls makeTable TWICE (inferSchema, then getTable) — for the
  // changes/metadata tables that construction walks every manifest version,
  // a planning stall paid double. Memoize the last build; the key carries
  // the table's current version so a new commit busts the entry.
  @volatile private var memo:
    (String, org.apache.spark.sql.connector.catalog.Table) = null

  private def makeTable(opts: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.catalog.Table = {
    val spark = org.apache.spark.sql.SparkSession.active
    Geo.install(spark)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("format(\"graft\") requires a path"))
    import scala.jdk.CollectionConverters._
    val key = opts.asCaseSensitiveMap().asScala.toSeq.sorted.mkString(";") +
      "@" + Snapshots.currentVersion(path)
    val cached = memo
    if (cached != null && cached._1 == key) return cached._2
    val built = buildTable(spark, path, opts)
    memo = (key, built)
    built
  }

  private def buildTable(spark: org.apache.spark.sql.SparkSession, path: String,
      opts: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.catalog.Table = {
    Option(opts.get("metadata")) match {
      case Some(name) if name.equalsIgnoreCase("changes") =>
        // the reference's `t.changes` changelog table: start is EXCLUSIVE
        // (0 = full history), end inclusive (default: main head). The
        // -timestamp forms resolve like the data-table incremental read —
        // ignoring them would silently serve the FULL history to a CDC
        // consumer that asked for a window
        def intOpt(ks: String*): Option[Int] =
          ks.flatMap(k => Option(opts.get(k))).headOption.map(_.toInt)
        def tsOpt(k: String): Option[Int] = Option(opts.get(k)).map { ms =>
          // a timestamp BEFORE the first snapshot resolves to 0 ("from the
          // beginning" / an empty window), never an error — a CDC consumer
          // asking for changes since a pre-table time means everything
          try Snapshots.versionAsOfTimestamp(path, ms.toLong)
          catch { case _: IllegalArgumentException => 0 }
        }
        val from = intOpt("start-version", "start-snapshot-id")
          .orElse(tsOpt("start-timestamp")).getOrElse(0)
        val to = intOpt("end-version", "end-snapshot-id")
          .orElse(tsOpt("end-timestamp"))
          .getOrElse(Snapshots.mainVersion(path))
        new GraftMetadataTable(Snapshots.changelog(spark, path, from, to),
          s"graft:$path#changes")
      case Some(name) =>
        new GraftMetadataTable(Snapshots.metadataTable(spark, path, name,
          resolveVersion(path, k => Option(opts.get(k)))), s"graft:$path#$name")
      case None =>
        new GraftTable(path, resolveVersion(path, k => Option(opts.get(k))))
    }
  }

  private def resolveVersion(path: String, opt: String => Option[String]): Option[Int] =
    opt("version").map(_.toInt)
      // the reference's SparkReadOptions.SNAPSHOT_ID name for the same
      // thing, plus Spark's own camelCase time-travel spelling
      // (SparkReadOptions.VERSION_AS_OF — `option("versionAsOf", n)`)
      .orElse(opt("snapshot-id").map(_.toInt))
      .orElse(opt("versionAsOf").map(_.toInt))
      .orElse(opt("ref").map(Snapshots.resolveRef(path, _)))
      .orElse(opt("branch").map(Snapshots.resolveRef(path, _)))
      .orElse(opt("tag").map(Snapshots.resolveRef(path, _)))
      // the reference's SparkReadOptions.AS_OF_TIMESTAMP (epoch millis) +
      // the camelCase TIMESTAMP_AS_OF twin
      .orElse(opt("as-of-timestamp").map(ts =>
        Snapshots.versionAsOfTimestamp(path, ts.toLong)))
      // camelCase twin accepts epoch millis OR Spark's timestamp-string
      // spellings — full `2026-01-01 00:00:00[.f]` AND the date-only
      // `2026-01-01` form Spark's own timestampAsOf accepts (midnight
      // local, like a CAST to timestamp)
      .orElse(opt("timestampAsOf").map { ts =>
        val millis = ts.toLongOption.getOrElse {
          try java.sql.Timestamp.valueOf(ts).getTime
          catch { case _: IllegalArgumentException =>
            java.sql.Timestamp.valueOf(
              java.time.LocalDate.parse(ts.trim).atStartOfDay()).getTime }
        }
        Snapshots.versionAsOfTimestamp(path, millis)
      })
}

/** Driver-computed metadata frame served as a DSv2 LocalScan (becomes a
  * LocalTableScanExec — no distributed job for O(#files) metadata).
  */
private[sources] class GraftMetadataTable(df: org.apache.spark.sql.DataFrame, tname: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def name(): String = tname
  override def schema(): org.apache.spark.sql.types.StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new org.apache.spark.sql.connector.read.ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): org.apache.spark.sql.types.StructType = df.schema
          override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
            df.queryExecution.executedPlan.executeCollect()
        }
    }
}
