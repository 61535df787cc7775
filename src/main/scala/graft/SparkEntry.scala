package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * Hilbert-clustered geo-table write → manifest → pruned spatial read.
    */
  def entry(spark: SparkSession): DataFrame =
    operators.GeoQueries.queries("geo_table_roundtrip")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Relational.queries ++ operators.GeoQueries.queries ++
      operators.TextPipeline.queries ++ operators.Similarity.queries ++
      operators.Multimodal.queries ++ operators.Events.queries ++
      operators.Curation.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Relational.oracleSql ++ operators.GeoQueries.oracleSql ++
      operators.TextPipeline.oracleSql ++ operators.Similarity.oracleSql ++
      operators.Multimodal.oracleSql ++ operators.Events.oracleSql ++
      operators.Curation.oracleSql

  /** The one local session the mains Bench, Verify and PlanDump run
    * on: `local[$SPARK_GRAFT_CPUS]` (default 4) with as many shuffle
    * partitions, UTC, the UI off, graft's session extensions and a
    * generated-class cache sized to the workload. `extra` settings go on
    * top.
    *
    * The cache (a static conf) defaults to 100 entries; ~116 queries x 4
    * passes, each with dozens of codegen units, would make every pass
    * EVICT every other query's classes and Janino recompile the whole
    * workload — measured 2x inflation on the checkpoint-heavy dedup family
    * against a focused run whose units fit (r18 A/B). This is compiled
    * CODE reuse across passes, never data or results.
    */
  def localSession(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    (Seq("spark.sql.shuffle.partitions" -> cpus, "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false", "spark.sql.extensions" -> "graft.sql.GraftExtensions",
        "spark.sql.codegen.cache.maxEntries" -> "10000") ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) { case (b, (k, v)) =>
        b.config(k, v)
      }
      .getOrCreate()
  }
}
