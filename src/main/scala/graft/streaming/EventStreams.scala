package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured-Streaming surface. The reference's streaming capability is an
  * Iceberg micro-batch source/sink (`SparkMicroBatchStream.java:68,117-184`,
  * `SparkWrite.java:181-186` in /root/reference) with no event-time
  * operators of its own — watermarks/windows/state are Spark built-ins
  * (SURVEY.md §2.8). Here the micro-batch source is Spark's file stream
  * over the same parquet tables, and the event-time/stateful layer is the
  * part we expose as API.
  */
object EventStreams {

  /** events as a micro-batch stream; `ts` arrives either as a nanos long
    * (TIMESTAMP(NANOS) parquet under the legacy flag) or as TIMESTAMP_NTZ
    * (timestamp[us] parquet) depending on generator version — surfaced
    * as a µs TimestampType column `ets` either way. Stated boundary: the
    * nanos path yields exact UTC epoch micros while the NTZ cast
    * interprets the wall-clock in the SESSION time zone (the same cast
    * every batch consumer of this table applies — stream and batch agree
    * by construction; this harness runs UTC, where the two coincide).
    *
    * The legacy nanos flag is set SESSION-WIDE on purpose: it is read at
    * plan time of every later parquet scan of this table (a scoped
    * set/restore would not survive lazy execution), and the whole
    * harness's `Tables.load` applies the same convention.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
      stream.withColumn("ets", timestamp_micros(expr("ts div 1000")))
    else stream.withColumn("ets", col("ts").cast("timestamp"))
  }

  /** Watermarked tumbling-window aggregation (event time). */
  def windowedCounts(events: DataFrame, window_ : String = "6 hours",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ets", watermark)
      .groupBy(window(col("ets"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Stream-stream interval join: click attribution. Each click joins the
    * views of the same user that happened within `within` BEFORE it. Both
    * sides carry watermarks and the join condition bounds event-time
    * distance in both directions, so Spark can expire buffered state —
    * without that, a continuous pipeline's join state grows without bound
    * (the property that matters at production stream rates; Spark rejects
    * unwatermarked inner interval joins in append mode outright).
    */
  def viewClickJoin(events: DataFrame, within: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ets").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ets").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    views.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("v_ts"), col("c_ts"))
  }

  /** Streaming deduplication on a business key with bounded state:
    * duplicates arriving within the watermark horizon are dropped, and
    * per-key state is expired once the watermark passes it —
    * `dropDuplicatesWithinWatermark`, the at-least-once-source →
    * exactly-once-semantics repair stage of an ingest pipeline.
    */
  def dedupedEvents(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events.withWatermark("ets", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  case class UserAgg(user_id: Long, n_events: Long, total_value: Double)

  /** Custom per-key state: running per-user totals via mapGroupsWithState —
    * the `KeyValueGroupedDataset` stateful path SURVEY.md §2.8 names.
    */
  def userTotals(spark: SparkSession, events: DataFrame): Dataset[UserAgg] = {
    import spark.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { case (_, v) => n += 1; tot += v }
          val next = UserAgg(uid, n, tot)
          state.update(next)
          next
      }
  }
}
