package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Det

/** Structured Streaming mode for the `events` table (SURVEY.md §2.9,
  * build-plan P5): the same event-time window expressions as the batch
  * `TimeWindows`, run under `readStream` with a watermark, by file-replay
  * of the fixture parquet. The batch results are the correctness oracle —
  * StreamingSpec asserts stream ≡ batch, and the catalog exposes the
  * streaming tumbling query against the same DuckDB SQL as its batch twin.
  *
  * Scale: the streaming plan keeps the batch shuffle shape (partial
  * aggregation per micro-batch into a state store keyed by window), and
  * the watermark bounds state — rows later than it are dropped, so state
  * tracks the window width and key cardinality, not the stream length.
  */
object StreamWindows {

  private val nameSeq = new AtomicLong(0)

  /** The events fixture as a replayed stream (schema from the parquet
    * footer; ts normalization identical to Tables.open — schema-adaptive
    * across fixture generations).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // layout-adaptive source (single-file fixture vs directory-of-parts —
    // see Tables.streamTable for why the distinction is load-bearing)
    graft.sources.Tables.normalizeEventsTs(
      graft.sources.Tables.streamTable(spark, sfDir, "events", schema))
  }

  /** Drive a streaming aggregation to completion over all available input
    * (Trigger.AvailableNow) and return the final result from the memory
    * sink. Complete output mode: the sink holds the full aggregate, the
    * watermark still exercises the state-store path. The (small) result
    * is copied out and the sink's temp view dropped, so repeated
    * invocations don't accumulate materialized tables on the driver.
    * Also drives the keyed ingest gates of `StreamDedup` in the catalog.
    */
  def runToResult(stream: DataFrame, label: String): DataFrame = {
    val spark = stream.sparkSession
    val name = s"graft_stream_${label}_${nameSeq.incrementAndGet()}"
    val q = stream.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
    val sink = spark.table(name)
    val rows = sink.collect()
    spark.catalog.dropTempView(name)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sink.schema)
  }

  /** Tumbling windows, streamed: counts + exact value sums per
    * (1h window, event_type) with a 1h watermark — the streaming twin of
    * the batch `events_time_window` query (same output schema).
    */
  def tumbling(spark: SparkSession, sfDir: String): DataFrame =
    runToResult(
      eventsStream(spark, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("sum_value"))
        .select(Det.fmtTs(col("w.start")).as("window_start"),
          col("event_type"), col("cnt"), col("sum_value")),
      "tumbling")

  /** Sliding 1h/15m windows, streamed (epoch-seconds start). */
  def sliding(spark: SparkSession, sfDir: String): DataFrame =
    runToResult(
      eventsStream(spark, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("w.start")).as("ws_epoch"),
          col("event_type"), col("cnt")),
      "sliding")

  /** Session windows (30 min gap), streamed. */
  def session(spark: SparkSession, sfDir: String): DataFrame =
    runToResult(
      eventsStream(spark, sfDir)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), Det.fmtTs(col("w.start")).as("session_start"), col("cnt")),
      "session")

  /** Custom stateful aggregation (SURVEY.md §2.9 stateful row):
    * per-user event counts + max event time held in explicit
    * `mapGroupsWithState` state — the escape hatch for stream logic the
    * built-in windows can't express. State is one small record per key,
    * merged across micro-batches by the state store.
    */
  def statefulUserCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val stream = eventsStream(spark, sfDir)
      .select(col("user_id").as[Long], col("event_id").as[Long])
      .as[(Long, Long)]
    val counted = stream
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          val (c0, m0) = state.getOption.getOrElse((0L, Long.MinValue))
          var c = c0; var m = m0
          rows.foreach { case (_, eid) => c += 1; if (eid > m) m = eid }
          state.update((c, m))
          (user, c, m)
      }
      .toDF("user_id", "cnt", "max_event_id")
    val name = s"graft_stream_stateful_${nameSeq.incrementAndGet()}"
    val q = counted.writeStream.format("memory").queryName(name)
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(); q.stop()
    // update mode appends one row per key per batch — keep the last, then
    // drop the sink view so repeated runs don't accumulate driver state
    val sink = spark.table(name)
    val latest = sink.groupBy("user_id")
      .agg(max("cnt").as("cnt"), max("max_event_id").as("max_event_id"))
    val rows = latest.collect()
    val schema = latest.schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Watermarked streaming dedup (late-data handling): duplicates of
    * `event_id` arriving within the watermark across micro-batches are
    * dropped by state-store lookup; rows later than the watermark would
    * be discarded outright.
    */
  def dedupByIdStream(spark: SparkSession, dir: String,
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    runToResult(
      graft.sources.Tables.normalizeEventsTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1) // one file per micro-batch → real cross-batch state
          .parquet(dir))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"))
        .select(Det.fmtTs(col("window.start")).as("window_start"), col("cnt")),
      "dedup")
}
