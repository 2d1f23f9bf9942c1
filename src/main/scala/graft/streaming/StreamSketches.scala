package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DataSketchAggs
import graft.operators.SketchTables

/** Sketch TABLES maintained under a STREAM (SURVEY.md §2.9 × the
  * mergeable-sketch-table model): the per-fine-group sketch build — the
  * only stage that touches raw events — runs as ONE streaming
  * aggregation (HLL sketches merge in the state store exactly as they
  * merge in a batch shuffle: same monoid), and every coarser rollup is
  * served from the compact sketch table by [[SketchTables]] merge ops,
  * never rescanning the stream.
  *
  * Correctness: Spark's HLL sketch aggregate is deterministic for a
  * given input SET (seed-fixed hash), and the stream delivers exactly
  * the batch's rows, so the streamed sketch table — and any rollup of
  * it — is BYTE-equal to the batch-built table: StreamingSpec pins
  * stream ≡ batch at the estimate level.
  */
object StreamSketches {

  /** Per-(week, day) HLL user sketch table, driven to completion over
    * the replayed fixture stream.
    */
  def dailyUserSketches(spark: SparkSession, sfDir: String): DataFrame =
    StreamWindows.runToResult(
      StreamWindows.eventsStream(spark, sfDir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("week", date_trunc("week", col("ts")).cast("date"))
        .groupBy(col("week"), col("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("hll")),
      "sketch_table")

  /** Weekly distinct-user rollup answered from the STREAMED sketch
    * table — the batch `events_distinct_rollup` shape with the build
    * side live.
    */
  def weeklyDistinctRollup(spark: SparkSession, sfDir: String): DataFrame =
    SketchTables.hllEstimate(
      SketchTables.hllRollup(dailyUserSketches(spark, sfDir), Seq("week")))

  /** Per-(week, day) Count-Min frequency sketch table built as ONE
    * streaming aggregation — CMS counters add in the state store exactly
    * as in a batch shuffle (the same exact-addition monoid), so the
    * streamed table is BIT-identical to the batch build (StreamingSpec
    * pins byte equality — the CMS family's merge contract is exact, so
    * the stream twin inherits it undiluted).
    */
  def dailyUserFreqSketches(spark: SparkSession, sfDir: String,
                            depth: Int = 5, width: Int = 4096,
                            seed: Int = 42): DataFrame = {
    StreamWindows.runToResult(
      StreamWindows.eventsStream(spark, sfDir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("week", date_format(date_trunc("week", col("ts")), "yyyy-MM-dd"))
        .groupBy(col("week"), col("day"))
        .agg(DataSketchAggs.cmsSketch(col("user_id").cast("long"), depth, width, seed)
          .as("cms")),
      "cms_table")
  }

  /** Weekly per-user frequency estimates answered from the STREAMED CMS
    * table — the batch `events_user_freq_cms` shape with the build side
    * live.
    */
  def weeklyUserFreqRollup(spark: SparkSession, sfDir: String,
                           keys: Seq[Long]): DataFrame =
    SketchTables.cmsEstimate(
      SketchTables.cmsRollup(dailyUserFreqSketches(spark, sfDir), Seq("week")),
      keys)
}
