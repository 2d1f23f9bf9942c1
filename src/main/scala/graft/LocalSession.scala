package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the mains (Bench, BenchScale, Verify,
  * PlanDump, Repl) run on: `local[cpus]` with one shuffle partition per
  * core, UTC session time, AQE on, parquet nanosecond timestamps read as
  * longs (`events.ts`), no UI.
  */
object LocalSession {

  /** Core count: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def apply(logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
