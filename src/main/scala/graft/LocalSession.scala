package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one local SparkSession the mains (Bench, BenchScale, Verify,
  * PlanDump, Repl) run on: `local[cpus]` with one shuffle partition per
  * core, UTC session time, AQE on, parquet nanosecond timestamps read as
  * longs (`events.ts`), no UI, and [[GraftExtensions]] installed so SQL
  * strings (the REPL's `sql` and `filter`) resolve `graft_*` functions.
  */
object LocalSession {

  /** Core count: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def apply(logLevel: String = "ERROR"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // a `spark.sql.extensions` that already names the extension installs
    // it itself; a second install would inject every function twice
    val named = new SparkConf().get("spark.sql.extensions", "").split(",").map(_.trim)
      .contains(classOf[GraftExtensions].getName)
    val spark = (if (named) builder else builder.withExtensions(new GraftExtensions))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
