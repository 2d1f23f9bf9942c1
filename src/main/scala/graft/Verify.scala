package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession("WARN")
    new java.io.File(outDir).mkdirs()
    // dev convenience (driver never sets it): run only the named queries,
    // comma-separated — a targeted oracle check without the full catalog
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    // A query that throws must NEVER be silently absent from the round's
    // correctness artifact (a gate reading it would pass a broken build).
    // On failure: write a one-row sentinel parquet whose schema (a single
    // `spark_error` column) can't match any oracle — the driver's compare
    // then records an explicit schema/hash FAIL for that query — and
    // collect the failure for errors.json below.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try CacheScope.scoped(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = s"spark_failed: ${msg.take(500)}"
        import spark.implicits._
        Seq(failed(name)).toDF("spark_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      // the row's pins died with its scope; this drops the Tables
      // registry caches, which re-pin themselves on next use
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Durable failure manifest: {} when clean. Sentinel parquets above make
    // failures show red in the driver's compare; this file names the cause.
    val errJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
