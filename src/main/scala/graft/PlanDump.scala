package graft

/** Dev aid for the optimization rounds: writes `.explain("formatted")` of
  * selected catalog queries to files, so plan-shape claims (Exchange
  * count, join strategy, PushedFilters/ReadSchema) are auditable without
  * running Spark.
  *
  * Usage:
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <name1,name2,...|all>"
  * Data dir from SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is what
  * is recorded; it does not depend on the scale factor). Each query lands
  * at <outDir>/<name>_<suffix>.txt. Queries whose construction itself
  * runs driver-side work (trained models, streaming proofs) still dump
  * the plan of the frame they return.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <names|all>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq.filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(outDir)
    val spark = LocalSession()
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] no such query: $n")
        case Some(fn) =>
          try CacheScope.scoped {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            System.err.println(s"[plandump] wrote ${n}_$suffix.txt")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[plandump] $n FAILED: $e")
          } finally spark.catalog.clearCache() // drop the Tables registry caches
      }
    }
    spark.stop()
  }
}
