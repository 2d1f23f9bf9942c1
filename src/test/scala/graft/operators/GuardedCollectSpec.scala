package graft.operators

import org.apache.spark.graftest.Listeners
import org.apache.spark.sql.functions._

/** The guarded driver collect behind every sketch-sized collect
  * (`Quantiles.collectHist`, `Pq.collectQueries`, `Similarity`'s query
  * batch, `Dedup.incrementalComponents`' contracted edges): one job under
  * its cap, the caller's loud error over it.
  */
class GuardedCollectSpec extends graft.SparkSpec {

  /** `n` two-dimensional query vectors over 4 partitions, from an RDD so
    * the optimizer does not know the row count (a `range` input would let
    * it drop a `limit` above the count, and the limit's second job). */
  private def queries(n: Int) = {
    import spark.implicits._
    spark.sparkContext.parallelize(0L until n, 4).toDF("q_id")
      .select(col("q_id"), array(col("q_id").cast("float"), lit(1f)).as("q_vec"))
  }

  test("under its cap the guarded collect runs one job on a 4-partition input") {
    val qs = queries(40)
    assert(qs.rdd.getNumPartitions == 4)
    var got: Array[(Long, Array[Double])] = null
    val jobs = Listeners.jobsStarted(spark.sparkContext) { got = Pq.collectQueries(qs, 2, 100) }
    assert(jobs == 1, s"the guarded collect started $jobs jobs")
    // every row, in partition order, as collect() returns them
    assert(got.map(_._1).toSeq == (0L until 40L))
    assert(got.forall { case (id, v) => v.toSeq == Seq(id.toDouble, 1.0) })
  }

  test("over its cap the guarded collect throws the caller's error") {
    val e = intercept[IllegalArgumentException](Pq.collectQueries(queries(40), 2, 39))
    assert(e.getMessage.contains("PQ query batch exceeds MaxQueryBatch=39 rows"), e.getMessage)
    assert(Pq.collectQueries(queries(39), 2, 39).length == 39) // exactly at the cap passes
    assert(Pq.collectQueries(queries(0), 2, 39).isEmpty)
  }
}
