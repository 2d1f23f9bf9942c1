package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset

/** Shared plumbing for iterative DataFrame/Dataset loops (connected
  * components' star contraction, k-means|| oversampling): each round
  * checkpoints to truncate lineage, and the PREVIOUS round's storage must
  * then be released explicitly or up to maxIters table copies accumulate
  * in executor storage memory for the life of the session.
  *
  * `Dataset.unpersist` only clears cache-manager entries — a checkpointed
  * frame's blocks live on the RDD inside its `LogicalRDD` leaf, so that
  * RDD is what must be unpersisted. A reliable checkpoint's files are
  * that RDD's checkpoint directory, which Spark never deletes unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is set, so the
  * release deletes it too.
  */
private[operators] object Iterative {

  /** Eager lineage truncation under one durability policy: RELIABLE
    * checkpoints (HDFS/object-store backed, survive executor loss) when
    * the session has a checkpoint dir, executor-local blocks otherwise —
    * free on a single JVM, lost with an executor on a real cluster.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = true)

  def releaseCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.map(new Path(_))
        .foreach(p => p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true))
    }
}
