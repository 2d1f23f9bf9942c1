package org.apache.spark.graftest

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only bridge to the `private[spark]` listener bus: metric
  * assertions must flush asynchronously-delivered task-end events before
  * reading their accumulators, or counts race the bus. Lives under
  * `org.apache.spark` (test scope only) for access; nothing in main
  * sources uses it.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** The one way specs observe scheduler events: `withListener` runs `body`
  * with `listener` registered and drains the bus on both sides, so
  * earlier jobs' events cannot leak in and `body`'s own events have all
  * arrived on return.
  */
object Listeners {
  def withListener[T](sc: SparkContext, listener: SparkListener)(body: => T): T = {
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerDrain.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started while `action` runs. */
  def jobsStarted(sc: SparkContext)(action: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    withListener(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(action)
    n.get()
  }
}

/** Test-only bridge to the `private[spark]` checkpoint-dir var: the
  * public API can SET a checkpoint directory but never unset it, and the
  * reliable-checkpoint test must restore the shared session to its
  * local-checkpoint default or every later iterative-operator test pays
  * checkpoint-file I/O.
  */
object CheckpointDirs {
  def reset(sc: SparkContext): Unit = sc.checkpointDir = None
}
