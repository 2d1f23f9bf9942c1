package graft

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Lifecycle of the DataFrames that multi-pass operators (Dedup's pair
  * joins, the cleaning pipeline, the histogram cuts) evaluate more than
  * once. Operators `pin` such a subtree; the call that collects owns the
  * pins: it runs the operator and its collect inside `scoped { … }`, and
  * the block releases exactly the pins made inside it on exit — the
  * session layer per sketch and per progressive step, the REPL per
  * command, the batch harnesses per catalog row.
  *
  * A scope belongs to the thread that opened it (a plain thread-local
  * stack, not inherited by threads it starts), so concurrent callers
  * never release each other's pins. With no scope open, `pin` persists
  * nothing and the operator recomputes the subtree per consumer: slower,
  * never leaked.
  */
object CacheScope {
  private val open = ThreadLocal.withInitial[List[mutable.ArrayBuffer[Dataset[_]]]](() => Nil)

  /** Persist (MEMORY_AND_DISK — at 100 TB a hot subtree must degrade to
    * disk, not OOM) into the innermost open scope. A frame that is
    * ALREADY persisted is not tracked: `storageLevel` resolves through
    * Spark's CacheManager by canonicalized plan, so it can reflect an
    * enclosing scope's pin of an identical plan, and a scope must only
    * unpersist what it persisted itself.
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    open.get match {
      case pins :: _ if ds.storageLevel == StorageLevel.NONE =>
        ds.persist(StorageLevel.MEMORY_AND_DISK)
        pins += ds
      case _ =>
    }
    ds
  }

  /** Run `f` in a fresh scope on this thread and unpersist its pins when
    * it returns or throws. `f` must materialize anything it keeps: a lazy
    * result read after the block recomputes the released subtrees.
    */
  def scoped[T](f: => T): T = {
    val outer = open.get
    val pins = mutable.ArrayBuffer.empty[Dataset[_]]
    open.set(pins :: outer)
    try f
    finally {
      open.set(outer)
      pins.foreach(_.unpersist())
    }
  }
}
