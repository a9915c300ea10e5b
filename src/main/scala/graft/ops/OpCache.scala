package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for intermediates an operator `persist()`s but cannot
  * unpersist in-op: `queries` entries return UNEXECUTED builders (the
  * driver contract), so the op never observes the caller's action and
  * can't follow clusterTable's persist→action→unpersist pattern for a
  * table the returned plan still references. The shipped runners clear
  * between queries through `graft.Harness.release`; a library caller
  * composing ops calls `release(session)` after its own action instead
  * of accumulating blocks across calls. */
object OpCache {
  private val handles =
    scala.collection.mutable.Map.empty[SparkSession, List[DataFrame]]

  /** Innermost active Scope of the CURRENT thread (scopes are
    * thread-confined: created, filled, and released on one thread —
    * the foreachBatch pattern). A ThreadLocal, not a snapshot diff, so
    * a concurrent caller tracking on another thread can never have its
    * handle claimed by this thread's scope. */
  private val activeScope = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Lazily persist `df` and remember the handle for `release`; if the
    * calling thread has an open `scope`, the handle is also claimed by
    * that scope. */
  def track(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    handles.updateWith(p.sparkSession)(l => Some(p :: l.getOrElse(Nil)))
    activeScope.get().headOption.foreach(sc => sc.mine = p :: sc.mine)
    p
  }

  /** How many handles are tracked for `s` (for hygiene tests). */
  private[graft] def tracked(s: SparkSession): Int = synchronized {
    handles.get(s).map(_.size).getOrElse(0)
  }

  /** Unpersist every intermediate tracked for `s`. */
  def release(s: SparkSession): Unit = synchronized {
    handles.remove(s).foreach(_.foreach(_.unpersist(blocking = false)))
  }

  /** Scoped variant for callers embedded in a larger session (e.g. a
    * `foreachBatch` body composing ops while the caller holds its own
    * tracked caches): `scope(s)` opens a scope ON THIS THREAD, every
    * `track` from this thread while it is open is claimed by it, and
    * `Scope.release()` unpersists exactly those handles — never a
    * concurrent thread's, never the caller's pre-existing caches.
    * Thread-confined: open and release on the same thread. */
  final class Scope private[OpCache] (s: SparkSession) {
    private[OpCache] var mine: List[DataFrame] = Nil
    def release(): Unit = OpCache.synchronized {
      activeScope.set(activeScope.get().filterNot(_ eq this))
      mine.foreach(_.unpersist(blocking = false))
      handles.updateWith(s) { l =>
        val kept = l.getOrElse(Nil).filterNot(d => mine.exists(_ eq d))
        if (kept.isEmpty) None else Some(kept)
      }
      mine = Nil
    }
  }

  def scope(s: SparkSession): Scope = synchronized {
    val sc = new Scope(s)
    activeScope.set(sc :: activeScope.get())
    sc
  }
}
