package graft.core

import org.apache.spark.sql.SparkSession

/** A single-slot memo keyed by (session, dir): it holds only the LATEST
  * entry, because unbounded session-keyed memoization would pin every
  * stopped session's cache blocks for the JVM lifetime. Replacing or
  * clearing an entry passes the old value to `evict` (e.g. to unpersist a
  * cached lineage); a value with no hook is simply dropped, and the
  * ContextCleaner reclaims its checkpoint blocks once it is unreachable.
  */
final class SessionMemo[V] private (evict: V => Unit) {
  private var entry: Option[(SparkSession, String, V)] = None

  /** The value for (s, dir) if it is the held entry. */
  def get(s: SparkSession, dir: String): Option[V] = synchronized {
    entry.collect { case (es, ed, v) if (es eq s) && ed == dir => v }
  }

  /** The held value for (s, dir), else evict the held entry and compute. */
  def apply(s: SparkSession, dir: String)(compute: => V): V = synchronized {
    get(s, dir).getOrElse {
      clear()
      val v = compute
      entry = Some((s, dir, v))
      v
    }
  }

  /** Hold `v` for (s, dir), evicting the previous entry. */
  def put(s: SparkSession, dir: String, v: V): Unit = synchronized {
    clear()
    entry = Some((s, dir, v))
  }

  /** Evict the held entry, if any. */
  def clear(): Unit = synchronized {
    entry.foreach { case (_, _, v) =>
      try evict(v) catch { case _: Throwable => () }
    }
    entry = None
  }
}

object SessionMemo {
  private val slots = scala.collection.mutable.ArrayBuffer.empty[SessionMemo[_]]

  def apply[V](evict: V => Unit = (_: V) => ()): SessionMemo[V] = {
    val m = new SessionMemo[V](evict)
    slots.synchronized { slots += m }
    m
  }

  /** Clear every memo (Bench calls this once after the board, so the
    * shared tables do not stay resident for the session's remainder). */
  def release(): Unit = slots.synchronized(slots.toList).foreach(_.clear())
}
