package graft.operators

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared materialized-stage memoization (the q53→q54 / q77→q78 / q79
  * staging idiom): compute an expensive intermediate once per
  * (SparkSession, key) and let composed queries reuse it, the way a
  * real pipeline stages its intermediates.
  *
  * Locking: one cell per key, compute under the CELL's lazy-val lock
  * only — never a cache-wide lock held across `f`. A global
  * synchronized-during-compute (the original shape) deadlocks the
  * moment one memoized stage's build runs a streaming query whose
  * micro-batch body asks the cache for a DIFFERENT key (q90's index build
  * holds the lock through awaitTermination while its own micro-batch
  * blocks on the centroid entry). Per-key cells keep the
  * single-compute guarantee — concurrent same-key callers block on
  * that cell, distinct keys never interact — and a genuinely circular
  * same-key dependency would self-deadlock loudly, which is the bug it
  * would be.
  *
  * Sessions are matched by IDENTITY through a WeakReference — a hit
  * from a different session that merely collided on hashCode recomputes
  * instead of returning a DataFrame bound to a stopped session. (A
  * WeakHashMap would not help here: the cached DataFrame strongly
  * references its session, which would pin the weak key forever.)
  * Every miss also SWEEPS entries whose session reference has been
  * cleared — without that, an entry whose exact (hash, key) slot is
  * never touched again would strongly hold its cached DataFrame (and
  * through it the stopped session) for the life of the JVM: unbounded
  * retention in long-lived drivers that churn sessions. The map is
  * small (a handful of stages per live session), so the sweep is a
  * cheap linear scan. */
private[graft] object StageCache {

  private final class Cell[T](f: () => T, val session: WeakReference[SparkSession]) {
    lazy val value: T = f()
  }

  private val cache = new ConcurrentHashMap[(Int, String), Cell[Any]]()

  private def sweep(): Unit =
    cache.entrySet().removeIf(e => e.getValue.session.get == null)

  private def memo[T](s: SparkSession, key: String)(f: => T): T = {
    val k = (System.identityHashCode(s), key)
    val cur = cache.get(k)
    val cell =
      if (cur != null && (cur.session.get eq s)) cur
      else {
        sweep()
        val fresh = new Cell[Any](() => f, new WeakReference(s))
        // replace only if still the stale/absent entry we just saw —
        // a racing same-key caller's fresh cell wins exactly once
        if (cur == null)
          Option(cache.putIfAbsent(k, fresh)).getOrElse(fresh)
        else if (cache.replace(k, cur, fresh)) fresh
        else cache.get(k)
      }
    cell.value.asInstanceOf[T]
  }

  /** Live entry count — lets specs assert the sweep actually evicts. */
  private[operators] def size: Int = cache.size

  def getOrCompute(s: SparkSession, key: String)(f: => DataFrame): DataFrame =
    memo(s, key)(f)

  /** Memoize a materialized DIRECTORY (e.g. a written index layout) per
    * (session, key) — the ingest-once accounting for write-path ops. */
  def dirFor(s: SparkSession, key: String)(f: => String): String = memo(s, key)(f)

  /** Memoize a driver-side VALUE (e.g. a learned merge list) per
    * (session, key) — same ingest-once accounting for model-sized
    * results that queries compose on. */
  def valueFor[T](s: SparkSession, key: String)(f: => T): T = memo(s, key)(f)

  /** Overwrite an entry unconditionally — for WRITE paths that rebuild
    * the underlying artifact under the same key (a same-path index
    * rebuild inside one JVM must not let later reads serve the
    * pre-rebuild model). */
  private[graft] def put[T](s: SparkSession, key: String, v: T): Unit = {
    sweep()
    val cell = new Cell[Any](() => v, new WeakReference(s))
    cell.value // force: a put cell never runs user code lazily
    cache.put((System.identityHashCode(s), key), cell)
    ()
  }
}
