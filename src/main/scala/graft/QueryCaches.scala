package graft

import org.apache.spark.sql.SparkSession

/** The engine's one per-JVM reuse mechanism: `memo(key)(build)` builds
  * operator state (persisted frames, written artifacts, collected
  * codebooks, catalog registrations, broadcasts, drained sinks) once and
  * returns it to every later call with the same key.
  *
  * Invariants:
  *  - Exactly once per key. The map only ever inserts an empty [[Cell]];
  *    the build runs under that cell's lock, so concurrent callers wait
  *    for one build. A build that throws leaves the cell empty and the
  *    next call builds again.
  *  - Safe to nest. No build runs inside the map's `computeIfAbsent`, so
  *    a build may memoize other keys (a takedown cascade builds the band
  *    index and the PQ index it purges). Nesting must not cycle.
  *  - Scoped to the `SparkContext`. The stored key carries the active
  *    context's `applicationId`: memoized state (cached frames, catalog
  *    tables, broadcasts) is only valid in the context that built it, and
  *    a later context in the same JVM builds its own.
  *  - Inputs are assumed immutable per key. A caller whose inputs can
  *    change under the same key (a path rewritten in place) is served the
  *    old state; keying on an input fingerprint is still open.
  *
  * Memory is bounded by the number of distinct keys (operator sites ×
  * input dirs), not by the number of calls. Retiring a persisted frame
  * when a site re-runs would be wrong: Spark's CacheManager shares one
  * entry between plan-equal frames, so the new call's `persist()` reads
  * the entry the old handle would evict.
  */
object QueryCaches {
  private final class Cell {
    @volatile var value: AnyRef = _
  }

  private val live = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  private def scoped(key: String, appId: String): String = s"$appId/$key"

  private def activeAppId: String = SparkSession.active.sparkContext.applicationId

  /** Whether `key` holds a built value under context `appId`. */
  private[graft] def has(key: String, appId: String = activeAppId): Boolean =
    Option(live.get(scoped(key, appId))).exists(_.value != null)

  def memo[T <: AnyRef](key: String)(build: => T): T = {
    val cell = live.computeIfAbsent(scoped(key, activeAppId), _ => new Cell)
    if (cell.value == null) cell.synchronized {
      if (cell.value == null) cell.value = build
    }
    cell.value.asInstanceOf[T]
  }
}
