package graft.sources

import java.nio.file.{Files, Paths}

/** The per-JVM build-once memo for query SCAFFOLDING: derived layouts,
  * staged sources, committed stores and the small values computed from
  * them — inputs a query reads, never the work it is timed on. Every
  * site goes through [[once]] and so gets the same three rules:
  *
  *   - every hit is re-validated: `valid` checks what the caller will
  *     read (a reaped temp dir, a dropped catalog table), and an
  *     invalid hit is rebuilt instead of served;
  *   - a build that throws caches nothing — the next call builds;
  *   - concurrent first callers of a key build ONCE: they serialize on
  *     a per-key lock and the losers get the winner's value
  *     (a concurrent map's `getOrElseUpdate` runs its op before the
  *     insert CAS, so two first callers each ran the full write job).
  *
  * The lock is a monitor per key, taken OUTSIDE the map: builds nest
  * (q151 -> q143 -> q98), and a build inside
  * `ConcurrentHashMap.computeIfAbsent` that touches the same map throws
  * "Recursive update". Keys are namespaced by site (`"q89|" + sfDir`).
  */
object Scaffold {

  private final class Slot { @volatile var value: Option[Any] = None }

  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  def once[V](key: String, valid: V => Boolean)(build: => V): V = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    def hit: Option[V] = slot.value.asInstanceOf[Option[V]].filter(valid)
    hit.getOrElse(slot.synchronized {
      hit.getOrElse {
        val v = build
        slot.value = Some(v)
        v
      }
    })
  }

  /** `valid` for a site that returns a local directory: it and each
    * `sub` path under it still exist. */
  def has(sub: String*): String => Boolean = dir =>
    Files.isDirectory(Paths.get(dir)) && sub.forall(s => Files.exists(Paths.get(dir, s)))

  /** Specs simulate a fresh JVM by forgetting every key under `prefix`. */
  private[graft] def forget(prefix: String): Unit =
    slots.keySet.removeIf(_.startsWith(prefix)): Unit
}
