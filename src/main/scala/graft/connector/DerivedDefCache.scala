package graft.connector

import graft.io.SidecarFs
import graft.store.SegmentFile

/** Plan-time listing cache for derived-structure definitions (secondary
  * indexes, materialized views), keyed on the BASE table's manifest
  * version. The rationale, shared by both users: rewrite rules run
  * inside a fixpoint optimizer batch for every matching kv query, and
  * re-listing the derived root (plus one meta read per entry) each
  * iteration is avoidable I/O — definitions can only usefully change
  * alongside a base commit (a refresh re-watermarks to the CURRENT
  * version; create/drop in this process invalidate explicitly). A
  * cross-process create/drop is seen at the next base commit:
  * staleness can only delay an OPTIMIZATION, never affect results —
  * the rewrites re-validate in-sync-ness against the live version
  * either way. A cache hit still re-stats the derived root: a DROP
  * TABLE + recreate restarts version numbers, and serving the dead
  * table's definitions would make a rewrite reference tables that no
  * longer exist. */
private[connector] final class DerivedDefCache[T](
    rootOf: String => String,
    listAll: String => Seq[T],
    versionOf: T => Long) {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Seq[T])]()

  private def norm(base: String): String = SidecarFs.qualified(base)

  def invalidate(base: String): Unit = cache.remove(norm(base))

  /** All in-sync definitions of `base`, memoized per manifest version. */
  def usable(base: String): Seq[T] = {
    val v = SegmentFile.currentVersion(base).getOrElse(return Nil)
    val key = norm(base)
    val hit = cache.get(key)
    if (hit != null && hit._1 == v &&
      (hit._2.isEmpty || SidecarFs.isDirectory(rootOf(base))))
      return hit._2
    val defs = listAll(base)
      .filter(d => SegmentFile.sameFiles(base, versionOf(d), v))
    cache.put(key, (v, defs))
    defs
  }
}
