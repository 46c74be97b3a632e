package graft.pruning

import graft.pruning.TriEval._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.DataType

/** Critical-point range generation for one key dimension — the
  * reference's pruning algebra (/root/reference src/main/scala/org/
  * apache/spark/sql/hbase/HBaseCriticalPoint.scala, re-derived):
  * every constant the predicate compares the dimension against is a
  * "critical point"; the points cut the domain into point ranges and
  * open intervals, and three-valued evaluation qualifies each piece.
  * What survives is the exact set of key regions that can hold matching
  * rows — the reader seeks across them, skipping the dead space
  * (`k = 8 OR k > 8` → [8] ∪ (8, ∞); `k < 8 AND k > 8` → ∅).
  */
object CriticalPoints {

  /** All constants compared against `col` anywhere in the filter tree. */
  def collect(f: Filter, col: String, dt: DataType): Seq[Any] = {
    val cmp = comparator(dt)
    def go(f: Filter): Seq[Any] = f match {
      case And(l, r) => go(l) ++ go(r)
      case Or(l, r) => go(l) ++ go(r)
      case Not(c) => go(c)
      case EqualTo(a, v) if a == col => Seq(normalize(dt, v))
      case GreaterThan(a, v) if a == col => Seq(normalize(dt, v))
      case GreaterThanOrEqual(a, v) if a == col => Seq(normalize(dt, v))
      case LessThan(a, v) if a == col => Seq(normalize(dt, v))
      case LessThanOrEqual(a, v) if a == col => Seq(normalize(dt, v))
      case In(a, vs) if a == col => vs.toSeq.map(normalize(dt, _))
      case _ => Nil
    }
    val vals = go(f).filter(_ != null)
    // sorted distinct under the dimension's ordering
    vals.distinct.sortWith((a, b) => cmp(a, b) < 0)
  }

  /** Candidate ranges cut by the critical points:
    * (-∞,v0) [v0] (v0,v1) [v1] … (vN,+∞); full domain when no points. */
  def candidates(points: Seq[Any]): Seq[ValueRange] =
    if (points.isEmpty) Seq(ValueRange.full)
    else {
      val first = ValueRange(None, loInc = true, Some(points.head), hiInc = false)
      val mids = points.sliding(2).collect { case Seq(a, b) =>
        ValueRange(Some(a), loInc = false, Some(b), hiInc = false)
      }.toSeq
      val pts = points.map(ValueRange.point)
      val last = ValueRange(Some(points.last), loInc = false, None, hiInc = true)
      (first +: pts.head +: mids.zip(pts.tail).flatMap { case (m, p) => Seq(m, p) }) :+ last
    }

  /** Qualified ranges for one dimension: candidates whose three-valued
    * evaluation of the conjunction is not False. Empty result = the
    * predicate is unsatisfiable on this dimension. */
  def qualifiedRanges(filters: Seq[Filter], col: String, dt: DataType): Seq[ValueRange] = {
    if (filters.isEmpty) return Seq(ValueRange.full)
    val conj = filters.reduce(And(_, _))
    val pts = collect(conj, col, dt)
    candidates(pts).filter { r =>
      TriEval.eval(conj, Map(col -> Binding(dt, r))) != TriEval.False
    }
  }

  /** Sorted, serializable multi-range on the leading key dimension, used
    * by the segment reader for seek/early-stop. Empty ranges = nothing
    * qualifies. */
  final case class MultiRange(ranges: Seq[ValueRange], dt: DataType)
      extends Serializable {
    @transient private lazy val cmp = comparator(dt)
    @transient private lazy val arr = ranges.toIndexedSeq

    private def inRange(r: ValueRange, v: Any): Boolean =
      r.lo.forall(l => { val c = cmp(v, l); c > 0 || (c == 0 && r.loInc) }) &&
        r.hi.forall(h => { val c = cmp(v, h); c < 0 || (c == 0 && r.hiInc) })

    /** Does range `r` start strictly after value `v` — i.e. can `v` not
      * possibly belong to `r` or any later range? (ranges are sorted and
      * disjoint, so this predicate is monotone over the sequence, which
      * is what makes every membership question a binary search — an
      * IN-list pushes one point range PER VALUE, and a runtime join-key
      * filter can carry thousands, so per-record checks must not be
      * linear in the range count). */
    private def startsAfter(r: ValueRange, v: Any): Boolean =
      r.lo.exists { l => val c = cmp(l, v); c > 0 || (c == 0 && !r.loInc) }

    /** Index of the last range NOT starting after `v`; -1 if all do. */
    private def floorIdx(v: Any): Int = {
      var lo = 0
      var hi = arr.length - 1
      var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (startsAfter(arr(mid), v)) hi = mid - 1
        else { best = mid; lo = mid + 1 }
      }
      best
    }

    def contains(v: Any): Boolean = {
      val i = floorIdx(v)
      i >= 0 && inRange(arr(i), v)
    }

    /** v is past every range (sorted reader may stop). */
    def pastAll(v: Any): Boolean =
      arr.isEmpty || {
        val last = arr(arr.length - 1)
        last.hi.exists { h => val c = cmp(v, h); c > 0 || (c == 0 && !last.hiInc) }
      }

    /** Does the inclusive interval [lo, hi] intersect any qualified
      * range? (segment-level pruning on the leading dimension) The last
      * range starting at or before `hi` is the only candidate: every
      * earlier range ends before it starts, so if ITS upper bound is
      * below `lo`, all earlier ones are too. */
    def intersects(lo: Any, hi: Any): Boolean = {
      val i = lastStartingWithin(hi)
      i >= 0 && arr(i).hi.forall { h =>
        val c = cmp(lo, h); c < 0 || (c == 0 && arr(i).hiInc)
      }
    }

    /** Index of the last range whose lower bound admits some value
      * ≤ `hi` (i.e. the range does not lie entirely above `hi`). */
    private def lastStartingWithin(hi: Any): Int = {
      var lo = 0
      var up = arr.length - 1
      var best = -1
      while (lo <= up) {
        val mid = (lo + up) >>> 1
        val above = arr(mid).lo.exists { l =>
          val c = cmp(l, hi); c > 0 || (c == 0 && !arr(mid).loInc)
        }
        if (above) up = mid - 1 else { best = mid; lo = mid + 1 }
      }
      best
    }

    /** Lower bound of the first range whose interior is still ahead of
      * `v` — the seek target when a sorted reader finds itself in a
      * disqualified gap (ranges are generated sorted by the
      * critical-point cut). A range with an OPEN lower bound equal to
      * `v` is ahead too: for `k > 50` the record k=50 sits exactly on
      * the excluded bound, and the next qualified values start right
      * after it — skipping to the NEXT range instead would leapfrog
      * them. The floor of such a bound is at/behind the current
      * position, so the resulting seek is a harmless no-op. */
    def nextLowerBound(v: Any): Option[Any] = {
      val i = floorIdx(v) + 1 // first range starting after v
      if (i < arr.length) arr(i).lo else None
    }

    /** Is the whole inclusive interval [lo, hi] inside ONE qualified
      * range? (fully-covered segment test for filtered metadata-only
      * aggregation — a single range is an interval, so containing both
      * ends contains everything between) */
    def coversInterval(lo: Any, hi: Any): Boolean =
      ranges.exists(r => inRange(r, lo) && inRange(r, hi))

    /** The subset of qualified ranges that intersect the inclusive
      * interval [lo, hi] — the per-partition specialization of a scan's
      * range set to one segment's key span. */
    def intersecting(lo: Any, hi: Any): Seq[ValueRange] = ranges.filter { r =>
      r.hi.forall(h => { val c = cmp(lo, h); c < 0 || (c == 0 && r.hiInc) }) &&
        r.lo.forall(l => { val c = cmp(hi, l); c > 0 || (c == 0 && r.loInc) })
    }
  }

  /** Intersection of two SORTED, DISJOINT range lists (two-pointer).
    * Used to narrow the filter-derived lead ranges with a z-clustered
    * table's box cover — both operands enforce exactly, so the
    * intersection stays an exact enforcement set. */
  def intersect(a: Seq[ValueRange], b: Seq[ValueRange], dt: DataType)
      : Seq[ValueRange] = {
    val cmp = comparator(dt)
    val out = scala.collection.mutable.ArrayBuffer.empty[ValueRange]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ra = a(i)
      val rb = b(j)
      // max of lower bounds (None = -inf); ties need both inclusive
      val (lo, loInc) = (ra.lo, rb.lo) match {
        case (None, _) => (rb.lo, rb.loInc)
        case (_, None) => (ra.lo, ra.loInc)
        case (Some(x), Some(y)) =>
          val c = cmp(x, y)
          if (c > 0) (ra.lo, ra.loInc)
          else if (c < 0) (rb.lo, rb.loInc)
          else (ra.lo, ra.loInc && rb.loInc)
      }
      // min of upper bounds (None = +inf)
      val (hi, hiInc) = (ra.hi, rb.hi) match {
        case (None, _) => (rb.hi, rb.hiInc)
        case (_, None) => (ra.hi, ra.hiInc)
        case (Some(x), Some(y)) =>
          val c = cmp(x, y)
          if (c < 0) (ra.hi, ra.hiInc)
          else if (c > 0) (rb.hi, rb.hiInc)
          else (ra.hi, ra.hiInc && rb.hiInc)
      }
      val nonEmpty = (lo, hi) match {
        case (Some(l), Some(h)) =>
          val c = cmp(l, h); c < 0 || (c == 0 && loInc && hiInc)
        case _ => true
      }
      if (nonEmpty) out += ValueRange(lo, loInc, hi, hiInc)
      // advance whichever list's current range ends first
      (ra.hi, rb.hi) match {
        case (None, None) => i += 1; j += 1
        case (None, Some(_)) => j += 1
        case (Some(_), None) => i += 1
        case (Some(x), Some(y)) =>
          val c = cmp(x, y)
          if (c < 0) i += 1
          else if (c > 0) j += 1
          else if (ra.hiInc == rb.hiInc) { i += 1; j += 1 }
          else if (!ra.hiInc) i += 1
          else j += 1
      }
    }
    out.toSeq
  }
}
