package graft.fn

import org.apache.spark.sql.catalyst.util.ArrayData

/** Binary-search 1-D nearest-neighbor lookup — the kernel behind
  * [[graft.ops.NearestJoin.nearest1d]].
  *
  * `vals` must be sorted ascending with one entry per DISTINCT axis
  * value; `keys(i)` is the key reported for `vals(i)` (callers
  * pre-reduce duplicates to the minimum key). Result = key of the
  * nearest value; exact-midpoint ties pick the smaller key — i.e.
  * `min_by(struct(key), struct(|x - val|, key))` semantics, the same
  * (dist, key) lexicographic argmin the cross-join formulation and
  * the DuckDB oracle compute — in O(log m) per row instead of O(m).
  */
object Nearest1d {
  /** [[nearestKey]], null for an empty axis. */
  def nearestKeyOrNull(x: Double, vals: ArrayData, keys: ArrayData): java.lang.Long =
    if (vals.numElements() == 0) null
    else java.lang.Long.valueOf(nearestKey(x, vals, keys))

  def nearestKey(x: Double, vals: ArrayData, keys: ArrayData): Long = {
    val n = vals.numElements()
    // first index with vals(i) >= x
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (vals.getDouble(mid) < x) lo = mid + 1 else hi = mid
    }
    if (lo == 0) keys.getLong(0)
    else if (lo == n) keys.getLong(n - 1)
    else {
      val dl = x - vals.getDouble(lo - 1)
      val dh = vals.getDouble(lo) - x
      if (dl < dh) keys.getLong(lo - 1)
      else if (dh < dl) keys.getLong(lo)
      else math.min(keys.getLong(lo - 1), keys.getLong(lo))
    }
  }
}

