package graft.operators

/** Bounded top-k accumulator: keeps the k smallest (dist, id) pairs,
  * ties broken by smaller id (deterministic, mirroring the reference's
  * `ranklist_handle_ties`, `Auncel/utils.h:321`). Binary max-heap on
  * (dist, id) so the current worst element is O(1) to inspect.
  *
  * Spark-side replacement for the reference's CMin/CMax heaps
  * (`Auncel/Heap.h:46-349`): used inside `mapPartitions` partial scans;
  * the cross-partition merge is a plain shuffle + window/aggregate.
  */
final class TopK(val k: Int) extends Serializable {
  private val dists = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  def size: Int = n

  /** Current k-th (worst kept) distance, +inf while under-full. */
  def worst: Double = if (n < k) Double.PositiveInfinity else dists(0)

  def add(dist: Double, id: Long): Unit = {
    if (n < k) {
      var i = n
      dists(i) = dist; ids(i) = id; n += 1
      // sift up
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(dists(i), ids(i), dists(p), ids(p))) {
          val td = dists(i); dists(i) = dists(p); dists(p) = td
          val ti = ids(i); ids(i) = ids(p); ids(p) = ti
          i = p
        } else i = 0
      }
    } else if (worse(dists(0), ids(0), dist, id)) {
      dists(0) = dist; ids(0) = id
      // sift down
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        // pick the WORST child to bubble the new root toward the leaves
        var w = i
        if (l < n && worse(dists(l), ids(l), dists(w), ids(w))) w = l
        if (r < n && worse(dists(r), ids(r), dists(w), ids(w))) w = r
        if (w != i) {
          val td = dists(i); dists(i) = dists(w); dists(w) = td
          val ti = ids(i); ids(i) = ids(w); ids(w) = ti
          i = w
        } else done = true
      }
    }
  }

  /** Adds every pair `o` keeps: the heap merge of two partial top-ks. */
  def merge(o: TopK): TopK = {
    var i = 0
    while (i < o.n) { add(o.dists(i), o.ids(i)); i += 1 }
    this
  }

  /** Ascending in the heap's own order: distance under IEEE `<`/`==`
    * (so −0.0 ties 0.0), then the smaller id. That is the order of a SQL
    * window `orderBy(dist, id)` (Spark's `compareDoubles`), so position
    * i + 1 is the window's `row_number`. */
  def sorted: Array[(Double, Long)] =
    Array.range(0, n)
      .sortWith((a, b) => worse(dists(b), ids(b), dists(a), ids(a)))
      .map(i => (dists(i), ids(i)))
}
