package graft.profile

/** The Auncel error-profile math, re-derived as plain Scala — faithful
  * to `Auncel/IVF_pro.cpp` semantics (float arithmetic, same edge
  * cases), since the profile is an empirical map whose train- and
  * query-time computations must match each other exactly.
  *
  * Geometry: for a query q whose nearest centroid is c0, the distance to
  * the bisector boundary against centroid cj is computed by
  * `cosine_theorem(a,b,c) = c/2 - (a²+c²-b²)/(2c)`
  * (`IVF_pro.cpp:41-51`) — fed with the *squared*-L2 coarse distances
  * exactly as the reference does (the profile is calibrated in that
  * space, so we preserve it rather than "fixing" the units).
  * φ = sum of arccos(dB/kdis) over a 15-boundary window starting at the
  * current probe count (`sum_angle`, `IVF_pro.cpp:162-177`); the trained
  * Trace maps φ → U (rank scaling vs ground truth, `kscaling`
  * `IVF_pro.cpp:72-82`), and `curNum` (`IVF_pro.cpp:258-291`) binary
  * searches the largest rank whose scaled rank stays within k —
  * predicted recall = curNum/k.
  */
object ErrorProfile {

  /** 500-bucket arccos lookup table (`IVF_pro.cpp:151-160,179-184`) —
    * kept (vs calling math.acos) for parity with the reference's
    * discretization, which the trained traces bake in. */
  val ArcosSize = 500
  private val arcosList: Array[Float] = {
    val a = new Array[Float](ArcosSize)
    val sc = ArcosSize / 2.0f
    var i = 0
    while (i < ArcosSize) {
      a(i) = math.acos(((i - sc) / sc).toDouble).toFloat
      i += 1
    }
    a
  }

  /** Clamps to [-1, 1]: float rounding can put a raw inner product of
    * L2-normalized vectors epsilon outside the domain (e.g. a query
    * duplicating a base vector), which must not abort a search job. */
  def arcos(x: Float): Float = {
    val xc = math.max(-1f, math.min(1f, x))
    val idx = (xc * ArcosSize / 2 + ArcosSize / 2).toInt
    arcosList(math.max(0, math.min(idx, ArcosSize - 1)))
  }

  /** Distance from query to the bisector boundary (`IVF_pro.cpp:41-51`).
    * Prerequisite a <= b (a = dist to own centroid). */
  def cosineTheorem(a: Float, b: Float, c: Float): Float = {
    val temp = (math.pow(a, 2) + math.pow(c, 2) - math.pow(b, 2)).toFloat / (2 * c)
    c / 2 - temp
  }

  /** φ: sum of boundary angles for boundaries closer than the current
    * k-distance, over a 15-wide window starting at `start`
    * (`IVF_pro.cpp:162-177`). */
  def sumAngle(kdis: Float, disToBoundary: Array[Float], n: Int = 15,
               start: Int = 1): Float = {
    var sum = 0f
    var i = start
    val end = math.min(start + n, disToBoundary.length)
    while (i < end) {
      val dB = disToBoundary(i)
      if (dB < kdis) sum += arcos(dB / kdis)
      i += 1
    }
    sum
  }

  /** U: how far down the ground-truth list the current rank-`in` result
    * actually sits (`IVF_pro.cpp:72-82`); -1 if the distance isn't in
    * the GT top-maxTopk. */
  def kscaling(kdis: Float, in: Int, gtDists: Array[Float], maxTopk: Int): Float = {
    var index = 0
    var found = -1
    while (index < maxTopk && found < 0) {
      val g = gtDists(index)
      if (math.abs(g - kdis) / kdis < 1e-5 || math.abs(g - kdis) < 1e-5) found = index
      index += 1
    }
    if (found < 0) -1f else (found + 1).toFloat / (in + 1)
  }

  /** Per-query boundary distances (`error_pro::set_online`,
    * `IVF_pro.cpp:196-238`): cd/ci are the coarse distances/centroid ids
    * in probe order (cd ascending), interdisAt the condensed
    * inter-centroid matrix. Length = nlist/8 + 20, with the final slot
    * left 0 exactly like the reference's resize. For "ip", cd must
    * already be in angle space (arccos'd). */
  def boundaryDistances(cd: Array[Float], ci: Array[Int],
                        interdisAt: (Int, Int) => Float, nlist: Int): Array[Float] = {
    // clamped to nlist (the reference indexes past the coarse ranking for
    // nlist < 24 — undefined behavior in C++; we bound it)
    val maxNum = math.min(nlist / 8 + 20, nlist)
    val out = new Array[Float](maxNum)
    val curCen = ci(0)
    var k = 0
    while (k < maxNum - 1) {
      val dst = ci(k + 1)
      val cen2cen = interdisAt(curCen, dst)
      out(k) = cosineTheorem(cd(0), cd(k + 1), cen2cen)
      k += 1
    }
    out
  }

  /** One trained (φ → U) map for a given nprobe level
    * (`Trace`, `IVF_pro.h:44-62`): `phis` ascending, `us`/`stds`
    * aligned. */
  final case class Trace(nprobe: Int, phis: Array[Float], us: Array[Float],
                         stds: Array[Float]) extends Serializable {

    /** Lookup with σ safety margin; extrapolates linearly past the right
      * edge (`Trace::search`, `IVF_pro.cpp:84-107`). */
    def search(k: Float, stdM: Float): Float = {
      val n = phis.length
      if (k <= phis(0)) return us(0) + stdM * stds(0)
      if (k >= phis(n - 1)) {
        val ampli = k / phis(n - 1)
        return (us(n - 1) + stdM * stds(n - 1)) * ampli
      }
      // largest index with phis(i) <= k
      var low = 0; var high = n - 1
      while (low <= high) {
        val mid = (low + high) >>> 1
        if (phis(mid) < k) low = mid + 1 else high = mid - 1
      }
      val i = if (phis(low) > k) low - 1 else low
      us(i) + stdM * stds(i)
    }
  }

  object Trace {
    /** Sort-and-batch (`Trace::SB`, `IVF_pro.cpp:109-149`): sort points
      * descending by φ, average buckets of `bs`, σ over U per bucket
      * (σ of the last partial bucket divides by bs, as the reference
      * does), then reverse to ascending. Points of equal φ (φ = 0 for
      * every point with no boundary closer than its distance) sort by
      * ascending U, so the trace depends only on the point set, not on
      * the order it arrives in; the reference's `std::sort` leaves that
      * order unspecified. */
    def sortAndBatch(nprobe: Int, points: Seq[(Float, Float)], bs: Int = 250): Trace = {
      // a stage with NO training points (pathological GT — e.g. ground
      // truth computed under a different distance convention than the
      // staged scan) must degrade, not crash at first lookup. U is a
      // multiplicative RANK-INFLATION factor (curNum treats current
      // rank r as true rank ~r·U — SMALL U means high confidence), so
      // the conservative degenerate value is a huge U: curNum then
      // predicts 0 hits, the bounded search distrusts this stage and
      // probes deeper — never unsafe w.r.t. the error bound
      if (points.isEmpty)
        return Trace(nprobe, Array(1f), Array(Float.MaxValue), Array(0f))
      // φ descending as `-φ` ascending, NaN last
      val sorted = points.toArray.sortWith { case ((p1, u1), (p2, u2)) =>
        val c = java.lang.Float.compare(-p1, -p2)
        c < 0 || (c == 0 && java.lang.Float.compare(u1, u2) < 0)
      }
      val size = sorted.count { case (p, u) => !(p < 0 && u < 0) }
      val sz = (size + bs - 1) / bs
      val phis = new Array[Float](sz)
      val us = new Array[Float](sz)
      val stds = new Array[Float](sz)
      var i = 0
      while (i < sz) {
        val left = i * bs
        val right = math.min((i + 1) * bs, size)
        var ave1 = 0f; var ave2 = 0f
        var idx = left
        while (idx < right) {
          val j = idx - left
          ave1 = j.toFloat / (j + 1) * ave1 + sorted(idx)._1 / (j + 1)
          ave2 = j.toFloat / (j + 1) * ave2 + sorted(idx)._2 / (j + 1)
          idx += 1
        }
        var accum = 0.0
        idx = left
        while (idx < right) {
          accum += (sorted(idx)._2 - ave2) * (sorted(idx)._2 - ave2)
          idx += 1
        }
        phis(i) = ave1; us(i) = ave2
        stds(i) = math.sqrt(accum / bs).toFloat
        i += 1
      }
      // ascending order
      Trace(nprobe, phis.reverse, us.reverse, stds.reverse)
    }
  }

  /** Predicted number of true top-`queryK` hits in the current top-k
    * (`error_pro::cur_num`, `IVF_pro.cpp:258-291`). `sortedDists` are
    * the current top-k distances ascending (angles for "ip"); `ind` is
    * the trace level (nprobe = 2^ind). */
  def curNum(sortedDists: Array[Float], disToBoundary: Array[Float],
             trace: Trace, ind: Int, queryK: Int, stdM: Float): Int = {
    val nprobe = 1 << ind
    def scaled(rank: Int): Float =
      trace.search(sumAngle(sortedDists(rank), disToBoundary, 15, nprobe - 1), stdM)
    if (queryK * scaled(queryK - 1) <= queryK * 1.005f) return queryK
    var low = 0; var high = queryK - 1
    while (low <= high) {
      val middle = (low + high) / 2
      if (middle <= 0) return 0
      if ((middle + 1) * scaled(middle) <= queryK) low = middle + 1
      else high = middle - 1
    }
    low + 1
  }
}
