package graft.functions

/** Scalar distance kernels over raw `Array[Float]`, used inside
  * `mapPartitions` hot loops (partial top-k scans) and the error-profile
  * math. Plain `while` loops — the JVM auto-vectorizes these; we do NOT
  * hand-port the reference's SSE/AVX kernels (`Auncel/utils_simd.cpp`).
  *
  * Accumulation is left-to-right in double, bit-identical to
  * [[VectorFunctions]] column expressions (and to DuckDB's
  * `list_sum(list_transform(...))`), so results from either path agree
  * exactly.
  */
object Kernels extends Serializable {

  /** Squared L2 distance. Cf. `Auncel/utils.cpp:417-492` (fvec_L2sqr). */
  def l2Sqr(a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var s = 0.0
    val n = a.length
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Inner product. Cf. `Auncel/utils.cpp` (fvec_inner_product). */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var s = 0.0
    val n = a.length
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def normSqr(a: Array[Float]): Double = dot(a, a)

  def norm(a: Array[Float]): Double = math.sqrt(normSqr(a))

  def cosine(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / (norm(a) * norm(b))

  def l2Normalize(a: Array[Float]): Array[Float] = {
    val n = norm(a)
    if (n == 0.0) a.clone()
    else {
      val out = new Array[Float](a.length)
      var i = 0
      while (i < a.length) { out(i) = (a(i).toDouble / n).toFloat; i += 1 }
      out
    }
  }

  /** Distance under metric; smaller is better ("ip" is negated). */
  def distance(metric: String, a: Array[Float], b: Array[Float]): Double =
    if (isIp(metric)) -dot(a, b) else l2Sqr(a, b)

  /** Whether `metric` is "ip" (false for "l2"): the metric resolved once,
    * outside a scan loop. Throws on any other metric. */
  def isIp(metric: String): Boolean = metric match {
    case "l2" => false
    case "ip" => true
    case m    => throw new IllegalArgumentException(s"unknown metric $m")
  }

  /** `out(r) = distance(q, rows(r))` for every row, "ip" if `ip` else
    * "l2": the list scan of `scan_one_list` (`Auncel/IndexIVF.cpp:439-475`)
    * four rows at a time ([[distances4]]), the last `rows.length % 4`
    * one at a time. Bit-identical to [[distance]] on every row.
    * @param out at least `rows.length` long */
  def distances(ip: Boolean, q: Array[Float], rows: Array[Array[Float]],
                out: Array[Double]): Unit = {
    val n = rows.length
    var r = 0
    while (r + 4 <= n) { distances4(ip, q, rows, r, out); r += 4 }
    while (r < n) {
      out(r) = if (ip) -dot(q, rows(r)) else l2Sqr(q, rows(r))
      r += 1
    }
  }

  /** `out(r + j) = distance(q, rows(r + j))` for j in 0..3: the four
    * pairs share each query load, and each keeps its own double
    * accumulator summed left to right with [[l2Sqr]]'s and [[dot]]'s
    * conversions, so every result is bit-identical to theirs. Only
    * independent pairs interleave, which hides the latency of the
    * serial add chain. */
  def distances4(ip: Boolean, q: Array[Float], rows: Array[Array[Float]],
                 r: Int, out: Array[Double]): Unit = {
    val b0 = rows(r); val b1 = rows(r + 1); val b2 = rows(r + 2)
    val b3 = rows(r + 3)
    val n = q.length
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    if (ip) {
      while (i < n) {
        val a = q(i).toDouble
        s0 += a * b0(i).toDouble; s1 += a * b1(i).toDouble
        s2 += a * b2(i).toDouble; s3 += a * b3(i).toDouble
        i += 1
      }
      out(r) = -s0; out(r + 1) = -s1; out(r + 2) = -s2; out(r + 3) = -s3
    } else {
      while (i < n) {
        val a = q(i).toDouble
        val d0 = a - b0(i).toDouble; s0 += d0 * d0
        val d1 = a - b1(i).toDouble; s1 += d1 * d1
        val d2 = a - b2(i).toDouble; s2 += d2 * d2
        val d3 = a - b3(i).toDouble; s3 += d3 * d3
        i += 1
      }
      out(r) = s0; out(r + 1) = s1; out(r + 2) = s2; out(r + 3) = s3
    }
  }
}
