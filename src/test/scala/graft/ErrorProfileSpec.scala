package graft

import graft.profile.ErrorProfile
import graft.profile.ErrorProfile.Trace

class ErrorProfileSpec extends SparkSpec {

  test("cosineTheorem is the bisector distance in the reference's space") {
    // c/2 - (a²+c²-b²)/(2c): equidistant (a=b) → the query sits ON the
    // bisector → distance 0
    assert(math.abs(ErrorProfile.cosineTheorem(2f, 2f, 4f)) < 1e-6)
    // closer to own centroid → positive distance to the boundary
    assert(ErrorProfile.cosineTheorem(1f, 3f, 4f) == 1f)
    // symmetric check in true-length space: (b²-a²)/(2c)
    val (a, b, c) = (1.5f, 2.5f, 3f)
    assert(math.abs(ErrorProfile.cosineTheorem(a, b, c) - (b * b - a * a) / (2 * c)) < 1e-5)
  }

  test("arcos lookup approximates acos on [-1, 1]") {
    for (x <- Seq(-1f, -0.5f, 0f, 0.3f, 0.99f)) {
      assert(math.abs(ErrorProfile.arcos(x) - math.acos(x)) < 0.02, s"x=$x")
    }
  }

  test("sumAngle only counts boundaries closer than kdis, within window") {
    val dB = Array.fill(30)(10f)
    dB(5) = 1f; dB(6) = 2f; dB(25) = 1f // 25 outside window [1, 16)
    val got = ErrorProfile.sumAngle(4f, dB, 15, start = 1)
    val want = ErrorProfile.arcos(1f / 4f) + ErrorProfile.arcos(2f / 4f)
    assert(math.abs(got - want) < 1e-6)
  }

  test("kscaling finds the GT rank of a distance") {
    val gt = Array(1f, 2f, 3f, 4f, 5f)
    assert(ErrorProfile.kscaling(3f, 0, gt, 5) == 3f)     // rank 3 / (0+1)
    assert(ErrorProfile.kscaling(3f, 2, gt, 5) == 1f)     // rank 3 / (2+1)
    assert(ErrorProfile.kscaling(9f, 0, gt, 5) == -1f)    // not in GT
  }

  test("Trace sortAndBatch + search with margin and extrapolation") {
    // points: φ=i, U=2 for φ<5 else 4 — bucketed with bs=5
    val pts = (0 until 10).map(i => (i.toFloat, if (i < 5) 2f else 4f))
    val t = Trace.sortAndBatch(1, pts, bs = 5)
    assert(t.phis.length == 2)
    assert(t.phis(0) < t.phis(1))           // ascending
    assert(t.us(0) == 2f && t.us(1) == 4f)  // bucket means
    assert(t.stds(0) == 0f)                 // constant bucket → σ=0
    // below the left edge → first value + σ margin
    assert(t.search(-1f, 0f) == 2f)
    // beyond the right edge → linear extrapolation
    val right = t.phis(1)
    assert(t.search(right * 2, 0f) == 8f)
    // σ margin applied
    val pts2 = Seq((1f, 1f), (1f, 3f))
    val t2 = Trace.sortAndBatch(1, pts2, bs = 2)
    assert(t2.search(0f, 1f) == t2.us(0) + t2.stds(0))
  }

  test("Trace sortAndBatch depends only on the point set, not its order") {
    // 23 points of distinct φ > 0 and a planted block of 17 at φ = 0 (no
    // boundary closer than the distance) with distinct U: at bs 5 the
    // block straddles three bucket boundaries, so the order of its points
    // decides which U values share a bucket
    val rnd = new scala.util.Random(7)
    val spread = (1 to 23).map(i => (i * 0.37f, 1f + rnd.nextFloat()))
    val tied = (1 to 17).map(i => (0f, 1f + i * 0.113f))
    def bits(t: Trace) = Seq(t.phis, t.us, t.stds)
      .map(_.map(java.lang.Float.floatToRawIntBits).toSeq)
    val want = bits(Trace.sortAndBatch(1, spread ++ tied, bs = 5))
    (1 to 6).foreach { seed =>
      val shuffled = new scala.util.Random(seed).shuffle(spread ++ tied)
      assert(bits(Trace.sortAndBatch(1, shuffled, bs = 5)) == want,
        s"permutation $seed changed the trace")
    }
  }

  test("curNum predicts full recall when scaling is tight") {
    // trace that maps any φ to U=1 (no rank inflation)
    val t = Trace(1, Array(0f, 100f), Array(1f, 1f), Array(0f, 0f))
    val dists = Array.tabulate(10)(i => (i + 1).toFloat)
    val dB = Array.fill(30)(1000f) // no boundary closer than any dist
    assert(ErrorProfile.curNum(dists, dB, t, 0, 10, 0f) == 10)
  }

  test("empty point set degrades to a predict-ZERO-RECALL trace, not a crash") {
    // pathological GT (e.g. wrong distance convention) can leave a
    // stage with zero (phi, U) points. U is a rank-INFLATION factor
    // (small = confident), so the degenerate trace must return a HUGE
    // U — curNum then predicts 0 hits at every lookup (forcing deeper
    // probing, bound-safe) — and must never throw or return NaN.
    // (The first version of this guard returned U=0, which curNum's
    // fast path reads as FULL recall — the exact opposite.)
    val t = ErrorProfile.Trace.sortAndBatch(4, Seq.empty)
    for (phi <- Seq(0f, 0.5f, 1f, 100f); m <- Seq(0f, 1.5f)) {
      val u = t.search(phi, m)
      assert(u >= Float.MaxValue && !u.isNaN, s"phi=$phi stdM=$m -> $u")
    }
    // end-to-end: k sorted distances + any boundary window → 0 hits
    val dists = Array.tabulate(10)(i => 0.1f * (i + 1))
    val dB = Array.fill(30)(0.5f)
    assert(ErrorProfile.curNum(dists, dB, t, 2, 10, 1.5f) == 0)
    assert(graft.search.BoundedSearch.predictedRecall(
      dists.map(_.toDouble), dB, t, 2, 10, 1.5f, "l2") == 0f)
  }

  test("boundaryDistances mirrors set_online layout") {
    val nlist = 16
    val cd = Array.tabulate(nlist)(i => (i + 1).toFloat)
    val ci = Array.tabulate(nlist)(identity)
    val inter = (i: Int, j: Int) => 10f
    val dB = ErrorProfile.boundaryDistances(cd, ci, inter, nlist)
    assert(dB.length == nlist) // nlist/8 + 20 clamped to nlist
    assert(dB(0) == ErrorProfile.cosineTheorem(1f, 2f, 10f))
    assert(dB(dB.length - 1) == 0f) // last slot left unset, like the reference
  }
}
