package graft.quantize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels

/** Polysemous codes (Douze, Jégou & Perronnin, ECCV 2016; the
  * reference's `PolysemousTraining.cpp` + the polysemous search path in
  * `IndexPQ.cpp`): reorder each sub-quantizer's codebook so that the
  * HAMMING distance between code words approximates the distance
  * between their centroids. The codes then serve double duty — a cheap
  * per-code Hamming test against the query's own code prunes most
  * candidates before the (more expensive) distance evaluation, and the
  * surviving codes are ranked by the usual PQ distance.
  *
  * Training reproduces the reference's objective and schedule
  * (`PolysemousTraining.cpp`): per sub-quantizer, the inter-centroid
  * L2² table is affine-mapped onto the Hamming scale (mean → nbits/2,
  * stddev → √(nbits/4), the binomial Hamming moments —
  * `PolysemousTraining.cpp:283-290`), each pair weighted
  * exp(−log 2 · target) so small distances dominate
  * (`:187-190`, factor default `:~700`), and simulated annealing over
  * code swaps minimizes the weighted squared error with the
  * reference's acceptance rule and geometric temperature schedule
  * (`:117-155`: accept if Δ<0 or uniform<temperature; temperature ×=
  * 0.9^(1/500) each iteration), best-of-n_redo restarts (`:86-113`).
  * It runs on the driver: the state is one ksub² table per
  * sub-quantizer (256² doubles = 512 KiB) — model-sized, like all
  * codebook training here; sub-quantizers anneal in parallel threads
  * (the reference's omp-parallel loop, `:773`). Encoding and search
  * remain fully distributed.
  */
object Polysemous {

  /** Per-byte Hamming distance between two PQ codes (nbits = 8). */
  def hamming(a: Array[Byte], b: Array[Byte]): Int = {
    var h = 0; var i = 0
    while (i < a.length) {
      h += java.lang.Integer.bitCount((a(i) ^ b(i)) & 0xff); i += 1
    }
    h
  }

  /** Pairwise objective for one sub-quantizer under a permutation:
    * Σ_{p<q} (hamming(p,q)/nbits − d(book(perm(p)), book(perm(q)))/dmax)².
    * Exposed so the spec can assert training lowers it. */
  def objective(pq: PQModel, sub: Int, perm: Array[Int]): Double = {
    val (hn, dn) = tables(pq, sub)
    var loss = 0.0
    var p = 0
    while (p < perm.length) {
      var q = p + 1
      while (q < perm.length) {
        val e = hn(p)(q) - dn(perm(p))(perm(q))
        loss += e * e
        q += 1
      }
      p += 1
    }
    loss
  }

  /** (normalized Hamming between positions, normalized centroid
    * distance between codes) for one sub-quantizer. */
  private def tables(pq: PQModel, sub: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val k = pq.ksub
    val hn = Array.tabulate(k, k)((p, q) =>
      java.lang.Integer.bitCount(p ^ q).toDouble / pq.nbits)
    val d = Array.tabulate(k, k)((i, j) =>
      Kernels.l2Sqr(pq.codebooks(sub)(i), pq.codebooks(sub)(j)))
    val dmax = d.iterator.flatten.max
    val dn =
      if (dmax == 0.0) d
      else d.map(_.map(_ / dmax))
    (hn, dn)
  }

  /** The reference's loss for one sub-quantizer
    * (`ReproduceWithHammingObjective`, `PolysemousTraining.cpp:178-295`):
    * `perm(i)` is the CODE assigned to centroid `i`; cost =
    * Σ_{i,j} w_ij · (target(i,j) − popcount(perm(i)⊕perm(j)))², where
    * `target` is the inter-centroid L2² table affine-mapped so its
    * mean/stddev match a random nbits-bit Hamming distance's
    * (nbits/2, √(nbits/4)), and w_ij = exp(−disWeightFactor·target) —
    * reproducing SMALL distances matters most (`:185-190`). */
  final class ReproduceWithHammingObjective(
      val nbits: Int, disTable: Array[Double], disWeightFactor: Double) {
    val n: Int = 1 << nbits
    require(disTable.length == n * n, s"dis table must be $n×$n")

    val targetDis = new Array[Double](n * n)
    val weights = new Array[Double](n * n)
    locally {
      // affine target mapping (`PolysemousTraining.cpp:270-292`)
      var sum = 0.0; var sum2 = 0.0
      var i = 0
      while (i < disTable.length) {
        sum += disTable(i); sum2 += disTable(i) * disTable(i); i += 1
      }
      val n2 = disTable.length
      val mean = sum / n2
      val stddev = math.sqrt(math.max(0.0, sum2 / n2 - mean * mean))
      // degenerate codebook (all centroids equal): flat target at the
      // Hamming mean — any permutation is equally good, never NaN
      val scale = if (stddev == 0.0) 0.0 else math.sqrt(nbits / 4.0) / stddev
      i = 0
      while (i < n2) {
        val td = (disTable(i) - mean) * scale + nbits / 2.0
        targetDis(i) = td
        weights(i) = math.exp(-disWeightFactor * td)
        i += 1
      }
    }

    @inline private def ham(a: Int, b: Int): Int =
      java.lang.Integer.bitCount(a ^ b)

    /** Full O(n²) cost (`PolysemousTraining.cpp:196-207`). */
    def computeCost(perm: Array[Int]): Double = {
      var cost = 0.0
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          val e = targetDis(i * n + j) - ham(perm(i), perm(j))
          cost += weights(i * n + j) * e * e
          j += 1
        }
        i += 1
      }
      cost
    }

    /** Cost delta if `iw` and `jw` were swapped, in O(n)
      * (`PolysemousTraining.cpp:212-255`): only row iw, row jw, and
      * columns iw/jw of every other row change. */
    def costUpdate(perm: Array[Int], iw: Int, jw: Int): Double = {
      var delta = 0.0
      var i = 0
      while (i < n) {
        if (i == iw || i == jw) {
          // the whole row re-prices against the swapped permutation
          val pi = if (i == iw) perm(jw) else perm(iw)
          var j = 0
          while (j < n) {
            val wanted = targetDis(i * n + j)
            val w = weights(i * n + j)
            val e0 = wanted - ham(perm(i), perm(j))
            val pj = if (j == iw) perm(jw) else if (j == jw) perm(iw) else perm(j)
            val e1 = wanted - ham(pi, pj)
            delta += w * (e1 * e1 - e0 * e0)
            j += 1
          }
        } else {
          // only the two swapped columns change in this row
          var c = 0
          while (c < 2) {
            val j = if (c == 0) iw else jw
            val other = if (c == 0) jw else iw
            val wanted = targetDis(i * n + j)
            val w = weights(i * n + j)
            val e0 = wanted - ham(perm(i), perm(j))
            val e1 = wanted - ham(perm(i), perm(other))
            delta += w * (e1 * e1 - e0 * e0)
            c += 1
          }
        }
        i += 1
      }
      delta
    }
  }

  /** One annealing run over `perm` in place, returning the final cost
    * (`SimulatedAnnealingOptimizer::optimize`,
    * `PolysemousTraining.cpp:117-155`). The reference's acceptance rule
    * is kept exactly: a worsening swap is accepted with probability
    * `temperature` itself (not a Boltzmann exp(−Δ/T)), and the
    * temperature decays geometrically EVERY iteration. */
  private def optimizeOnce(obj: ReproduceWithHammingObjective,
      perm: Array[Int], nIter: Int, initTemperature: Double,
      temperatureDecay: Double, rnd: scala.util.Random): Double = {
    val n = obj.n
    var cost = obj.computeCost(perm)
    var temperature = initTemperature
    var it = 0
    while (it < nIter) {
      temperature *= temperatureDecay
      val iw = rnd.nextInt(n)
      var jw = rnd.nextInt(n - 1)
      if (jw == iw) jw += 1
      val delta = obj.costUpdate(perm, iw, jw)
      if (delta < 0 || rnd.nextDouble() < temperature) {
        val t = perm(iw); perm(iw) = perm(jw); perm(jw) = t
        cost += delta
      }
      it += 1
    }
    cost
  }

  /** Best-of-`nRedo` annealing restarts from the identity permutation
    * (`run_optimization`, `PolysemousTraining.cpp:86-113`). */
  private[graft] def runOptimization(obj: ReproduceWithHammingObjective,
      nIter: Int, nRedo: Int, initTemperature: Double,
      temperatureDecay: Double, rnd: scala.util.Random): (Array[Int], Double) = {
    var best: Array[Int] = null
    var bestCost = Double.MaxValue
    var redo = 0
    while (redo < nRedo) {
      val perm = Array.tabulate(obj.n)(identity)
      val cost = optimizeOnce(obj, perm, nIter, initTemperature,
        temperatureDecay, rnd)
      if (cost < bestCost) { bestCost = cost; best = perm }
      redo += 1
    }
    (best, bestCost)
  }

  /** Reorder each sub-quantizer's codebook (same centroid set — only
    * the code assigned to each centroid changes, so reconstruction and
    * ADC semantics are untouched) with the reference's training recipe
    * (`optimize_reproduce_distances`, `PolysemousTraining.cpp:764-824`;
    * defaults from `SimulatedAnnealingParameters`, `:34-46`, and
    * `dis_weight_factor = log 2`). Sub-quantizers train in parallel
    * driver threads (the reference's omp loop, `:773`), each with its
    * own seeded generator so results don't depend on thread timing. */
  def train(pq: PQModel, nIter: Int = 500000, seed: Long = 123L,
            nRedo: Int = 2, initTemperature: Double = 0.7,
            temperatureDecay: Double = math.pow(0.9, 1.0 / 500),
            disWeightFactor: Double = math.log(2)): PQModel = {
    val books = new Array[Array[Array[Float]]](pq.m)
    val threads = (0 until pq.m).map { sub =>
      new Thread(() => {
        val k = pq.ksub
        val dis = new Array[Double](k * k)
        var i = 0
        while (i < k) {
          var j = 0
          while (j < k) {
            dis(i * k + j) =
              Kernels.l2Sqr(pq.codebooks(sub)(i), pq.codebooks(sub)(j))
            j += 1
          }
          i += 1
        }
        val obj = new ReproduceWithHammingObjective(pq.nbits, dis, disWeightFactor)
        val rnd = new scala.util.Random(seed + sub)
        val (perm, _) = runOptimization(obj, nIter, nRedo,
          initTemperature, temperatureDecay, rnd)
        // apply: the centroid that was centroid i now answers to code
        // perm(i) (`PolysemousTraining.cpp:807-817`)
        val book = new Array[Array[Float]](k)
        i = 0
        while (i < k) { book(perm(i)) = pq.codebooks(sub)(i); i += 1 }
        books(sub) = book
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    PQModel(pq.m, pq.nbits, books)
  }

  /** Histogram of code-Hamming distances over every (query, stored
    * code) pair in ONE distributed pass: hist(d) = #pairs at distance
    * d, 0 ≤ d ≤ m·nbits. Its CDF prices every candidate threshold at
    * once — Σ_{d≤ht} hist(d) / (N·nq) is the fraction of codes that
    * survive the filter at `ht` and pay the ADC evaluation — so an ht
    * sweep costs one scan, not one per threshold. */
  def hammingHistogram(codes: DataFrame, model: PQModel,
                       queries: DataFrame): Array[Long] = {
    val spark = codes.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bqCodes = spark.sparkContext.broadcast(q.map { case (_, v) => model.encode(v) })
    val bins = model.m * model.nbits + 1
    codes.select(col("code")).as[Array[Byte]]
      .mapPartitions { it =>
        val qCodes = bqCodes.value
        val h = new Array[Long](bins)
        it.foreach { code =>
          var i = 0
          while (i < qCodes.length) { h(hamming(qCodes(i), code)) += 1L; i += 1 }
        }
        Iterator.single(h)
      }.reduce((a, b) => Array.tabulate(bins)(i => a(i) + b(i)))
  }

  /** k-NN over polysemous codes: Hamming-filter each stored code
    * against the query's own code (≤ `ht` passes), then rank survivors
    * by the exact code distance ‖q − decode(code)‖² (≡ ADC: the
    * per-subspace sums telescope). Per-partition bounded heaps +
    * global top-k merge — the candidate generation never leaves the
    * partition, and only parts×nq×k rows shuffle. Queries that prune
    * everything return fewer than k rows, exactly like the reference's
    * polysemous path. */
  def knn(codes: DataFrame, model: PQModel, queries: DataFrame, k: Int,
          ht: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bm = spark.sparkContext.broadcast(model)
    val bq = spark.sparkContext.broadcast(q.map(_._2))
    val bqCodes = spark.sparkContext.broadcast(q.map { case (_, v) => model.encode(v) })
    val threshold = ht
    graft.search.FlatSearch.flatTopK[Array[Byte]](
      codes.select(col("id").cast("long"), col("code")).as[(Long, Array[Byte])],
      q.map(_._1), k,
      () => {
        val pq = bm.value
        val qs = bq.value
        val qCodes = bqCodes.value
        var last: Array[Byte] = null
        var decoded: Array[Float] = null
        (i, _, code) =>
          if (hamming(qCodes(i), code) > threshold) Double.NaN
          else {
            // decode at most once per row, on its first surviving query
            if (code ne last) { decoded = pq.decode(code); last = code }
            Kernels.l2Sqr(qs(i), decoded)
          }
      })
  }
}
