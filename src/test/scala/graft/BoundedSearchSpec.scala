package graft

import org.apache.spark.sql.functions._
import graft.index.IVFIndex
import graft.profile.ProfileTrainer
import graft.search.{BoundedSearch, FlatSearch}

/** End-to-end Auncel-semantics acceptance: train the error profile on
  * seeded data, run bounded-error search, and check the reference's own
  * success criterion — worst-case distance-threshold recall ≥ required
  * (`Auncel/eval/bound.cpp:400-414`). */
class BoundedSearchSpec extends SparkSpec {

  val d = 24
  val k = 20
  val nlist = 64 // nlist/8 = 8 → trace levels {1,2,4,8}

  // clustered data — the structure IVF (and the error profile) exploits;
  // uniform random vectors would legitimately force every query to the cap
  lazy val pool = clusteredVecs(4210, d, nClusters = 48, seed = 21)
  lazy val base = pool.take(4000)
  lazy val baseDF = vecDF(base)
  lazy val model = IVFIndex.train(baseDF, nlist, metric = "l2", seed = 42L)
  lazy val assigned = IVFIndex.assign(baseDF, model).cache()

  lazy val trainQ = pool.slice(4000, 4150)
  lazy val evalQ = pool.slice(4150, 4210)

  lazy val traces = {
    val tq = vecDF(trainQ, "qid")
    val gt = FlatSearch.knn(baseDF, tq, k)
    ProfileTrainer.train(assigned, model, tq, gt, maxTopk = k, bs = 100)
  }

  /** Distance-threshold recall@k (the reference's `true_recall`:
    * returned dist ≤ GT k-th dist × 1.0005). */
  def achievedRecall(results: Map[Long, Array[Double]],
                     gtKth: Map[Long, Double]): Map[Long, Double] =
    results.map { case (qid, dists) =>
      (qid, dists.count(_ <= gtKth(qid) * 1.0005).toDouble / k)
    }

  test("stagedTopK chunked query batches produce identical capture") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tq = vecDF(trainQ.take(20), "qid")
    def capture(chunk: Int) =
      ProfileTrainer.stagedTopK(assigned, model, tq, maxTopk = k, chunkQueries = chunk)
        .select(col("qid").cast("long"), col("stage"), col("dists"))
        .as[(Long, Int, Array[Double])].collect()
        .map { case (q, s, ds) => (q, s, ds.toSeq) }.sortBy(x => (x._1, x._2))
    val whole = capture(1000)
    val chunked = capture(7) // forces 3 chunks
    assert(whole.sameElements(chunked))
  }

  test("stagedTopK ≡ a brute-force per-stage top-k, l2 and ip, with and without the store") {
    import spark.implicits._
    import graft.functions.Kernels
    import graft.index.{IVFModel, IndexCache}
    // the reference: per (query, stage) the k smallest (dist, id) over the
    // rows of the query's first 2^stage ranked lists, ±0 ordered by id as
    // the heaps order them; distances compare by raw bits
    def reference(a: org.apache.spark.sql.DataFrame, m: IVFModel,
                  qs: Array[Array[Float]]): Seq[(Long, Int, Seq[Long])] = {
      val rows = a.select(col("id").cast("long"), col("vec"),
        col("list_no").cast("int")).as[(Long, Array[Float], Int)].collect()
      qs.indices.flatMap { qi =>
        val qv = if (m.metric == "ip") Kernels.l2Normalize(qs(qi)) else qs(qi)
        val ranked = m.rankCentroids(qv).map(_._1)
        (0 until ProfileTrainer.numLevels(m.nlist)).flatMap { s =>
          val probed = ranked.take(1 << s).toSet
          val top = rows.filter(r => probed(r._3))
            .map(r => (Kernels.distance(m.metric, qv, r._2), r._1))
            .sortWith { case ((d1, i1), (d2, i2)) => d1 < d2 || (d1 == d2 && i1 < i2) }
            .take(k)
          if (top.isEmpty) None
          else Some((qi.toLong, s,
            top.map(x => java.lang.Double.doubleToRawLongBits(x._1)).toSeq))
        }
      }
    }
    def captured(a: org.apache.spark.sql.DataFrame, m: IVFModel,
                 qs: Array[Array[Float]]): Seq[(Long, Int, Seq[Long])] =
      ProfileTrainer.stagedTopK(a, m, vecDF(qs, "qid"), maxTopk = k)
        .select(col("qid").cast("long"), col("stage"), col("dists"))
        .as[(Long, Int, Array[Double])].collect().toSeq
        .map { case (q, s, ds) =>
          (q, s, ds.map(java.lang.Double.doubleToRawLongBits).toSeq)
        }.sortBy(x => (x._1, x._2))
    val saved = IndexCache.storePool
    for (metric <- Seq("l2", "ip")) {
      def norm(vs: Array[Array[Float]]) =
        if (metric == "ip") vs.map(Kernels.l2Normalize) else vs
      val bDF = vecDF(norm(base.take(3000)))
      val m = IVFIndex.train(bDF, nlist, metric = metric, seed = 42L)
      val a = IVFIndex.assign(bDF, m).cache()
      val qs = norm(trainQ.take(12))
      val want = reference(a, m, qs)
      assert(want.map(_._2).distinct.length == 4, "the reference must span 4 stages")
      try {
        for (store <- Seq(true, false)) {
          IndexCache.invalidate(a)
          if (!store) IndexCache.storePool = _ => 0L
          assert(IndexCache.residentLists(a, d).isDefined == store,
            s"$metric: the store arm did not take hold")
          assert(captured(a, m, qs) == want,
            s"$metric, store $store: capture differs from the reference")
          IndexCache.storePool = saved
        }
      } finally {
        IndexCache.storePool = saved
        IndexCache.invalidate(a)
      }
    }
  }

  test("traces are trained, monotone-indexed, and non-trivial") {
    assert(traces.length == 4)
    traces.zipWithIndex.foreach { case (t, j) =>
      assert(t.nprobe == (1 << j))
      assert(t.phis.nonEmpty, s"level $j has no points")
      assert(t.phis.sameElements(t.phis.sorted), s"level $j φ not ascending")
      // U ≥ 1: a result's GT rank can only be ≥ its current rank
      assert(t.us.forall(_ >= 1f - 1e-6f), s"level $j U<1")
    }
    // deeper probes → smaller rank inflation at comparable φ
    assert(traces.last.us.head <= traces.head.us.last + 1e-3)
  }

  test("bounded search meets the error bound for every query (ε=0.2)") {
    import spark.implicits._
    val require = 0.8f
    val qdf = evalQ.zipWithIndex.map { case (v, i) => (i.toLong, v, require) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val res = BoundedSearch.search(assigned, model, traces, qdf, k,
      multiplier = 8.0f, stdM = 1.5f)

    val got = res.results.select(col("qid"), col("dist"))
      .as[(Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val gtKth = evalQ.zipWithIndex.map { case (q, i) =>
      (i.toLong, bruteForce(base, q, k).last._1)
    }.toMap

    val rec = achievedRecall(got, gtKth)
    val worst = rec.values.min
    assert(worst >= require, s"worst-case recall $worst < $require")

    // and it is actually adaptive: not every query paid the max probes
    val probes = res.stats.map(_.nprobeUsed)
    assert(probes.max <= nlist)
    assert(probes.distinct.size > 1, s"no per-query adaptivity: $probes")
    val meanProbes = probes.sum.toDouble / probes.size
    assert(meanProbes < nlist, s"mean nprobe $meanProbes not below full scan")
  }

  test("bound sweep: eps in {0.1, 0.3} and k=10 all hold (run.sh-style)") {
    import spark.implicits._
    // same-k sweep over the trained traces (ε variations)
    for (require <- Seq(0.9f, 0.7f)) {
      val qdf = evalQ.take(30).zipWithIndex
        .map { case (v, i) => (i.toLong, v, require) }
        .toSeq.toDF("qid", "vec", "required_recall")
      val res = BoundedSearch.search(assigned, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f)
      val got = res.results.select(col("qid"), col("dist"))
        .as[(Long, Double)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2)).toMap
      val worst = evalQ.take(30).zipWithIndex.map { case (q, i) =>
        val kth = bruteForce(base, q, k).last._1
        got.getOrElse(i.toLong, Array.empty).count(_ <= kth * 1.0005).toDouble / k
      }.min
      assert(worst >= require, s"eps=${1 - require}: worst $worst < $require")
    }
    // different k needs its own traces (the map granularity is per-k)
    val k10 = 10
    val gt10 = FlatSearch.knn(baseDF, vecDF(trainQ, "qid"), k10)
    val traces10 = ProfileTrainer.train(assigned, model, vecDF(trainQ, "qid"),
      gt10, maxTopk = k10, bs = 100)
    val qdf10 = evalQ.take(30).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val res10 = BoundedSearch.search(assigned, model, traces10, qdf10, k10,
      multiplier = 8.0f, stdM = 1.5f)
    val got10 = res10.results.select(col("qid"), col("dist"))
      .as[(Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val worst10 = evalQ.take(30).zipWithIndex.map { case (q, i) =>
      val kth = bruteForce(base, q, k10).last._1
      got10.getOrElse(i.toLong, Array.empty).count(_ <= kth * 1.0005).toDouble / k10
    }.min
    assert(worst10 >= 0.8, s"k=10 worst $worst10 < 0.8")
  }

  test("higher required recall costs more probes") {
    import spark.implicits._
    def meanProbes(require: Float): Double = {
      val qdf = evalQ.take(30).zipWithIndex
        .map { case (v, i) => (i.toLong, v, require) }
        .toSeq.toDF("qid", "vec", "required_recall")
      val res = BoundedSearch.search(assigned, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f)
      res.stats.map(_.nprobeUsed).sum.toDouble / res.stats.size
    }
    val lo = meanProbes(0.3f)
    val hi = meanProbes(0.9f)
    assert(lo <= hi, s"probes(0.3)=$lo > probes(0.9)=$hi")
  }

  test("bounded search under the inner-product metric (angle-space profile)") {
    import spark.implicits._
    import graft.functions.Kernels
    // normalized vectors: IP ranking ≡ cosine; profile runs in arccos space
    val ipBase = base.map(Kernels.l2Normalize)
    val ipDF = vecDF(ipBase)
    val ipModel = IVFIndex.train(ipDF, nlist, metric = "ip", seed = 42L)
    val ipAssigned = IVFIndex.assign(ipDF, ipModel).cache()
    val ipTrainQ = trainQ.map(Kernels.l2Normalize)
    val ipEvalQ = evalQ.take(30).map(Kernels.l2Normalize)
    val tq = vecDF(ipTrainQ, "qid")
    val gt = FlatSearch.knn(ipDF, tq, k, metric = "ip")
    val ipTraces = ProfileTrainer.train(ipAssigned, ipModel, tq, gt, maxTopk = k, bs = 100)
    assert(ipTraces.forall(_.phis.nonEmpty), "IP traces empty")

    val require = 0.7f
    val qdf = ipEvalQ.zipWithIndex.map { case (v, i) => (i.toLong, v, require) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val res = BoundedSearch.search(ipAssigned, ipModel, ipTraces, qdf, k,
      multiplier = 8.0f, stdM = 1.5f)
    val got = res.results.select(col("qid"), col("dist"))
      .as[(Long, Double)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    // distance-threshold recall in IP space: dot ≥ GT k-th dot × 0.9995
    // (`IndexIVF.cpp:565-567`)
    val rec = ipEvalQ.zipWithIndex.map { case (q, i) =>
      val kthDot = -bruteForce(ipBase, q, k, metric = "ip").last._1
      got.getOrElse(i.toLong, Array.empty).count(d => -d >= kthDot * 0.9995)
        .toDouble / k
    }
    assert(rec.min >= require, s"IP worst-case recall ${rec.min} < $require")
    assert(res.stats.map(_.nprobeUsed).max <= nlist)
  }

  test("mergeKeep keeps the k smallest of the union under (dist, id)") {
    // the oracle is the plain sort of the union; distances compare by
    // bit pattern, since −0.0 == 0.0 would hide a sign mix-up
    def check(a: Seq[(Double, Long)], b: Seq[(Double, Long)], k: Int): Unit = {
      val (ids, dists) = BoundedSearch.mergeKeep(a.map(_._2).toArray,
        a.map(_._1).toArray, b.map(_._2).toArray, b.map(_._1).toArray, k)
      val want = (a ++ b).sortBy { case (d, id) => (d, id) }.take(k)
      val got = dists.toSeq.zip(ids.toSeq)
      def bits(xs: Seq[(Double, Long)]) =
        xs.map { case (d, id) => (java.lang.Double.doubleToRawLongBits(d), id) }
      assert(bits(got) == bits(want), s"a=$a b=$b k=$k")
    }
    // equal distances that only the id can order
    check(Seq((1.0, 5L), (1.0, 9L)), Seq((1.0, 7L), (1.0, 2L), (0.5, 11L)), 3)
    // −0.0 sorts before 0.0 whatever the ids
    check(Seq((0.0, 1L), (2.0, 3L)), Seq((-0.0, 2L)), 1)
    check(Seq((-0.0, 4L)), Seq((0.0, 1L), (0.0, 0L)), 2)
    // k larger than the union, and an empty side on either hand
    check(Seq((3.0, 1L), (1.0, 2L)), Seq((2.0, 3L)), 10)
    check(Seq.empty, Seq((2.0, 3L), (1.0, 4L)), 1)
    check(Seq((2.0, 3L), (1.0, 4L)), Seq.empty, 1)
    check(Seq.empty, Seq.empty, 5)
    // seeded mixes of the above
    val rnd = new scala.util.Random(17)
    val pool = Array(-0.0, 0.0, 0.5, 1.0, 1.0, 2.5)
    (1 to 200).foreach { _ =>
      def side() = Seq.fill(rnd.nextInt(6))(
        (pool(rnd.nextInt(pool.length)), rnd.nextInt(8).toLong))
      check(side(), side(), 1 + rnd.nextInt(8))
    }
  }

  test("traces persist and reload as a parquet model table") {
    val dir = java.nio.file.Files.createTempDirectory("traces").toString
    ProfileTrainer.saveTraces(traces, s"$dir/t", spark)
    val back = ProfileTrainer.loadTraces(s"$dir/t", spark)
    // empty level round-trips without shifting the level alignment
    import graft.profile.ErrorProfile.Trace
    val withEmpty = traces.updated(1, Trace(2, Array.empty, Array.empty, Array.empty))
    ProfileTrainer.saveTraces(withEmpty, s"$dir/t2", spark)
    val back2 = ProfileTrainer.loadTraces(s"$dir/t2", spark)
    assert(back2.length == withEmpty.length)
    assert(back2(1).phis.isEmpty && back2(2).nprobe == 4)
    assert(back.length == traces.length)
    traces.zip(back).foreach { case (a, b) =>
      assert(a.nprobe == b.nprobe)
      assert(a.phis.sameElements(b.phis))
      assert(a.us.sameElements(b.us))
      assert(a.stds.sameElements(b.stds))
      // lookups identical through the round-trip
      assert(a.search(a.phis.last / 2, 1.0f) == b.search(a.phis.last / 2, 1.0f))
    }
  }

  test("deep-schedule driver-decided path is bit-identical to the distributed path") {
    import spark.implicits._
    // nlist=256 → levels 6 → the searchStagedDriver route (one action
    // per round, driver-side decisions); forceDistributed reruns the
    // executor-side CtrlD rounds on the identical inputs. Both must
    // agree on rows AND stats for every query — the decisions share
    // rankings, boundary windows, predictedRecall, and decideStep by
    // construction, and this pins the plumbing around them.
    val b = clusteredVecs(5120, d, nClusters = 48, seed = 91)
    val bDF = vecDF(b)
    val m256 = IVFIndex.train(bDF, nlist = 256, seed = 42L)
    val a256 = IVFIndex.assign(bDF, m256).cache()
    val tq = vecDF(clusteredVecs(5270, d, nClusters = 48, seed = 91).drop(5120), "qid")
    val gt = FlatSearch.knn(bDF, tq, k)
    val tr = ProfileTrainer.train(a256, m256, tq, gt, maxTopk = k, bs = 50)
    assert(tr.length > 4, "config must exercise the deep (levels > 4) route")
    val qdf = clusteredVecs(5310, d, nClusters = 48, seed = 91).drop(5270)
      .zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def run(forceDistributed: Boolean) = {
      val r = BoundedSearch.search(a256, m256, tr, qdf, k,
        multiplier = 4.0f, stdM = 1.0f, forceDistributed = forceDistributed)
      (r.results.select(col("qid"), col("rank"), col("id"), col("dist"))
        .as[(Long, Int, Long, Double)].collect().sortBy(x => (x._1, x._2)),
        r.stats.sortBy(_.qid))
    }
    val (hRows, hStats) = run(forceDistributed = false)
    val (dRows, dStats) = run(forceDistributed = true)
    assert(hRows.sameElements(dRows),
      "driver-decided rows differ from distributed rows")
    assert(hStats == dStats, "driver-decided stats differ from distributed stats")
  }

  test("driver rounds ≡ fully-distributed (cogroup) path at levels 3") {
    import spark.implicits._
    val b = clusteredVecs(2000, d, nClusters = 24, seed = 55)
    val bDF = vecDF(b)
    val m32 = IVFIndex.train(bDF, nlist = 32, seed = 42L)
    val a32 = IVFIndex.assign(bDF, m32).cache()
    val tq = vecDF(clusteredVecs(2100, d, nClusters = 24, seed = 55).drop(2000), "qid")
    val gt32 = FlatSearch.knn(bDF, tq, k)
    val tr32 = ProfileTrainer.train(a32, m32, tq, gt32, maxTopk = k, bs = 50)
    val qdf = clusteredVecs(2130, d, nClusters = 24, seed = 55).drop(2100)
      .zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    // nlist=32 → levels 3, the shallow schedule: driver rounds by default
    assert(tr32.length == 3)
    def run(forceDistributed: Boolean) = {
      val r = BoundedSearch.search(a32, m32, tr32, qdf, k,
        multiplier = 4.0f, stdM = 1.0f, forceDistributed = forceDistributed)
      (r.results.select(col("qid"), col("rank"), col("id"), col("dist"))
        .as[(Long, Int, Long, Double)].collect().sortBy(x => (x._1, x._2)),
        r.stats.sortBy(_.qid))
    }
    val (rRows, rStats) = run(forceDistributed = false)
    val (dRows, dStats) = run(forceDistributed = true)
    assert(rRows.sameElements(dRows),
      "distributed rows differ from driver-round rows")
    assert(rStats == dStats, "distributed stats differ from driver-round stats")
  }

  test("cogroup path salts hot lists and stays bit-identical under skew") {
    import spark.implicits._
    // all queries jittered around ONE base point → the same few lists
    // take every probe row; maxProbes=4 forces multi-salt sub-keys on
    // those hot lists, exercising the data-replication + probe-split
    // path that guards a task's memory at 100k+ queries
    val b = clusteredVecs(2000, d, nClusters = 24, seed = 55)
    val bDF = vecDF(b)
    val m32 = IVFIndex.train(bDF, nlist = 32, seed = 42L)
    val a32 = IVFIndex.assign(bDF, m32).cache()
    val tq = vecDF(clusteredVecs(2100, d, nClusters = 24, seed = 55).drop(2000), "qid")
    val gt32 = FlatSearch.knn(bDF, tq, k)
    val tr32 = ProfileTrainer.train(a32, m32, tq, gt32, maxTopk = k, bs = 50)
    val rnd = new scala.util.Random(91)
    val anchor = b(17)
    val skewQ = Array.fill(30)(
      anchor.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    val qdf = skewQ.zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def run(salted: Boolean, distributed: Boolean) = {
      if (salted) sys.props("graft.cogroup.maxProbes") = "4"
      try {
        val r = BoundedSearch.search(a32, m32, tr32, qdf, k,
          multiplier = 4.0f, stdM = 1.0f, forceDistributed = distributed)
        (r.results.select(col("qid"), col("rank"), col("id"), col("dist"))
          .as[(Long, Int, Long, Double)].collect().sortBy(x => (x._1, x._2)),
          r.stats.sortBy(_.qid))
      } finally if (salted) sys.props.remove("graft.cogroup.maxProbes")
    }
    val (rRows, rStats) = run(salted = false, distributed = false)
    val (sRows, sStats) = run(salted = true, distributed = true)
    assert(rRows.sameElements(sRows), "salted cogroup rows differ from driver rounds")
    assert(rStats == sStats, "salted cogroup stats differ from driver rounds")
  }

  test("one 4,400-query batch ≡ two 2,200-query chunks on the driver rounds") {
    import spark.implicits._
    // per-query decisions are independent of the batch they ride in, so
    // running the same queries through the driver-decided rounds in two
    // chunks must give identical rows and stats — proving the per-round
    // scans, merges and active-set filtering change nothing with nq.
    val b = clusteredVecs(1500, d, nClusters = 24, seed = 77)
    val bDF = vecDF(b)
    val m32 = IVFIndex.train(bDF, nlist = 32, seed = 42L)
    val a32 = IVFIndex.assign(bDF, m32).cache()
    val tq = vecDF(clusteredVecs(1600, d, nClusters = 24, seed = 77).drop(1500), "qid")
    val gt32 = FlatSearch.knn(bDF, tq, k = 10)
    val tr32 = ProfileTrainer.train(a32, m32, tq, gt32, maxTopk = 10, bs = 50)
    val nq = 4400
    val qvecs = clusteredVecs(nq, d, nClusters = 24, seed = 78)
    val qdf = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val roundsR = BoundedSearch.search(a32, m32, tr32, qdf, k = 10,
      multiplier = 4.0f, stdM = 1.0f)
    val roundsRows = roundsR.results
      .select(col("qid"), col("rank"), col("id"), col("dist"))
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(roundsR.stats.size == nq)
    assert(roundsRows.map(_._1).distinct.length == nq, "some query lost its rows")

    val chunks = qvecs.zipWithIndex.grouped(2200).toSeq
    val chunked = chunks.map { ch =>
      val cdf = ch.map { case (v, i) => (i.toLong, v, 0.8f) }
        .toSeq.toDF("qid", "vec", "required_recall")
      val r = BoundedSearch.search(a32, m32, tr32, cdf, k = 10,
        multiplier = 4.0f, stdM = 1.0f)
      val rows = r.results.select(col("qid"), col("rank"), col("id"), col("dist"))
        .as[(Long, Int, Long, Double)].collect()
      (rows, r.stats)
    }
    val chunkedRows = chunked.flatMap(_._1.toSeq).toArray.sortBy(r => (r._1, r._2))
    val chunkedStats = chunked.flatMap(_._2).sortBy(_.qid)
    assert(roundsRows.sameElements(chunkedRows))
    assert(roundsR.stats.sortBy(_.qid) == chunkedStats)
  }

  test("an empty first-ranked list: rounds ≡ distributed, staged capture runs") {
    import spark.implicits._
    // one extra centroid placed AT a group of queries, with no rows
    // assigned to it (`assigned` keeps the 64-list assignment): those
    // queries rank the empty list first, so their stage-1 top-k is empty
    val anchor = evalQ(0)
    val rnd = new scala.util.Random(5)
    val near = Array.fill(6)(anchor.map(x => (x + 0.01 * rnd.nextGaussian()).toFloat))
    val m65 = graft.index.IVFModel(model.metric, model.centroids :+ anchor)
    assert(near.forall(v => m65.rankCentroids(v).head._1 == model.nlist))
    val tq = vecDF(trainQ, "qid")
    val tr = ProfileTrainer.train(assigned, m65, tq, FlatSearch.knn(baseDF, tq, k),
      maxTopk = k, bs = 100)
    assert(tr.length == 4, "config must stage 4 levels (nlist 65)")
    val qs = near ++ evalQ.slice(1, 21)
    // required recall 0 on the anchored queries: an empty top-k predicts
    // recall 0, which already meets it, so only the empty-top-k gate keeps
    // stage 1 from deciding them on no rows at all
    val qdf = qs.zipWithIndex
      .map { case (v, i) => (i.toLong, v, if (i < near.length) 0f else 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def run(distributed: Boolean) = {
      val r = BoundedSearch.search(assigned, m65, tr, qdf, k, multiplier = 4.0f,
        stdM = 1.0f, forceDistributed = distributed)
      (r.results.select(col("qid"), col("rank"), col("id"), col("dist"))
        .as[(Long, Int, Long, Double)].collect().sortBy(x => (x._1, x._2)),
        r.stats.sortBy(_.qid))
    }
    val (rRows, rStats) = run(distributed = false)
    val (dRows, dStats) = run(distributed = true)
    assert(rRows.map(_._1).distinct.length == qs.length, "some query lost its rows")
    assert(rRows.sameElements(dRows), "distributed rows differ from driver-round rows")
    assert(rStats == dStats, "distributed stats differ from driver-round stats")
    val staged = ProfileTrainer.stagedTopK(assigned, m65, vecDF(qs, "qid"), maxTopk = k)
      .select(col("qid").cast("long"), col("stage")).as[(Long, Int)].collect()
    // the anchored queries' stage-0 capture is empty; later stages are not
    assert(!staged.exists { case (q, s) => q < near.length && s == 0 })
    assert(staged.count(_._2 == 3) == qs.length)
  }

  test("a query whose staged lists are all empty decides at the cap on every path") {
    import spark.implicits._
    // an nlist-8 index plus a 9th centroid, with no rows, placed AT a
    // query: nlist 9 stages one list, so that query's whole staged prefix
    // is the empty list, and only the cap stage can decide it
    val b = clusteredVecs(2000, d, nClusters = 8, seed = 91)
    val bDF = vecDF(b)
    val m8 = IVFIndex.train(bDF, nlist = 8, seed = 42L)
    val a8 = IVFIndex.assign(bDF, m8).cache()
    val qv = clusteredVecs(2120, d, nClusters = 8, seed = 92).drop(2000)
    val m9 = graft.index.IVFModel(m8.metric, m8.centroids :+ qv(0))
    val tq = vecDF(qv.drop(20), "qid")
    val tr = ProfileTrainer.train(a8, m9, tq, FlatSearch.knn(bDF, tq, k),
      maxTopk = k, bs = 50)
    assert(tr.length == 1, "nlist 9 must stage exactly one list")
    val qs = qv.take(20)
    val empty = qs.indices.filter(i => m9.rankCentroids(qs(i)).head._1 == 8)
    assert(empty.contains(0))
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def run(distributed: Boolean) = {
      val r = BoundedSearch.search(a8, m9, tr, qdf, k, multiplier = 2.0f,
        stdM = 1.0f, forceDistributed = distributed)
      (r.results.select(col("qid"), col("rank"), col("id"), col("dist"))
        .as[(Long, Int, Long, Double)].collect().sortBy(x => (x._1, x._2)),
        r.stats.sortBy(_.qid))
    }
    val (rRows, rStats) = run(distributed = false)
    val (dRows, dStats) = run(distributed = true)
    // decided at the cap (stage 1) on an empty top-k: predicted recall 0,
    // nprobe 1 × multiplier 2, so the finishing pass probes the next
    // ranked (non-empty) list and fills the top-k from it
    empty.foreach { qi =>
      assert(rStats(qi) == BoundedSearch.QueryStats(qi.toLong, 2, 0f, 1))
      assert(rRows.count(_._1 == qi) == k, s"query $qi got no full top-k")
    }
    assert(rRows.sameElements(dRows), "distributed rows differ from driver-round rows")
    assert(rStats == dStats, "distributed stats differ from driver-round stats")
  }

  test("latency-bounded search respects the probe budget") {
    import spark.implicits._
    val qdf = evalQ.take(10).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 8.0) } // 8ms budget
      .toSeq.toDF("qid", "vec", "budget_ms")
    val res = BoundedSearch.timeSearch(assigned, model, qdf, k,
      costPerProbeMs = 1.0)
    assert(res.stats.forall(_.nprobeUsed <= 8))
    assert(res.results.count() > 0)
  }
}
