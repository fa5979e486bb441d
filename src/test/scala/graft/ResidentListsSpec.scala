package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.{IVFIndex, IndexCache}
import graft.operators.TopK
import graft.profile.ProfileTrainer
import graft.search.{BoundedSearch, FlatSearch}

/** The resident inverted lists behind the driver-decided bounded-search
  * rounds ([[IndexCache.residentLists]]): a rewritten table is never
  * served from its old store, the per-slot merges keep the SQL window's
  * order, a round launches tasks only for the store partitions that
  * hold its probed lists, the stores stay within their storage pool, and
  * a table with no store is scanned from its rows to the same answer, NaN
  * and all-zero rows included. */
class ResidentListsSpec extends SparkSpec {

  val d = 16
  val k = 10
  val nlist = 16

  private def stores: Int = spark.sparkContext.getPersistentRDDs.values
    .count(_.name == IndexCache.ResidentName)

  private def rows(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select(col("qid").cast("long"), col("rank").cast("int"),
        col("id").cast("long"), col("dist").cast("double"))
      .as[(Long, Int, Long, Double)].collect().sortBy(x => (x._1, x._2))
      .map { case (q, r, id, dist) =>
        (q, r, id, java.lang.Double.doubleToRawLongBits(dist)) }
      .toSeq
  }

  test("a table rewritten under its path is searched fresh; clear() unpersists every store") {
    import spark.implicits._
    IndexCache.clear()
    assert(stores == 0)
    val dir = java.nio.file.Files.createTempDirectory("resident").toString + "/ivf"
    val model = IVFIndex.train(vecDF(clusteredVecs(1500, d, 12, seed = 3)),
      nlist, seed = 42L)
    val tq = vecDF(clusteredVecs(1600, d, 12, seed = 6).drop(1500), "qid")
    val qVecs = clusteredVecs(40, d, 12, seed = 7)
    val qdf = qVecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    // write `base` under `dir`, re-read it, and search it with a
    // multiplier of nlist: every query's finishing pass probes all lists,
    // so the answer must be the exact top-k of `base`
    def writeAndSearch(base: Array[Array[Float]]) = {
      IVFIndex.write(IVFIndex.assign(vecDF(base), model), dir)
      val ivf = spark.read.parquet(dir)
      val traces = ProfileTrainer.train(ivf, model, tq,
        FlatSearch.knn(vecDF(base), tq, k), maxTopk = k, bs = 50)
      val got = BoundedSearch.search(ivf, model, traces, qdf, k,
        multiplier = nlist.toFloat)
      (rows(got.results), rows(FlatSearch.knn(vecDF(base),
        qdf.select(col("qid"), col("vec")), k)))
    }
    val (got1, exact1) = writeAndSearch(clusteredVecs(1500, d, 12, seed = 3))
    assert(got1 == exact1, "first table: rounds differ from the exact top-k")
    assert(stores == 1)
    val (got2, exact2) = writeAndSearch(clusteredVecs(1500, d, 12, seed = 4))
    assert(exact2 != exact1, "the rewrite must change the answer")
    assert(got2 == exact2, "rewritten table: rounds served stale rows")
    assert(stores == 1, "the old store must be unpersisted when replaced")
    IndexCache.clear()
    assert(stores == 0, "clear() left a resident store persisted")
  }

  test("±0 distances: the merges keep the SQL window's order, and ip rounds ≡ distributed") {
    import spark.implicits._
    // (1) the window-ordered merges against the window itself: partial
    // rows with −0.0 and 0.0 on shared ranks, merged through two
    // partial heaps exactly as a round's combine and the final merge do
    val rnd = new scala.util.Random(29)
    val pool = Array(-0.0, 0.0, -0.0, 0.0, 0.5, 1.0)
    val partials = (0L until 60L).flatMap { q =>
      rnd.shuffle((0L until 9L).toList).take(1 + rnd.nextInt(9))
        .map(id => (q, id, pool(rnd.nextInt(pool.length))))
    }
    for (kk <- Seq(1, 2, 4)) {
      val window = rows(FlatSearch.mergeTopK(partials.toDF("qid", "id", "dist"), kk))
      val heaps = partials.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
        val (a, b) = rs.splitAt(rs.length / 2)
        def heap(xs: Seq[(Long, Long, Double)]) = {
          val h = new TopK(kk); xs.foreach(x => h.add(x._3, x._2)); h
        }
        heap(a).merge(heap(b)).sorted.zipWithIndex.map { case ((dist, id), r) =>
          (q, r + 1, id, java.lang.Double.doubleToRawLongBits(dist))
        }
      }
      assert(heaps == window, s"k=$kk: heap order differs from the window's")
    }

    // (2) end to end on the ip metric with a planted exactly-orthogonal
    // pair: every base vector has a strictly negative first coordinate,
    // the two planted ones a zero first coordinate, so for the query e0
    // the pair are the two nearest rows, both at distance −(+0.0)
    val raw = clusteredVecs(2000, d, 12, seed = 11).map { v =>
      v(0) = -(math.abs(v(0)) + 0.05f); Kernels.l2Normalize(v)
    }
    val planted = Seq(5, 17)
    planted.foreach(i => raw(i)(0) = 0f)
    val ipDF = vecDF(raw)
    val ipModel = IVFIndex.train(ipDF, nlist, metric = "ip", seed = 42L)
    val ipAssigned = IVFIndex.assign(ipDF, ipModel).cache()
    val tq = vecDF(clusteredVecs(2100, d, 12, seed = 11).drop(2000)
      .map(Kernels.l2Normalize), "qid")
    val traces = ProfileTrainer.train(ipAssigned, ipModel, tq,
      FlatSearch.knn(ipDF, tq, k, metric = "ip"), maxTopk = k, bs = 50)
    val e0 = Array.tabulate(d)(i => if (i == 0) 1f else 0f)
    val qs = e0 +: clusteredVecs(30, d, 12, seed = 12).map(Kernels.l2Normalize)
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0.8f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    for (mult <- Seq(1f, nlist.toFloat)) {
      def run(forceDistributed: Boolean) = {
        val r = BoundedSearch.search(ipAssigned, ipModel, traces, qdf, k,
          multiplier = mult, stdM = 1.0f, forceDistributed = forceDistributed)
        (rows(r.results), r.stats.sortBy(_.qid))
      }
      val (rRows, rStats) = run(forceDistributed = false)
      val (dRows, dStats) = run(forceDistributed = true)
      assert(rRows == dRows, s"multiplier $mult: rows differ from distributed")
      assert(rStats == dStats, s"multiplier $mult: stats differ from distributed")
      if (mult == nlist.toFloat) {
        val negZero = java.lang.Double.doubleToRawLongBits(-0.0)
        assert(rRows.filter(_._1 == 0L).take(2) ==
          planted.zipWithIndex.map { case (id, r) => (0L, r + 1, id.toLong, negZero) },
          "the planted pair must rank first, tied at −0.0 and ordered by id")
      }
    }
  }

  /** (jobs, tasks) that `body` launched, counted through a job group. */
  private def countTasks(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"resident-pruning-${System.nanoTime()}"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new AtomicInteger
    val tasks = new AtomicInteger
    def mine(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) ours.add(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (ours.contains(e.jobId)) ended.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "resident pruning")
      try body finally sc.clearJobGroup()
      // listener events are asynchronous: wait for our jobs' ends
      val deadline = System.nanoTime() + 20000000000L
      while (ended.get() < ours.size && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    (ours.size, tasks.get())
  }

  test("a round whose probed lists sit in one store partition runs one task") {
    val base = clusteredVecs(1500, d, 12, seed = 13)
    val model = IVFIndex.train(vecDF(base), nlist, seed = 42L)
    val assigned = IVFIndex.assign(vecDF(base), model).cache()
    val lists = IndexCache.residentLists(assigned, d).get
    val part = lists.partitioner.get
    assert(part.numPartitions == spark.sparkContext.defaultParallelism)
    val listOf = base.map(model.assignListNo)
    val qVecs = clusteredVecs(6, d, 12, seed = 14)
    val bq = spark.sparkContext.broadcast(qVecs)
    // the exact answer over the probed lists, for every slot
    def exact(probed: Set[Int]): Seq[Seq[(Double, Long)]] = qVecs.toSeq.map { q =>
      val h = new TopK(k)
      base.indices.filter(i => probed(listOf(i)))
        .foreach(i => h.add(Kernels.l2Sqr(q, base(i)), i.toLong))
      h.sorted.toSeq
    }
    def probeMap(probed: Set[Int]) =
      probed.map(l => l -> qVecs.indices.toArray).toMap
    def heaps(probed: Set[Int]) = BoundedSearch.roundTopK(assigned,
      Some(lists), "l2", bq, probeMap(probed), k, qVecs.length).toSeq.map(h => h.sorted.toSeq)

    val onePart = (0 until nlist).filter(part.getPartition(_) == 0).toSet
    assert(onePart.size >= 2, "the case needs two lists in one partition")
    var got: Seq[Seq[(Double, Long)]] = Nil
    assert(countTasks { got = heaps(onePart) } == (1, 1),
      "a one-partition round must be one job of one task")
    assert(got == exact(onePart))

    val twoParts = (0 until nlist).filter(l => part.getPartition(l) <= 1).toSet
    val (jobs, tasks) = countTasks { got = heaps(twoParts) }
    assert(jobs == 1 && tasks == 2,
      s"a two-partition round: $jobs jobs, $tasks tasks (2 scan)")
    assert(got == exact(twoParts))
  }

  /** Runs `body` with the stores' storage pool pinned to `bytes`. */
  private def withPool[T](bytes: Long)(body: => T): T = {
    val saved = IndexCache.storePool
    IndexCache.storePool = _ => bytes
    try body finally IndexCache.storePool = saved
  }

  test("stores stay within the storage pool, least recently used evicted first") {
    IndexCache.clear()
    val n = 1500
    val bytes = n * (4L * d + 28)
    val model = IVFIndex.train(vecDF(clusteredVecs(n, d, 12, seed = 3)),
      nlist, seed = 42L)
    val tables = (20 until 25).map { s =>
      IVFIndex.assign(vecDF(clusteredVecs(n, d, 12, seed = s)), model) }
    def store(t: Int) = IndexCache.residentLists(tables(t), d)
    withPool(bytes * 5 / 2) {
      tables.indices.foreach { t =>
        assert(store(t).isDefined, s"table $t fits the pool")
        assert(stores <= 2, s"after table $t: $stores stores in a two-store pool")
      }
      // tables 3 and 4 are held; touching 3 leaves 4 least recently used,
      // so rebuilding table 0 must evict 4 and keep 3
      val held3 = store(3).get.id
      assert(store(0).isDefined && stores == 2)
      assert(store(3).get.id == held3, "the recently used store was evicted")
      assert(spark.sparkContext.getPersistentRDDs.contains(held3))
    }
    withPool(bytes / 2) {
      assert(store(1).isEmpty, "a store larger than the pool must not be built")
      assert(stores == 2, "a store that cannot fit must evict nothing")
    }
    IndexCache.clear()
    assert(stores == 0)
  }

  test("a NaN-bearing and an all-zero row: store ≡ rows ≡ distributed, NaN never returned") {
    import spark.implicits._
    IndexCache.clear()
    val clean = clusteredVecs(1500, d, 12, seed = 17)
    val model = IVFIndex.train(vecDF(clean), nlist, seed = 42L)
    val tq = vecDF(clusteredVecs(1600, d, 12, seed = 18).drop(1500), "qid")
    val traces = ProfileTrainer.train(IVFIndex.assign(vecDF(clean), model),
      model, tq, FlatSearch.knn(vecDF(clean), tq, k), maxTopk = k, bs = 50)
    val nanId = 7
    val zeroId = 3
    val base = clean.map(_.clone())
    base(nanId)(d / 2) = Float.NaN
    base(zeroId) = new Array[Float](d)
    val assigned = IVFIndex.assign(vecDF(base), model).cache()
    // the zero vector as a query: its nearest row is the zero row at +0.0
    val qs = new Array[Float](d) +: base(nanId).updated(d / 2, 0f) +:
      clusteredVecs(30, d, 12, seed = 19)
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0.85f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    for (mult <- Seq(2f, nlist.toFloat)) {
      IndexCache.clear() // the traces' capture built a store of `clean`
      def run(forceDistributed: Boolean) = {
        val r = BoundedSearch.search(assigned, model, traces, qdf, k,
          multiplier = mult, stdM = 1.0f, forceDistributed = forceDistributed)
        (rows(r.results), r.stats.sortBy(_.qid))
      }
      val fromRows = withPool(0L)(run(forceDistributed = false))
      assert(stores == 0, "a zero pool must build no store")
      val distributed = run(forceDistributed = true)
      val fromStore = run(forceDistributed = false)
      assert(stores == 1)
      assert(fromStore._1 == fromRows._1, s"multiplier $mult: store rows differ from the rows arm")
      assert(fromStore._2 == fromRows._2, s"multiplier $mult: store stats differ from the rows arm")
      assert(fromStore._1 == distributed._1, s"multiplier $mult: store rows differ from distributed")
      assert(fromStore._2 == distributed._2, s"multiplier $mult: store stats differ from distributed")
      assert(!fromStore._1.exists(_._3 == nanId), "the NaN row was returned")
      assert(fromStore._1.count(_._1 == 1L) == k)
      if (mult == nlist.toFloat)
        assert(fromStore._1.head == (0L, 1, zeroId.toLong,
          java.lang.Double.doubleToRawLongBits(0.0)),
          "the zero query must rank the zero row first at +0.0")
    }
    IndexCache.clear()
  }

  test("a table with no store is scanned from its rows: same traces, rows and stats") {
    import spark.implicits._
    IndexCache.clear()
    val base = clusteredVecs(2000, d, 12, seed = 15)
    val model = IVFIndex.train(vecDF(base), nlist, seed = 42L)
    val assigned = IVFIndex.assign(vecDF(base), model).cache()
    val tq = vecDF(clusteredVecs(2100, d, 12, seed = 15).drop(2000), "qid")
    val gt = FlatSearch.knn(vecDF(base), tq, k)
    val qdf = clusteredVecs(40, d, 12, seed = 16).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0.85f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def run() = {
      val traces = ProfileTrainer.train(assigned, model, tq, gt, maxTopk = k,
        bs = 50)
      val r = BoundedSearch.search(assigned, model, traces, qdf, k,
        multiplier = 2f, stdM = 1.0f)
      (traces.map(t => (t.nprobe, t.phis.toSeq, t.us.toSeq, t.stds.toSeq)).toSeq,
        rows(r.results), r.stats.sortBy(_.qid))
    }
    val fromRows = withPool(0L)(run())
    assert(stores == 0, "a zero pool must build no store")
    val fromStore = run()
    assert(stores == 1)
    assert(fromStore._1 == fromRows._1, "profile traces differ between the scans")
    assert(fromStore._2 == fromRows._2, "rows differ between the scans")
    assert(fromStore._3 == fromRows._3, "stats differ between the scans")
    IndexCache.clear()
  }
}
