package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.index.IVFIndex
import graft.profile.ProfileTrainer
import graft.search.{BoundedSearch, FlatSearch}

/** The bucketed-IVF shuffle-free claim, proven rather than asserted in a
  * comment: on a `list_no`-bucketed table the fully-distributed bounded
  * search scans lists via a bucket-local join whose DATA side has no
  * Exchange — only the small probe side shuffles. Results are identical
  * to the salted-cogroup path on the plain partitioned table. */
class BoundedBucketSpec extends SparkSpec {

  val d = 24
  val k = 10
  val nlist = 32
  val nBuckets = 32

  lazy val pool = clusteredVecs(3200, d, nClusters = 40, seed = 77)
  lazy val base = pool.take(3000)
  lazy val baseDF = vecDF(base)
  lazy val model = IVFIndex.train(baseDF, nlist, metric = "l2", seed = 42L)
  lazy val assigned = IVFIndex.assign(baseDF, model).cache()

  lazy val traces = {
    val tq = vecDF(pool.slice(3000, 3150), "qid")
    val gt = FlatSearch.knn(baseDF, tq, k)
    ProfileTrainer.train(assigned, model, tq, gt, maxTopk = k, bs = 100)
  }

  lazy val bucketedTable: String = {
    // the in-memory catalog forgets tables across JVMs but the warehouse
    // directory persists — clear both or the next run's CREATE fails
    // with LOCATION_ALREADY_EXISTS
    spark.sql("DROP TABLE IF EXISTS ivf_bucketed_spec")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "ivf_bucketed_spec")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    IVFIndex.writeBucketed(assigned, "ivf_bucketed_spec", nBuckets)
    "ivf_bucketed_spec"
  }

  test("listNoBuckets detects the bucket spec (and its absence)") {
    assert(BoundedSearch.listNoBuckets(spark.table(bucketedTable))
      .contains(nBuckets))
    val dir = java.nio.file.Files.createTempDirectory("ivf_part").toString
    IVFIndex.write(assigned, dir)
    assert(BoundedSearch.listNoBuckets(spark.read.parquet(dir)).isEmpty)
  }

  test("scanListsJoin: no Exchange anywhere above the bucketed scan") {
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // concrete (non-adaptive) plan, and no broadcast so the join is the
      // shuffle-requiring kind the 100 TB batch would get
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val qs = pool.slice(3150, 3166)
      val probes = qs.zipWithIndex.flatMap { case (v, i) =>
        model.rankCentroids(v).take(4).map { case (l, _) => (l, i.toLong, v) }
      }.toSeq.toDS()
      val lists = probes.map(_._1).collect().distinct.toSeq.sorted
      val out = BoundedSearch.scanListsJoin(
        spark.table(bucketedTable), "l2", probes, lists, k)
      val plan = out.queryExecution.executedPlan

      val scans = plan.collect { case f: FileSourceScanExec => f }
      assert(scans.nonEmpty && scans.forall(_.relation.bucketSpec.isDefined),
        s"expected a bucketed file scan in:\n$plan")
      // the bucketed scan must not sit below ANY shuffle: its bucket
      // partitioning IS the join distribution
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, s"expected the probe-side shuffle in:\n$plan")
      val scanUnderShuffle = exchanges.exists(
        _.child.collect { case f: FileSourceScanExec => f }.nonEmpty)
      assert(!scanUnderShuffle,
        s"data-side scan found under an Exchange:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("bucketed join path ≡ salted cogroup path (distributed search)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_ab").toString
    IVFIndex.write(assigned, dir)
    val qdf = pool.slice(3150, 3200).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0.85f) }
      .toSeq.toDF("qid", "vec", "required_recall")

    def run(tbl: org.apache.spark.sql.DataFrame) = {
      val r = BoundedSearch.search(tbl, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
      (r.results.select(col("qid"), col("id"), col("dist"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4)),
        r.stats.sortBy(_.qid))
    }
    // zero the crossover guard so this 3000-row table actually exercises
    // the fused arm (the router would otherwise — correctly — route a
    // corpus this small to the cogroup; the guard itself is pinned by
    // the router tests below)
    System.setProperty("graft.join.minProbedRows", "0")
    try {
      val (rowsB, statsB) = run(spark.table(bucketedTable))
      assert(BoundedSearch.lastScanRoute.get() == "fused")
      val (rowsP, statsP) = run(spark.read.parquet(dir))
      assert(BoundedSearch.lastScanRoute.get() == "cogroup")
      assert(rowsB.sameElements(rowsP), "bucketed results differ from cogroup")
      assert(statsB == statsP, "bucketed decisions differ from cogroup")
    } finally System.clearProperty("graft.join.minProbedRows")
  }

  test("router obeys the measured crossover: small bucketed corpora take the cogroup") {
    import spark.implicits._
    val qdf = pool.slice(3150, 3182).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0.85f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    def route(): String = {
      BoundedSearch.lastScanRoute.remove()
      BoundedSearch.search(spark.table(bucketedTable), model, traces, qdf,
        k, multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
        .results.count()
      BoundedSearch.lastScanRoute.get()
    }
    // default guard (28M estimated probed rows/round, the measured
    // post-fix crossover): this 3000-row corpus never qualifies — the
    // layout alone must NOT select the fused arm (measured slower than
    // the cogroup at every sub-crossover scale,
    // tools/evidence/r10_scale_ab_20m100k.log)
    assert(route() == "cogroup",
      "small bucketed corpus must route to the salted cogroup")
    // a threshold at/below the corpus's per-round scan estimate flips
    // the SAME layout to the fused arm: est = probedLists × meanListSize
    // ≤ 3000 here, so 1 row qualifies every non-empty round
    System.setProperty("graft.join.minProbedRows", "1")
    try assert(route() == "fused",
      "above-crossover estimate must route to the fused bucket-local arm")
    finally System.clearProperty("graft.join.minProbedRows")
    // and an unbucketed layout never routes fused, whatever the guard
    System.setProperty("graft.join.minProbedRows", "0")
    try {
      BoundedSearch.lastScanRoute.remove()
      BoundedSearch.search(assigned, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
        .results.count()
      assert(BoundedSearch.lastScanRoute.get() == "cogroup")
    } finally System.clearProperty("graft.join.minProbedRows")
  }

  test("list sizes are layout metadata: repeat searches run no count job") {
    import spark.implicits._
    val qdf = pool.slice(3150, 3166).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0.85f) }
      .toSeq.toDF("qid", "vec", "required_recall")
    val tbl = spark.table(bucketedTable)
    def go(): Unit =
      BoundedSearch.search(tbl, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
        .results.count()
    go() // may pay the memo's one size job
    val before = graft.index.IndexCache.listSizeComputes.get()
    // QueryExecutionListener-level proof on top of the memo counter: no
    // Dataset.count ACTION on the corpus table during repeat searches.
    // (The search itself counts its small ctrl dataset — we match on
    // the action's plan touching the bucketed table's relation.)
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        // a corpus count is count(1) DIRECTLY over the table — the
        // search's own result/ctrl counts aggregate derived plans and
        // must not match
        qe.analyzed match {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
              if funcName == "count" &&
                a.child.sameResult(tbl.queryExecution.analyzed) =>
            counted.incrementAndGet(); ()
          case _ => ()
        }
      override def onFailure(funcName: String, qe:
          org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      go(); go()
      // listener delivery is async — a sentinel count at the END proves
      // delivery happened before we read the counter: if the searches
      // had counted the corpus, those events precede the sentinel's
      tbl.count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (counted.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(graft.index.IndexCache.listSizeComputes.get() == before,
      "repeat search must reuse the memoized list sizes")
    // ≥ 1, not == 1: the sentinel must have arrived, but an unrelated
    // future count over the same relation (or duplicated listener
    // delivery) must make the MEMO assertion above pinpoint a
    // regression, not turn this sentinel check into a flake
    assert(counted.get() >= 1,
      "sentinel count action never observed by the listener")
  }

  test("persisted list sizes: metadata ≡ counted sizes, reload serves dedup/search with zero size jobs") {
    import spark.implicits._
    import graft.index.IndexCache
    val modelDir =
      java.nio.file.Files.createTempDirectory("graft_models_ls").toString
    val corpusDir =
      java.nio.file.Files.createTempDirectory("ivf_ls").toString + "/corpus"
    baseDF.write.mode("overwrite").parquet(corpusDir)
    System.setProperty("graft.model.dir", modelDir)
    try {
      def corpus = spark.read.parquet(corpusDir)
      // session 1: the build's one groupBy job yields BOTH metadata and
      // persists the _list_sizes sidecar beside the centroids
      val (m1, a1) = IndexCache.ivf("lsizes_spec", corpus, nlist)
      val fromCache = IndexCache.listSizes(a1)
      // metadata ≡ counted sizes (independent recount of the same frame)
      val counted = a1.groupBy(col("list_no")).count()
        .as[(Int, Long)].collect().map { case (l, c) => (l.toLong, c) }.toMap
      assert(fromCache == counted, "memoized sizes must equal a fresh count")
      assert(fromCache.valuesIterator.sum == base.length)
      val sidecar = new java.io.File(modelDir).listFiles()
        .filter(_.isDirectory)
        .map(d => new java.io.File(d, "_list_sizes"))
        .find(_.exists())
        .getOrElse(fail("no _list_sizes sidecar found under the model dir"))
      // session 2 (simulated): memos gone, disk intact — the sidecar
      // seeds the memo, so even the FIRST ivfPairs guard audit and the
      // FIRST distributed search's crossover estimate run zero jobs
      IndexCache.clear()
      val beforeSz = IndexCache.listSizeComputes.get()
      val (m2, a2) = IndexCache.ivf("lsizes_spec", corpus, nlist)
      assert(m2.centroids.map(_.toSeq).toSeq ==
        m1.centroids.map(_.toSeq).toSeq, "reload must return the saved model")
      assert(IndexCache.listSizes(a2) == counted,
        "sidecar-seeded sizes must equal the build session's count")
      val pairs = graft.ops.EmbeddingDedup.ivfPairs(a2, threshold = 0.999)
      pairs.count()
      assert(IndexCache.listSizeComputes.get() == beforeSz,
        "reload + first ivfPairs must run ZERO size jobs " +
          "(_list_sizes sidecar seeds the memo)")
      // and the reload's first distributed search runs none either
      val tq = vecDF(pool.slice(3000, 3150), "qid")
      val tr1 = ProfileTrainer.train(a1, m1, tq, FlatSearch.knn(corpus, tq, k),
        maxTopk = k, bs = 100)
      val qdf = pool.slice(3150, 3166).zipWithIndex
        .map { case (v, i) => (i.toLong, v, 0.85f) }
        .toSeq.toDF("qid", "vec", "required_recall")
      assert(BoundedSearch.search(a2, m2, tr1, qdf, k, multiplier = 8.0f,
        stdM = 1.5f, forceDistributed = true).results.count() > 0)
      assert(IndexCache.listSizeComputes.get() == beforeSz,
        "reload + first distributed search must run ZERO size jobs")
      // invalidate retires the size memo and the on-disk sidecar, so a
      // corpus rewrite can't be served stale sizes
      IndexCache.invalidate(a2)
      assert(!sidecar.exists(),
        "invalidate must delete the persisted _list_sizes sidecar")
      val afterInval = IndexCache.listSizeComputes.get()
      assert(IndexCache.listSizes(a2) == counted,
        "post-invalidate recount must see the corpus")
      assert(IndexCache.listSizeComputes.get() == afterInval + 1,
        "invalidate must force exactly one fresh size job")
      assert(m1.centroids.length == nlist)
    } finally {
      System.clearProperty("graft.model.dir")
      IndexCache.clear()
    }
  }

  test("torn _list_sizes sidecar falls back to a fresh count, never wrong sizes; legacy dirs self-upgrade") {
    import graft.index.IndexCache
    val modelDir =
      java.nio.file.Files.createTempDirectory("graft_models_torn").toString
    val corpusDir =
      java.nio.file.Files.createTempDirectory("ivf_torn").toString + "/corpus"
    baseDF.write.mode("overwrite").parquet(corpusDir)
    System.setProperty("graft.model.dir", modelDir)
    try {
      def corpus = spark.read.parquet(corpusDir)
      val (_, a1) = IndexCache.ivf("torn_spec", corpus, nlist)
      val truth = IndexCache.listSizes(a1)
      val sidecar = new java.io.File(modelDir).listFiles()
        .filter(_.isDirectory)
        .map(d => new java.io.File(d, "_list_sizes"))
        .find(_.exists())
        .getOrElse(fail("no _list_sizes sidecar found under the model dir"))
      val full = java.nio.file.Files.readString(sidecar.toPath)
      assert(full.linesIterator.toSeq.last.startsWith("#sum\t"),
        "sidecar must carry the verification trailer")
      // torn write simulation: truncate at a LINE boundary (drop the
      // trailer + one size line) — the dangerous case, because the
      // remaining lines parse cleanly and would silently under-report,
      // disabling the ivfPairs oversized-list guard
      val torn = full.linesIterator.toSeq.dropRight(2).mkString("\n")
      java.nio.file.Files.writeString(sidecar.toPath, torn)
      IndexCache.clear()
      val before = IndexCache.listSizeComputes.get()
      val (_, a2) = IndexCache.ivf("torn_spec", corpus, nlist)
      assert(IndexCache.listSizes(a2) == truth,
        "a torn sidecar must fall back to counted sizes, not a torn subset")
      assert(IndexCache.listSizeComputes.get() == before + 1,
        "the torn-sidecar fallback is exactly one fresh count job")
      // the fallback compute self-heals the sidecar: next session seeds
      assert(java.nio.file.Files.readString(sidecar.toPath)
        .linesIterator.toSeq.last.startsWith("#sum\t"),
        "fallback must rewrite a verified sidecar")
      IndexCache.clear()
      val afterHeal = IndexCache.listSizeComputes.get()
      val (_, a3) = IndexCache.ivf("torn_spec", corpus, nlist)
      assert(IndexCache.listSizes(a3) == truth)
      assert(IndexCache.listSizeComputes.get() == afterHeal,
        "the healed sidecar must seed the reload with zero size jobs")
      // a dir with no _list_sizes (a legacy or hand-copied model dir):
      // the reload pays ONE size job and writes the missing sidecar, and
      // later sessions seed for free
      java.nio.file.Files.delete(sidecar.toPath)
      IndexCache.clear()
      val beforeLegacy = IndexCache.listSizeComputes.get()
      val (_, a4) = IndexCache.ivf("torn_spec", corpus, nlist)
      assert(IndexCache.listSizes(a4) == truth)
      assert(IndexCache.listSizeComputes.get() == beforeLegacy + 1,
        "a dir without the sidecar computes its sizes exactly once")
      assert(sidecar.exists(),
        "a dir without the sidecar must gain a _list_sizes sidecar")
      IndexCache.clear()
      val afterUp = IndexCache.listSizeComputes.get()
      val (_, a5) = IndexCache.ivf("torn_spec", corpus, nlist)
      assert(IndexCache.listSizes(a5) == truth)
      assert(IndexCache.listSizeComputes.get() == afterUp,
        "the self-upgraded sidecar must seed later sessions for free")
    } finally {
      System.clearProperty("graft.model.dir")
      IndexCache.clear()
    }
  }

  test("memory-resident list_no distribution serves the Exchange-free join") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import spark.implicits._
    // the serving deployment: no table at all — any corpus repartitioned
    // on list_no and cached (index shards resident in executor memory)
    // must be detected and served by the join path with no data-side
    // Exchange, identically to the bucketed-table scan
    val mem = IVFIndex.residentByList(assigned, nBuckets)
    try {
      assert(BoundedSearch.listNoBuckets(mem).contains(nBuckets))
      // a plain cache (no declared distribution) must NOT select the join
      assert(BoundedSearch.listNoBuckets(assigned).isEmpty)

      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val qs = pool.slice(3150, 3166)
        val probes = qs.zipWithIndex.flatMap { case (v, i) =>
          model.rankCentroids(v).take(4).map { case (l, _) => (l, i.toLong, v) }
        }.toSeq.toDS()
        val lists = probes.map(_._1).collect().distinct.toSeq.sorted
        val plan = BoundedSearch.scanListsJoin(mem, "l2", probes, lists, k)
          .queryExecution.executedPlan
        val exchanges = plan.collect {
          case e: ShuffleExchangeExec => e }
        assert(exchanges.nonEmpty, s"expected the probe-side shuffle in:\n$plan")
        val cacheUnderShuffle = exchanges.exists(
          _.child.collect { case s: InMemoryTableScanExec => s }.nonEmpty)
        assert(!cacheUnderShuffle,
          s"cached data side found under an Exchange:\n$plan")
        // the resident layout's sortWithinPartitions must also carry
        // through the cache as outputOrdering — a data-side SortExec
        // here would re-sort the whole resident corpus EVERY adaptive
        // round (the per-pair-plumbing lesson of the r9 A/B, in sort
        // form)
        val sortOverCache = plan.collect {
          case s: org.apache.spark.sql.execution.SortExec
              if s.child.collect {
                case c: InMemoryTableScanExec => c }.nonEmpty => s
        }
        assert(sortOverCache.isEmpty,
          s"per-round sort over the resident data side:\n$plan")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }

      val qdf = pool.slice(3150, 3200).zipWithIndex
        .map { case (v, i) => (i.toLong, v, 0.85f) }
        .toSeq.toDF("qid", "vec", "required_recall")
      def run(tbl: org.apache.spark.sql.DataFrame) = {
        val r = BoundedSearch.search(tbl, model, traces, qdf, k,
          multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
        r.results.select(col("qid"), col("id"), col("dist"), col("rank"))
          .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
      }
      val dir = java.nio.file.Files.createTempDirectory("ivf_mem").toString
      IVFIndex.write(assigned, dir)
      // zero the crossover guard so the resident arm actually runs fused
      System.setProperty("graft.join.minProbedRows", "0")
      try {
        val rMem = run(mem)
        assert(BoundedSearch.lastScanRoute.get() == "fused")
        assert(rMem.sameElements(run(spark.read.parquet(dir))),
          "cached-distribution results differ from cogroup")
      } finally System.clearProperty("graft.join.minProbedRows")
    } finally mem.unpersist()
  }

  test("scanListsJoin probe-key adapter: nullable ≡ non-nullable list_no") {
    import spark.implicits._
    // CoGroup demands bit-identical key schemas, so scanListsJoin adapts
    // the probe-side key's nullability to the DATA layout: a bucketed
    // table or resident cache reports list_no nullable (when-guard
    // branch), but a typed source reports it non-nullable (AssertNotNull
    // branch). Both branches must exist and agree — this pins the
    // otherwise-unexercised non-nullable branch against analyzer drift.
    val rows = base.take(400).zipWithIndex.map { case (v, i) =>
      (model.assignListNo(v), i.toLong, v)
    }
    val nonNull = rows.toSeq.toDS().toDF("list_no", "id", "vec")
      .repartition(col("list_no"))
    val nullable = nonNull.select(
      when(col("list_no").isNotNull, col("list_no")).as("list_no"),
      col("id"), col("vec"))
    // the test is only meaningful while the two presentations differ
    assert(!nonNull.schema("list_no").nullable)
    assert(nullable.schema("list_no").nullable)

    val qs = pool.slice(3150, 3160)
    val probes = qs.zipWithIndex.flatMap { case (v, i) =>
      model.rankCentroids(v).take(4).map { case (l, _) => (l, i.toLong, v) }
    }.toSeq.toDS()
    val lists = probes.map(_._1).collect().distinct.toSeq.sorted
    def run(df: org.apache.spark.sql.DataFrame) =
      BoundedSearch.scanListsJoin(df, "l2", probes, lists, k)
        .as[(Long, Long, Double)].collect().sortBy(x => (x._1, x._3, x._2))
    assert(run(nonNull).sameElements(run(nullable)))
  }

  test("hot-list skew on a bucketed table falls back to the salted cogroup") {
    import spark.implicits._
    // a truly skewed batch: 32 jitters of one vector rank the same
    // lists, so one list draws every round-0 probe. With the crossover
    // guard zeroed, only the per-list bound (8 × cogroup.maxProbes = 8)
    // can route the rounds away from the fused arm, and the tiny
    // cogroup bound makes the fallback actually salt
    val hot = pool(3150)
    val rnd = new scala.util.Random(11)
    val qdf = (0 until 32).map { i =>
      (i.toLong, hot.map(x => x + 1e-3f * rnd.nextGaussian().toFloat), 0.85f)
    }.toDF("qid", "vec", "required_recall")
    def run() = BoundedSearch.search(spark.table(bucketedTable), model,
      traces, qdf, k, multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
      .results.as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
    System.setProperty("graft.join.minProbedRows", "0")
    System.setProperty("graft.cogroup.maxProbes", "1")
    try {
      val rSalted = run()
      assert(BoundedSearch.lastScanRoute.get() == "cogroup")
      System.clearProperty("graft.cogroup.maxProbes")
      val rJoin = run()
      assert(BoundedSearch.lastScanRoute.get() == "fused")
      assert(rSalted.sameElements(rJoin))
    } finally {
      System.clearProperty("graft.cogroup.maxProbes")
      System.clearProperty("graft.join.minProbedRows")
    }
  }
}
