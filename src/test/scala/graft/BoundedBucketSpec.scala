package graft

import org.apache.spark.sql.functions._
import graft.index.{IVFIndex, IndexCache}
import graft.profile.ProfileTrainer
import graft.search.{BoundedSearch, FlatSearch}

/** The layout metadata and materialization of bounded search over a
  * `list_no`-partitioned IVF table: the per-list sizes are memoized and
  * persisted beside the model, so repeat and reloaded searches run no
  * size job; the row count behind a resident-list store's estimate is
  * counted once per table, even when the store does not fit; and the
  * distributed rounds take a reliable checkpoint when the SparkContext
  * has a checkpoint dir, with the same rows and decisions as without. */
class BoundedBucketSpec extends SparkSpec {

  val d = 24
  val k = 10
  val nlist = 32

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

  /** The assigned table written partitioned by list_no, read back. */
  lazy val partitioned: org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("ivf_part").toString
    IVFIndex.write(assigned, dir)
    spark.read.parquet(dir)
  }

  private def queries(from: Int, until: Int) = {
    import spark.implicits._
    pool.slice(from, until).zipWithIndex
      .map { case (v, i) => (i.toLong, v, 0.85f) }
      .toSeq.toDF("qid", "vec", "required_recall")
  }

  /** Runs `body` and returns how many `count` actions it ran directly
    * over `tbl`, seen by a QueryExecutionListener. Delivery is async but
    * in order, so a sentinel `head` over `tbl` at the end proves that
    * every earlier action has been seen. */
  private def tableCounts(tbl: org.apache.spark.sql.DataFrame)(body: => Unit): Int = {
    val target = tbl.queryExecution.analyzed
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        // a corpus count is count(1) DIRECTLY over the table — the
        // search's own result/ctrl counts aggregate derived plans and
        // must not match
        qe.analyzed match {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
              if funcName == "count" && a.child.sameResult(target) =>
            counted.incrementAndGet(); ()
          case p if funcName == "head" &&
              p.find(_.sameResult(target)).isDefined =>
            sentinel.countDown()
          case _ => ()
        }
      override def onFailure(funcName: String, qe:
          org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      tbl.head(1)
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel action never observed by the listener")
    } finally spark.listenerManager.unregister(listener)
    counted.get()
  }

  test("list sizes are layout metadata: repeat searches run no count job") {
    val qdf = queries(3150, 3166)
    val tbl = partitioned
    def go(): Unit =
      BoundedSearch.search(tbl, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
        .results.count()
    go() // may pay the memo's one size job
    val before = IndexCache.listSizeComputes.get()
    // QueryExecutionListener-level proof on top of the memo counter: no
    // count action over the corpus table during repeat searches
    assert(tableCounts(tbl) { go(); go() } == 0,
      "repeat searches must run no count over the table")
    assert(IndexCache.listSizeComputes.get() == before,
      "repeat search must reuse the memoized list sizes")
  }

  test("a table too large for a store is counted once, not on every search") {
    val qdf = queries(3150, 3166)
    val tbl = partitioned
    def go(): Unit =
      BoundedSearch.search(tbl, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f).results.count()
    val prevPool = IndexCache.storePool
    IndexCache.storePool = _ => 0L
    try {
      IndexCache.invalidate(tbl)
      // the first search sizes the store it cannot build: one count
      assert(tableCounts(tbl)(go()) == 1,
        "the first search must count the table once for its store estimate")
      assert(tableCounts(tbl)(go()) == 0,
        "a repeat search must reuse the memoized row count")
      // invalidate retires the memoized count with the table's other memos
      IndexCache.invalidate(tbl)
      assert(tableCounts(tbl)(go()) == 1,
        "invalidate must force one fresh count")
    } finally {
      IndexCache.storePool = prevPool
      IndexCache.invalidate(tbl)
    }
  }

  test("distributed rounds take a reliable checkpoint when a checkpoint dir is set") {
    val qdf = queries(3150, 3200)
    def run() = {
      val r = BoundedSearch.search(partitioned, model, traces, qdf, k,
        multiplier = 8.0f, stdM = 1.5f, forceDistributed = true)
      (r.results.select(col("qid").cast("long"), col("rank").cast("int"),
          col("id").cast("long"), col("dist").cast("double"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
        .sortBy(x => (x._1, x._2)).toSeq,
        r.stats.sortBy(_.qid))
    }
    def files(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum
      else 1
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("bounded_ckpt").toFile
    sc.setCheckpointDir(null)
    val (localRows, localStats) = run()
    assert(files(dir) == 0)
    sc.setCheckpointDir(dir.getPath)
    try {
      val (ckptRows, ckptStats) = run()
      assert(ckptRows == localRows, "checkpointed rows differ")
      assert(ckptStats == localStats, "checkpointed decisions differ")
      assert(files(dir) > 0, "the checkpoint dir gained no files")
    } finally sc.setCheckpointDir(prev.orNull)
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
      // FIRST distributed search run zero size jobs
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
}
