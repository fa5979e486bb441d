package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.{IVFIndex, IVFModel, IndexCache}
import graft.operators.TopK
import graft.profile.ErrorProfile.Trace
import graft.profile.ProfileTrainer
import graft.search.{BoundedSearch, FlatSearch, IVFSearch}

/** Seeded Gaussian-mixture vectors, identical on the driver and in
  * executor UDFs. Each id picks a cluster by hash; its vector is that
  * cluster's centre plus `sigma` noise. */
object VecGen {
  def mix(x: Long): Long = {
    var h = x * 0x9E3779B97F4A7C15L
    h ^= h >>> 32; h *= 0xD6E8FEB86659FD93L; h ^= h >>> 32
    h
  }
  def vec(seed: Long, id: Long, d: Int, clusters: Int, sigma: Double): Array[Float] = {
    val c = Math.floorMod(mix(seed ^ mix(id + 1)), clusters.toLong)
    val centre = new java.util.Random(mix(seed * 7919L + c))
    val noise = new java.util.Random(mix(seed * 31L + id * 2654435761L))
    Array.fill(d)((centre.nextGaussian() + sigma * noise.nextGaussian()).toFloat)
  }
}

/** `search-small`: error-bounded IVF search, one client in a closed
  * loop sending batches of 256 queries. Batches this small take the
  * driver-decided staged rounds (nlist 128 gives 5 staged levels; the
  * eager one-pass scan serves only 4 or fewer), so per-round fixed cost
  * (jobs, driver decisions) dominates.
  *
  * Every query carries its own `required_recall` from {0.8, 0.9, 0.95}.
  * Queries come from a fixed pool whose exact top-k is computed once
  * with `FlatSearch.knn` before any timing, and every query is audited.
  * The corpus is spread (1,024 clusters, sigma 0.6) so that recall
  * stays below 1.0 and the recall metrics can see a search that stops
  * early.
  */
final class SearchWorkload(spark: SparkSession, a: Main.Args, spans: Spans)
    extends Workload {
  import spark.implicits._

  val d = 64
  val k = 10
  val nlist = 128
  val clusters = 1024
  val sigma = 0.6
  val n = 50000L
  val poolSize = 512
  val trainQ = 200
  val nq = 256
  val requires = Array(0.8f, 0.9f, 0.95f)
  /** The fixed calibration pair (multiplier, stdM). */
  val (calM, calS) = (4.0f, 1.0f)

  /** Each build is 10–20 s, mostly k-means; two keep a run inside the
    * benchmark's time budget. */
  val setups = 2
  val warmMin = 3
  val warmWindow = 2

  private val seed = a.seed
  private def gen(id: Long): Array[Float] = VecGen.vec(seed, id, d, clusters, sigma)
  private val poolBase = n
  private val trainBase = n + poolSize

  private var corpus: DataFrame = _
  private var pool: Array[Array[Float]] = _
  private var gtIds: Array[Array[Long]] = _
  private var gtDists: Array[Array[Double]] = _
  private var sample: Array[Array[Float]] = _

  private var model: IVFModel = _
  private var ivf: DataFrame = _
  private var ivfPath: String = _
  private var traces: Array[Trace] = _

  def generate(): Unit = {
    val (dd, cl, sg, sd) = (d, clusters, sigma, seed)
    val genU = udf((id: Long) => VecGen.vec(sd, id, dd, cl, sg))
    corpus = spark.range(n).select(col("id"), genU(col("id")).as("vec")).cache()
    corpus.count()
    pool = Array.tabulate(poolSize)(i => gen(poolBase + i))
    val gt = FlatSearch.knn(corpus, poolFrame(0 until poolSize), k)
      .select(col("qid"), col("id"), col("dist"), col("rank"))
      .as[(Long, Long, Double, Int)].collect()
    gtIds = Array.fill(poolSize)(new Array[Long](k))
    gtDists = Array.fill(poolSize)(new Array[Double](k))
    gt.foreach { case (q, id, dist, r) =>
      gtIds(q.toInt)(r - 1) = id; gtDists(q.toInt)(r - 1) = dist
    }
    sample = corpus.limit(4096).select(col("vec")).as[Array[Float]].collect()
  }

  private def poolFrame(idx: Seq[Int]): DataFrame =
    idx.map(i => (i.toLong, pool(i))).toDF("qid", "vec")

  /** Index build as a user runs it: k-means on a sample, assign and
    * write the `list_no`-partitioned table, then train the error
    * profile with its own exact ground-truth scan. */
  def setup(rep: Int): Unit = {
    // the sample rule of the repository's scale demo: a few hundred
    // points per centroid, not the whole corpus
    val frac = math.min(0.25, math.max(0.05, 800.0 * nlist / n))
    model = spans("IVFIndex.train") {
      IVFIndex.train(corpus.sample(frac, seed), nlist, seed = seed)
    }
    ivfPath = s"${a.work}/ivf-$rep"
    spans("IVFIndex.assign+write") {
      IVFIndex.write(spans("IVFIndex.assign")(IVFIndex.assign(corpus, model)), ivfPath)
    }
    ivf = spark.read.parquet(ivfPath)
    val tq = (0 until trainQ).map(i => (i.toLong, gen(trainBase + i))).toDF("qid", "vec")
    traces = spans("profile") {
      val gt = spans("FlatSearch.knn")(FlatSearch.knn(corpus, tq, k))
      spans("ProfileTrainer.train")(ProfileTrainer.train(ivf, model, tq, gt, k))
    }
  }

  // the current batch: its pool indices, their requirements, the
  // query frame, and what the search returned
  private var bPool: Array[Int] = _
  private var bReq: Array[Float] = _
  private var bFrame: DataFrame = _
  private var bRows: Array[(Long, Long, Double, Int)] = _
  private var bStats: Seq[BoundedSearch.QueryStats] = Nil

  def prepare(b: Int): Unit = {
    val rnd = new scala.util.Random(VecGen.mix(seed * 1000003L + b))
    bPool = rnd.shuffle((0 until poolSize).toVector).take(nq).toArray
    bReq = Array.fill(nq)(requires(rnd.nextInt(requires.length)))
    bFrame = bPool.indices.map(i => (bPool(i).toLong, pool(bPool(i)), bReq(i)))
      .toDF("qid", "vec", "required_recall")
  }

  def run(b: Int): Long = {
    val res = spans("BoundedSearch.search") {
      BoundedSearch.search(ivf, model, traces, bFrame, k, multiplier = calM, stdM = calS)
    }
    bRows = owned("search.BoundedSearch")(collectRows(res.results))
    bStats = res.stats
    nq.toLong
  }

  private def owned[A](owner: String)(body: => A): A =
    JobMeter.owned(spark.sparkContext, owner)(body)

  private def collectRows(df: DataFrame): Array[(Long, Long, Double, Int)] =
    df.select(col("qid").cast("long"), col("id").cast("long"),
      col("dist").cast("double"), col("rank").cast("int"))
      .as[(Long, Long, Double, Int)].collect()

  // per query, over every checked batch
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val required = mutable.ArrayBuffer.empty[Double]
  private val auditPool = mutable.ArrayBuffer.empty[Int]
  private val auditNprobe = mutable.ArrayBuffer.empty[Int]
  private val auditPredicted = mutable.ArrayBuffer.empty[Double]
  private val allStats = mutable.ArrayBuffer.empty[BoundedSearch.QueryStats]

  def check(b: Int): Option[String] = {
    val r = verify(bRows)
    if (r.isEmpty) {
      val st = bStats.map(s => s.qid -> s).toMap
      allStats ++= bStats
      bPool.indices.foreach { i =>
        auditPool += bPool(i)
        auditNprobe += st(bPool(i).toLong).nprobeUsed
        auditPredicted += st(bPool(i).toLong).predictedRecall
      }
    }
    r
  }

  /** The search-result checks: every query is answered with exactly k
    * ranked rows, never closer than the exact top-k at any rank, that
    * agree with it bit-for-bit on shared ids; and the batch's mean
    * recall reaches its mean required recall. Records each query's
    * recall. */
  private def verify(rows: Array[(Long, Long, Double, Int)]): Option[String] = {
    val byQ = rows.groupBy(_._1)
    if (byQ.size != nq) return Some(s"${byQ.size} of $nq queries answered")
    val bad = byQ.find { case (_, rs) =>
      val s = rs.sortBy(_._4)
      s.length != k || s.indices.exists(i => s(i)._4 != i + 1) ||
        (1 until k).exists(i => s(i)._3 < s(i - 1)._3)
    }
    bad.foreach { case (q, _) => return Some(s"query $q: not $k ranked rows") }
    val rec = bPool.indices.map { i =>
      val p = bPool(i)
      val got = byQ(p.toLong).sortBy(_._4)
      val exact = gtIds(p).zip(gtDists(p)).toMap
      got.indices.foreach { r =>
        if (got(r)._3 < gtDists(p)(r) * (1 - 1e-9))
          return Some(s"query $p rank ${r + 1}: closer than the exact top-k")
        exact.get(got(r)._2).foreach { ed =>
          if (ed != got(r)._3) return Some(s"query $p id ${got(r)._2}: distance mismatch")
        }
      }
      got.count(g => exact.contains(g._2)).toDouble / k
    }
    val meanReq = bReq.map(_.toDouble).sum / nq
    recalls ++= rec
    required ++= bReq.map(_.toDouble)
    if (rec.sum / rec.length < meanReq)
      Some(f"mean recall ${rec.sum / rec.length}%.4f below mean required $meanReq%.4f")
    else None
  }

  def quality(): Map[String, Val] = {
    val misses = recalls.indices.count(i => recalls(i) < required(i))
    Map(
      "recall_mean" -> Num(recalls.sum / recalls.length, "ratio"),
      "recall_min" -> Num(recalls.min, "ratio"),
      "bound_miss_rate" -> Num(misses.toDouble / recalls.length, "ratio"))
  }

  def layers(ts: TraceSummary): Map[String, Val] = {
    val levels = traces.length
    val cap = 1 << (levels - 1)
    val tracedQueries = ts.accs.length.toDouble * nq
    val sizes = IndexCache.listSizes(ivf)
    val scanned = auditPool.indices.map { i =>
      model.rankCentroids(pool(auditPool(i))).take(auditNprobe(i))
        .map(l => sizes.getOrElse(l._1.toLong, 0L)).sum.toDouble
    }
    Map(
      "search.jobs_per_batch" -> Num(ts.perBatch(_.jobs), "count"),
      "search.stages_per_batch" -> Num(ts.perBatch(_.stages), "count"),
      "search.idle_s_per_batch" -> Num(ts.idlePerBatch, "s"),
      "search.task_s_per_query" -> Num(ts.taskS / tracedQueries, "s"),
      "search.shuffle_bytes_per_query" ->
        Num(ts.accs.map(_.shuffleBytes).sum / tracedQueries, "B"),
      "search.core_busy" -> Num(ts.coreBusy, "ratio"),
      "search.nprobe_mean" -> Num(meanOf(allStats.map(_.nprobeUsed.toDouble)), "count"),
      "search.rounds_mean" -> Num(meanOf(allStats.map(s =>
        (Integer.numberOfTrailingZeros(s.decidedAtStage) + 1).toDouble)), "count"),
      "search.capped_share" -> Num(meanOf(allStats.map(s =>
        if (s.decidedAtStage >= cap) 1.0 else 0.0)), "ratio"),
      "search.scanned_per_query" -> Num(meanOf(scanned), "count"),
      "profile.overprobe_ratio" -> Num(overprobe(), "ratio"),
      "profile.predicted_minus_achieved" -> Num(meanOf(
        auditPredicted.indices.map(i => auditPredicted(i) - recalls(i))), "ratio"),
      "profile.train_s" -> Num(medianSpan("profile"), "s"),
      "index.train_s" -> Num(medianSpan("IVFIndex.train"), "s"),
      "index.assign_write_s" -> Num(medianSpan("IVFIndex.assign+write"), "s"),
      "index.table_bytes" -> Num(dirBytes(ivfPath).toDouble, "B"),
      "functions.l2_ns_per_dim" -> Num(l2NsPerDim(), "ns"),
      "operators.topk_ns_per_add" -> Num(topkNsPerAdd(), "ns"),
      "ops.PreparePipeline.task_s" -> Num(ts.ownerTaskS("ops.PreparePipeline"), "s"),
      "ops.Components.task_s" -> Num(ts.ownerTaskS("ops.Components"), "s"),
      "ops.Components.jobs" -> Num(ts.ownerJobs("ops.Components"), "count"),
      "ops.SequencePack.task_s" -> Num(ts.ownerTaskS("ops.SequencePack"), "s"),
      "ops.shuffle_bytes" -> Num(0, "B"),
      "ops.spill_bytes" -> Num(0, "B"),
      "ops.core_busy" -> Num(0, "ratio"))
  }

  private def meanOf(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length

  private def medianSpan(name: String): Double = {
    val s = spans.named(name).map(_.seconds).sorted
    if (s.isEmpty) 0.0 else s(s.length / 2)
  }

  private def dirBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  /** Mean over audited queries of nprobe used ÷ the smallest staged
    * nprobe whose partial top-k already reaches the query's required
    * recall. Queries no stage satisfies are left out. */
  private def overprobe(): Double = {
    val distinct = auditPool.distinct.sorted
    val staged = ProfileTrainer.stagedTopK(ivf, model, poolFrame(distinct.toSeq), k)
      .select(col("qid").cast("long"), col("stage"), col("dists"))
      .as[(Long, Int, Array[Double])].collect()
    val recallAt: Map[Int, Array[Double]] = staged.groupBy(_._1.toInt).map {
      case (q, rs) =>
        val kth = gtDists(q)(k - 1)
        val byStage = new Array[Double](traces.length)
        rs.foreach { case (_, s, ds) =>
          byStage(s) = math.min(k, ds.count(_ <= kth)).toDouble / k
        }
        q -> byStage
    }
    val ratios = auditPool.indices.flatMap { i =>
      val st = recallAt(auditPool(i))
      st.indices.find(s => st(s) >= required(i))
        .map(s => auditNprobe(i).toDouble / (1 << s))
    }
    meanOf(ratios)
  }

  @volatile private var sink = 0.0

  /** Median of five timed passes after three warm passes. */
  private def timedPasses(body: => Unit): Double = {
    (0 until 3).foreach(_ => body)
    (0 until 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    }.sorted.apply(2)
  }

  /** `Kernels.l2Sqr` over pool queries × corpus vectors. */
  private def l2NsPerDim(): Double = {
    val qs = pool.take(64)
    val ns = timedPasses {
      var s = 0.0
      var i = 0
      while (i < qs.length) {
        var j = 0
        while (j < sample.length) { s += Kernels.l2Sqr(qs(i), sample(j)); j += 1 }
        i += 1
      }
      sink += s
    }
    ns / (qs.length.toDouble * sample.length * d)
  }

  /** `TopK.add` (k = 10) over the same query-to-corpus distances, one
    * heap per query, in corpus order. */
  private def topkNsPerAdd(): Double = {
    val qs = pool.take(64)
    val dists = qs.map(q => sample.map(v => Kernels.l2Sqr(q, v)))
    val ns = timedPasses {
      var i = 0
      while (i < dists.length) {
        val h = new TopK(k)
        val ds = dists(i)
        var j = 0
        while (j < ds.length) { h.add(ds(j), j.toLong); j += 1 }
        sink += h.worst
        i += 1
      }
    }
    ns / (qs.length.toDouble * sample.length)
  }

  /** Runs one batch through a fixed nprobe-1 IVF search and applies
    * the same checks, which must fail. */
  def selfTest(): mutable.Map[String, Val] = {
    generate()
    setup(0)
    prepare(0)
    bRows = collectRows(IVFSearch.search(ivf, model, bFrame.drop("required_recall"), k, 1))
    val r = verify(bRows)
    mutable.Map(
      "selftest_check_failed" -> Raw(r.isDefined.toString),
      "selftest_reason" -> Raw(Json.str(r.getOrElse(""))),
      "recall_mean" -> Num(recalls.sum / recalls.length, "ratio"))
  }
}
