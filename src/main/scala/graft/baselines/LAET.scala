package graft.baselines

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.IVFModel
import graft.profile.ProfileTrainer
import graft.search.IVFSearch

/** LAET baseline (SIGMOD'20 learned early termination,
  * `LAET/IndexIVF.cpp:469-760`, `LAET/benchs/learned_termination/`):
  * a GBDT regressor predicts each query's required probe count from
  * cheap features — the query's nearest-centroid distances plus the
  * intermediate top-k distances after probing one list — trained
  * against the minimal power-of-2 stage that reaches the target recall
  * on ground truth. MLlib GBTRegressor stands in for LightGBM.
  *
  * This is the average-case baseline Auncel's error profile is compared
  * against: no per-query guarantee, just a learned point estimate.
  */
object LAET {

  /** @param cpStages 0 = the coarse feature set (coarse distances +
    *   ratios + stage-0 top-k); > 0 = the reference-parity rich set
    *   ([[richFeatures]]) with intermediate-result blocks at power-of-2
    *   checkpoints 2^0 .. 2^cpStages. */
  final case class Model(gbt: GBTRegressionModel, levels: Int, nCoarse: Int,
                         cpStages: Int = 0)
      extends Serializable

  private val Eps = 1e-10 // LAET/IndexIVF.cpp:570 `eps`, div-by-zero guard

  private def features(coarse: Array[Float], stage1: Array[Double],
                       nCoarse: Int, k: Int): Array[Double] = {
    val cd = Array.tabulate(nCoarse)(i =>
      if (i < coarse.length) coarse(i).toDouble else coarse.last.toDouble)
    val ratios = cd.map(d => if (cd(0) > 0) d / cd(0) else 1.0)
    val inter = Array.tabulate(k)(i =>
      if (i < stage1.length) stage1(i) else
        (if (stage1.nonEmpty) stage1.last else 0.0))
    cd ++ ratios ++ inter
  }

  /** The checkpoint-feature extension of the learned-termination input
    * (`LAET/IndexIVF.cpp:644-673` search_mode=2): the coarse feature
    * set plus, per power-of-2 checkpoint j ≤ cpStages, the reference's
    * four intermediate-result features — top1, top-k'th, top1/top-k'th,
    * top1/cd0 (`IndexIVF.cpp:665-669`) — computed from the staged
    * top-k AFTER probing 2^j lists (exactly the trace stages), plus
    * its ten evenly-spaced coarse-distance ratios cd(x·n/10)/cd(0)
    * (`j*10-1`, rescaled from its fixed 100 candidate clusters to
    * nlist). The reference also feeds the raw query vector; that term
    * only pays off in its million-query training regime and is noise
    * at profile-sized training sets, so it is deliberately omitted. */
  private def richFeatures(qv: Array[Float], coarseAll: Array[Float],
                           stages: Map[Int, Array[Double]], nCoarse: Int,
                           k: Int, cpStages: Int): Array[Double] = {
    val n = coarseAll.length
    val cd0 = coarseAll(0).toDouble
    val ratios10 = Array.tabulate(10) { x =>
      val r = math.max(0, math.min(n - 1, (x + 1) * n / 10 - 1))
      coarseAll(r).toDouble / (cd0 + Eps)
    }
    val blocks = (0 to cpStages).flatMap { j =>
      val d = stages.getOrElse(j, Array.empty[Double])
      val top1 = if (d.nonEmpty) d.head else 0.0
      val topK = if (d.length >= k) d(k - 1) else if (d.nonEmpty) d.last else 0.0
      Array(top1, topK, top1 / (topK + Eps), top1 / (cd0 + Eps))
    }
    features(coarseAll.take(nCoarse), stages.getOrElse(0, Array.empty),
      nCoarse, k) ++ ratios10 ++ blocks
  }

  /** Train on (query, GT) pairs: label = log2 of the minimal stage whose
    * staged top-k reaches `targetRecall` (distance-threshold recall). */
  def train(ivfData: DataFrame, model: IVFModel, trainQueries: DataFrame,
            gt: DataFrame, k: Int, targetRecall: Double,
            seed: Long = 42L, nCoarse: Int = 10, cpStages: Int = 0): Model = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val levels = ProfileTrainer.numLevels(model.nlist)

    val staged = ProfileTrainer.stagedTopK(ivfData, model, trainQueries, k)
      .as[(Long, Int, Array[Double])].collect()
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).toMap).toMap
    val gtKth: Map[Long, Double] = gt.filter(col("rank") === k)
      .select(col("qid").cast("long"), col("dist"))
      .as[(Long, Double)].collect().toMap
    val q = trainQueries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect()

    val rows = q.flatMap { case (qid, v) =>
      for {
        stages <- staged.get(qid)
        kth <- gtKth.get(qid)
      } yield {
        val label = (0 until levels).find { j =>
          stages.get(j).exists { dists =>
            dists.count(_ <= kth * 1.0005) >= targetRecall * k
          }
        }.getOrElse(levels).toDouble
        val f =
          if (cpStages > 0)
            richFeatures(v, model.rankCentroids(v).map(_._2), stages, nCoarse, k, cpStages)
          else {
            val coarse = model.rankCentroids(v).take(nCoarse).map(_._2)
            features(coarse, stages.getOrElse(0, Array.empty), nCoarse, k)
          }
        (Vectors.dense(f), label)
      }
    }.toSeq.toDF("features", "label")

    val gbt = new GBTRegressor().setMaxIter(30).setMaxDepth(5).setSeed(seed)
      .setFeaturesCol("features").setLabelCol("label")
    Model(gbt.fit(rows), levels, nCoarse, cpStages)
  }

  /** Predict per-query nprobe (2^ceil(pred), clamped to [1, nlist]):
    * probe the checkpoint lists for the intermediate-distance features,
    * predict, then search with the per-query budget — the LAET
    * `search_mode=2` flow. A rich model (cpStages > 0) has already
    * probed 2^cpStages lists for its features, so its budget never
    * drops below that (the reference likewise continues from the
    * checkpoint it predicted at, `IndexIVF.cpp:655-690`). */
  def search(ivfData: DataFrame, model: IVFModel, laet: Model,
             queries: DataFrame, k: Int): (DataFrame, Map[Long, Int]) = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)

    val stagesByQ: Map[Long, Map[Int, Array[Double]]] =
      ProfileTrainer.stagedTopK(ivfData, model, queries, k)
        .filter(col("stage") <= laet.cpStages)
        .select(col("qid").cast("long"), col("stage"), col("dists"))
        .as[(Long, Int, Array[Double])].collect()
        .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).toMap).toMap

    val floor = if (laet.cpStages > 0) laet.cpStages else 0
    val nprobes: Map[Long, Int] = q.map { case (qid, v) =>
      val stages = stagesByQ.getOrElse(qid, Map.empty[Int, Array[Double]])
      val lvl = math.max(floor, predictLevel(laet, model, v, stages, k))
      (qid, math.min(model.nlist, 1 << lvl))
    }.toMap

    (searchPerQueryNprobe(ivfData, model, queries, k, nprobes), nprobes)
  }

  /** The raw predicted stage (ceil of the GBT output, clamped to
    * [0, levels]) BEFORE the execution floor [[search]] applies for
    * already-probed checkpoint lists — the quantity to compare across
    * feature sets. */
  def predictLevel(laet: Model, model: IVFModel, v: Array[Float],
                   stages: Map[Int, Array[Double]], k: Int): Int = {
    val f =
      if (laet.cpStages > 0)
        richFeatures(v, model.rankCentroids(v).map(_._2), stages,
          laet.nCoarse, k, laet.cpStages)
      else {
        val coarse = model.rankCentroids(v).take(laet.nCoarse).map(_._2)
        features(coarse, stages.getOrElse(0, Array.empty), laet.nCoarse, k)
      }
    math.min(laet.levels,
      math.max(0, math.ceil(laet.gbt.predict(Vectors.dense(f))).toInt))
  }

  /** LAET `search_mode=3` heuristic (`LAET/IndexIVF.cpp:696-710`): no
    * learned model — probe every cluster whose coarse distance is at
    * most d(q, nearest centroid) × multiplierPct/100, scanning the
    * ranked candidates in order and stopping at the first that exceeds
    * the threshold, capped at nlist/5 candidates. The non-learned
    * baseline of the LAET comparison family. */
  def searchHeuristic(ivfData: DataFrame, model: IVFModel, queries: DataFrame,
                      k: Int, multiplierPct: Double): (DataFrame, Map[Long, Int]) = {
    // The reference path is L2-only: with ip, coarse distances are
    // negative, so multiplierPct > 100 would TIGHTEN the threshold and
    // collapse nprobe to 1 — refuse rather than silently degrade.
    require(model.metric == "l2",
      s"searchHeuristic supports metric=l2 only (got ${model.metric})")
    val spark = ivfData.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val cap = math.max(1, model.nlist / 5)
    val nprobes: Map[Long, Int] = q.map { case (qid, v) =>
      val qv = if (model.metric == "ip") Kernels.l2Normalize(v) else v
      val ranked = model.rankCentroids(qv).take(cap)
      val thresh = ranked(0)._2 * multiplierPct / 100.0
      var np = 0
      var j = 0
      var stop = false
      while (j < ranked.length && !stop) {
        if (ranked(j)._2 <= thresh) np = j + 1 else stop = true
        j += 1
      }
      (qid, math.max(1, np))
    }.toMap
    (searchPerQueryNprobe(ivfData, model, queries, k, nprobes), nprobes)
  }

  /** Fixed-plan IVF search where each query has its own nprobe (1 when
    * absent from `nprobes`) — [[IVFSearch.searchNprobes]] keyed by qid. */
  def searchPerQueryNprobe(ivfData: DataFrame, model: IVFModel,
                           queries: DataFrame, k: Int,
                           nprobes: Map[Long, Int]): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    IVFSearch.searchNprobes(ivfData, model, q, k,
      q.map { case (qid, _) => nprobes.getOrElse(qid, 1) })
  }
}
