package graft.profile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.IVFModel
import graft.search.IVFSearch
import graft.profile.ErrorProfile.Trace

/** Offline error-profile training (`Error_sys::sys_train`
  * `Auncel/profile.cpp:88-171` + the capture block
  * `Auncel/IndexIVF.cpp:640-673`) as a Spark batch pipeline:
  *
  *  1. run the training queries over the IVF table, capturing the
  *     partial top-k at every power-of-2 probe stage ≤ nlist/8 — done in
  *     ONE scan: each base row enters the heap of the stage at which its
  *     list is first probed, and stage s's top-k is the merged union of
  *     partials from stages ≤ s;
  *  2. per (query, stage): compute (φ, U) points against the exact
  *     ground truth (`kscaling`), φ from the query's boundary distances;
  *  3. sort-and-batch each stage's points into a monotone Trace
  *     (bucket size bs=250, per-bucket σ — `Trace::SB`).
  *
  * The traces are tiny (≤ train_n·k/4 points pre-batching) and live
  * broadcast afterwards. For very large training batches, chunk the
  * query set — per-partition heap state is O(nq · k · levels).
  */
object ProfileTrainer {

  /** Number of power-of-2 probe levels: nprobe ∈ {1, 2, …, nlist/8}
    * (`Auncel/IndexIVF.cpp:208-220`). */
  def numLevels(nlist: Int): Int = {
    var j = 0
    while ((1 << (j + 1)) <= nlist / 8) j += 1
    j + 1
  }

  /** The staged-capture scan shared by profile training and the LAET
    * baseline: per (query, power-of-2 stage) the sorted partial top-k
    * distance list, computed in ONE pass over the probed lists.
    * @return (qid LONG, stage INT, dists ARRAY<DOUBLE> ascending) */
  def stagedTopK(ivfData: DataFrame, model: IVFModel, trainQueries: DataFrame,
                 maxTopk: Int, chunkQueries: Int = 8192): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val nlist = model.nlist
    val levels = numLevels(nlist)
    val maxRank = 1 << (levels - 1)
    val q: Array[(Long, Array[Float])] = trainQueries
      .select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val qVecs = q.map { case (qid, v) =>
      (qid, if (model.metric == "ip") Kernels.l2Normalize(v) else v)
    }
    val ranks = IVFSearch.rankTop(spark, model, qVecs, maxRank)
    stagedTopKImpl(ivfData, model, qVecs, ranks, maxTopk, levels,
      chunkQueries)
  }

  /** @param ivfData      (id, vec, list_no)
    * @param trainQueries (qid, vec)
    * @param gt           exact ground truth (qid, id, dist, rank) with
    *                     rank 1..maxTopk — e.g. FlatSearch.knn output
    * @param maxTopk      k used for profiling (the map granularity is
    *                     maxTopk/4 points per query per stage)
    */
  def train(ivfData: DataFrame, model: IVFModel, trainQueries: DataFrame,
            gt: DataFrame, maxTopk: Int, bs: Int = 250): Array[Trace] = {
    val spark = ivfData.sparkSession
    import spark.implicits._

    val nlist = model.nlist
    val levels = numLevels(nlist)
    val maxRank = 1 << (levels - 1) // nlist/8 lists probed at the deepest stage

    val q: Array[(Long, Array[Float])] = trainQueries
      .select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val qVecs = q.map { case (qid, v) =>
      (qid, if (model.metric == "ip") Kernels.l2Normalize(v) else v)
    }

    // per-query centroid rank prefix (boundary geometry reads
    // nlist/8 + 20, the staged scan nlist/8) → boundary distances;
    // ranking fans out for large training batches (rankTop)
    val ranks: Array[Array[(Int, Float)]] = IVFSearch.rankTop(
      spark, model, qVecs, math.max(maxRank, nlist / 8 + 20))
    val dBs: Array[Array[Float]] = ranks.map { r =>
      ErrorProfile.boundaryDistances(r.map(_._2), r.map(_._1), model.interdisAt, nlist)
    }

    val metric = model.metric
    val k = maxTopk
    val stageTopk = stagedTopKImpl(ivfData, model, qVecs, ranks, maxTopk,
      levels)

    // (φ, U) point generation against ground truth
    val gtByQid: Map[Long, Array[Float]] = gt
      .select(col("qid").cast("long"), col("dist"), col("rank"))
      .as[(Long, Double, Int)].collect()
      .groupBy(_._1).map { case (qid, xs) =>
        (qid, xs.sortBy(_._3).map(x => rawDist(metric, x._2)))
      }
    val qidToIdx: Map[Long, Int] = qVecs.map(_._1).zipWithIndex.toMap
    val bGt = spark.sparkContext.broadcast(gtByQid)
    val bDb = spark.sparkContext.broadcast(dBs)
    val bQidIdx = spark.sparkContext.broadcast(qidToIdx)

    val points: Array[(Int, Float, Float)] = stageTopk
      .select(col("qid").cast("long"), col("stage"), col("dists"))
      .as[(Long, Int, Array[Double])]
      .flatMap { case (qid, stage, dists) =>
        val gtd = bGt.value(qid)
        val dB = bDb.value(bQidIdx.value(qid))
        genPoints(metric, stage, dists, gtd, dB, k)
      }.collect()

    (0 until levels).map { j =>
      val pts = points.filter(_._1 == j).map { case (_, phi, u) => (phi, u) }.toSeq
      Trace.sortAndBatch(1 << j, pts, bs)
    }.toArray
  }

  /** One scan ([[stagedProbeMap]] slots through the shared
    * probed-list kernel): per-partition, per (query, first-probed-stage)
    * bounded heaps; stage s top-k = window top-k over partials with
    * j0 ≤ s. Per-partition heap state is O(nq · levels · k), so training
    * batches beyond `chunkQueries` are processed in chunks (bounded
    * memory, one extra scan per chunk) and unioned. */
  private def stagedTopKImpl(ivfData: DataFrame, model: IVFModel,
                             qVecs: Array[(Long, Array[Float])],
                             ranks: Array[Array[(Int, Float)]], maxTopk: Int,
                             levels: Int, chunkQueries: Int = 8192): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    if (qVecs.length > chunkQueries) {
      return qVecs.indices.grouped(chunkQueries).map { idxs =>
        stagedTopKImpl(ivfData, model, idxs.map(qVecs).toArray,
          idxs.map(ranks).toArray, maxTopk, levels, chunkQueries)
      }.reduce(_ unionByName _)
    }
    val k = maxTopk
    val bqids = spark.sparkContext.broadcast(qVecs.map(_._1))
    val partials = IVFSearch.scanVectors(ivfData, model.metric,
      qVecs.map(_._2), stagedProbeMap(ranks, levels), k, levels)
      .mapPartitions { it =>
        val qids = bqids.value
        it.map { case (slot, id, d) => (qids(slot / levels), slot % levels, id, d) }
      }
      .toDF("qid", "j0", "id", "dist")

    val stages = (0 until levels).toArray
    val exploded = partials.withColumn("stage",
      explode(filter(lit(stages), s => s >= col("j0"))))
    val w = Window.partitionBy(col("qid"), col("stage"))
      .orderBy(col("dist"), col("id"))
    exploded
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy(col("qid"), col("stage"))
      .agg(sort_array(collect_list(col("dist"))).as("dists"))
  }

  /** The staged probe map of the capture: each query's first
    * 2^(levels−1) ranked lists, the list at 0-based rank ri entering the
    * slot of the stage at which it is first probed, j0 = ⌈log2(ri + 1)⌉ —
    * slot `qi · levels + j0`. Stage s's top-k is then the merge of a
    * query's slots j0 ≤ s. */
  private def stagedProbeMap(ranks: Array[Array[(Int, Float)]],
                             levels: Int): Map[Int, Array[Int]] = {
    val maxRank = 1 << (levels - 1)
    IVFSearch.byList(ranks.indices.flatMap { qi =>
      ranks(qi).iterator.take(maxRank).zipWithIndex.map { case ((l, _), ri) =>
        var j0 = 0
        while ((1 << j0) < ri + 1) j0 += 1
        (l, qi * levels + j0)
      }
    })
  }

  /** Persist traces as a small Parquet model table — a model artifact
    * like centroids/codebooks (SURVEY §1.1). Rows are keyed by `level`
    * (nprobe = 2^level); an empty level writes a sentinel row
    * (bucket = -1) so the round-trip preserves the level→nprobe
    * alignment that BoundedSearch derives from the array index. */
  def saveTraces(traces: Array[Trace], path: String,
                 spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    traces.zipWithIndex.flatMap { case (t, level) =>
      if (t.phis.isEmpty) Seq((level, t.nprobe, -1, 0f, 0f, 0f))
      else t.phis.indices.map { i =>
        (level, t.nprobe, i, t.phis(i), t.us(i), t.stds(i))
      }
    }.toSeq.toDF("level", "nprobe", "bucket", "phi", "u", "std")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load traces; fails loudly on missing levels rather than silently
    * shifting the level→nprobe mapping. */
  def loadTraces(path: String,
                 spark: org.apache.spark.sql.SparkSession): Array[Trace] = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("level"), col("nprobe"), col("bucket"), col("phi"),
        col("u"), col("std"))
      .as[(Int, Int, Int, Float, Float, Float)].collect()
    val byLevel = rows.groupBy(_._1)
    val maxLevel = byLevel.keys.max
    (0 to maxLevel).map { level =>
      val lv = byLevel.getOrElse(level, throw new IllegalStateException(
        s"trace table at $path is missing level $level — refusing to " +
          "shift the level/nprobe alignment"))
      val buckets = lv.filter(_._3 >= 0).sortBy(_._3)
      Trace(lv.head._2, buckets.map(_._4), buckets.map(_._5), buckets.map(_._6))
    }.toArray
  }

  /** Back to the reference's raw distance space: our "ip" distances are
    * negated inner products. */
  private def rawDist(metric: String, d: Double): Float =
    if (metric == "ip") (-d).toFloat else d.toFloat

  /** The capture block `Auncel/IndexIVF.cpp:648-673`: walk the sorted
    * partial top-k; for each rank whose distance appears in the GT list,
    * emit (φ at that distance, rank-scaling U); stop at the first miss
    * or after maxTopk/4 points. */
  private def genPoints(metric: String, stage: Int, sortedDists: Array[Double],
                        gtDists: Array[Float], dB: Array[Float],
                        maxTopk: Int): Seq[(Int, Float, Float)] = {
    val nprobe = 1 << stage
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Float, Float)]
    val dists = // ascending for L2; descending raw IP for "ip"
      if (metric == "ip") sortedDists.map(d => (-d).toFloat) else sortedDists.map(_.toFloat)
    var ij = 0
    var stop = false
    while (ij < math.min(maxTopk, dists.length) && !stop) {
      val ks = ErrorProfile.kscaling(dists(ij), ij, gtDists, maxTopk)
      if (ks < 0) stop = true
      else {
        val tval = if (metric == "ip") ErrorProfile.arcos(dists(ij)) else dists(ij)
        val sumA = ErrorProfile.sumAngle(tval, dB, 15, nprobe - 1)
        out += ((stage, sumA, ks))
        if (out.length >= maxTopk / 4) stop = true
      }
      ij += 1
    }
    out.toSeq
  }
}
