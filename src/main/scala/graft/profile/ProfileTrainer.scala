package graft.profile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.{IVFModel, IndexCache}
import graft.operators.TopK
import graft.search.{BoundedSearch, IVFSearch}
import graft.profile.ErrorProfile.Trace

/** Offline error-profile training (`Error_sys::sys_train`
  * `Auncel/profile.cpp:88-171` + the capture block
  * `Auncel/IndexIVF.cpp:640-673`), the training queries collected like
  * a bounded-search batch:
  *
  *  1. capture each query's partial top-k at every power-of-2 probe stage
  *     ≤ nlist/8 in ONE job per query chunk ([[capture]]): each base row
  *     enters the heap of the stage at which its list is first probed,
  *     those heaps merge across partitions by `treeAggregate`, and stage
  *     s's top-k is the driver-side merge of a query's heaps of stages ≤ s;
  *  2. per (query, stage): compute (φ, U) points against the exact
  *     ground truth (`kscaling`), φ from the query's boundary distances;
  *  3. sort-and-batch each stage's points into a monotone Trace
  *     (bucket size bs=250, per-bucket σ — `Trace::SB`).
  *
  * Steps 2 and 3 run on the driver over ≤ train_n · levels top-k lists.
  * The traces are tiny (≤ train_n·k/4 points pre-batching) and live
  * broadcast afterwards.
  */
object ProfileTrainer {

  /** Number of power-of-2 probe levels: nprobe ∈ {1, 2, …, nlist/8}
    * (`Auncel/IndexIVF.cpp:208-220`). */
  def numLevels(nlist: Int): Int = {
    var j = 0
    while ((1 << (j + 1)) <= nlist / 8) j += 1
    j + 1
  }

  /** The staged capture ([[capture]]) of a query frame as a local frame,
    * one row per (query, stage) that holds at least one row.
    * @return (qid LONG, stage INT, dists ARRAY<DOUBLE> ascending) */
  def stagedTopK(ivfData: DataFrame, model: IVFModel, trainQueries: DataFrame,
                 maxTopk: Int, chunkQueries: Int = 8192): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val q = IVFSearch.queryRows(trainQueries)
    val (_, staged) = capture(ivfData, model, q, maxTopk,
      chunkQueries = chunkQueries)
    q.indices.flatMap { qi =>
      staged(qi).map { case (j, dists) => (q(qi)._1, j, dists) }
    }.toDF("qid", "stage", "dists")
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
    val metric = model.metric
    val q = IVFSearch.queryRows(trainQueries)
    // the boundary geometry reads nlist/8 + 20 ranked centroids
    val (ranks, staged) = capture(ivfData, model, q, maxTopk,
      rankDepth = nlist / 8 + 20)
    val gtByQid: Map[Long, Array[Float]] = gt
      .select(col("qid").cast("long"), col("dist"), col("rank"))
      .as[(Long, Double, Int)].collect()
      .groupBy(_._1).map { case (qid, xs) =>
        (qid, xs.sortBy(_._3).map(x => rawDist(metric, x._2)))
      }
    // (φ, U) point generation against ground truth
    val points = Array.fill(numLevels(nlist))(Seq.newBuilder[(Float, Float)])
    q.indices.foreach { qi =>
      val r = ranks(qi)
      val dB = ErrorProfile.boundaryDistances(r.map(_._2), r.map(_._1),
        model.interdisAt, nlist)
      staged(qi).foreach { case (j, dists) =>
        points(j) ++= genPoints(metric, j, dists, gtByQid(q(qi)._1), dB,
          maxTopk)
      }
    }
    points.indices.map(j => Trace.sortAndBatch(1 << j, points(j).result(), bs))
      .toArray
  }

  /** The staged capture shared by profile training, the LAET baseline and
    * [[stagedTopK]]: qid-sorted (qid, vec) rows are metric-normalized and
    * ranked `max(2^(levels−1), rankDepth)` centroids deep, then each chunk
    * of `chunkQueries` queries is ONE [[BoundedSearch.roundTopK]] job of
    * one stage with no shuffle ([[stagedProbeMap]] slots over the table's
    * resident lists when they fit in storage memory, else over its rows).
    * Per query, one [[TopK]] merges the heaps of stages j0 = 0, 1, … in
    * order on the driver and is read out after each stage, so stage s
    * holds the k smallest (dist, id) over the query's first 2^s ranked
    * lists.
    * @return (the rankings, per query its (stage, ascending top-k
    *         distances) in stage order, stages where no probed list held a
    *         row left out) */
  private[graft] def capture(ivfData: DataFrame, model: IVFModel,
      q: Array[(Long, Array[Float])], maxTopk: Int, rankDepth: Int = 0,
      chunkQueries: Int = 8192)
      : (Array[Array[(Int, Float)]], Array[IndexedSeq[(Int, Array[Double])]]) = {
    val spark = ivfData.sparkSession
    val levels = numLevels(model.nlist)
    val qVecs = q.map { case (qid, v) =>
      (qid, if (model.metric == "ip") Kernels.l2Normalize(v) else v)
    }
    val ranks = IVFSearch.rankTop(spark, model, qVecs,
      math.max(1 << (levels - 1), rankDepth))
    val lists = IndexCache.residentLists(ivfData, model.dim)
    val staged = qVecs.indices.grouped(chunkQueries).flatMap { idxs =>
      val heaps = BoundedSearch.roundTopK(ivfData, lists, model.metric,
        spark.sparkContext.broadcast(idxs.map(qVecs(_)._2).toArray),
        stagedProbeMap(idxs.map(ranks), levels), maxTopk,
        idxs.length * levels, levels)
      idxs.indices.iterator.map { qi =>
        val acc = new TopK(maxTopk)
        (0 until levels).flatMap { j0 =>
          Option(heaps(qi * levels + j0)).foreach(acc.merge)
          val top = acc.sorted
          if (top.isEmpty) None else Some(j0 -> top.map(_._1))
        }
      }
    }.toArray
    (ranks, staged)
  }

  /** The staged probe map of the capture: each query's first
    * 2^(levels−1) ranked lists, the list at 0-based rank ri entering the
    * slot of the stage at which it is first probed, j0 = ⌈log2(ri + 1)⌉ —
    * slot `qi · levels + j0`. Stage s's top-k is then the merge of a
    * query's slots j0 ≤ s. */
  private def stagedProbeMap(ranks: Seq[Array[(Int, Float)]],
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
                        maxTopk: Int): Seq[(Float, Float)] = {
    val nprobe = 1 << stage
    val out = scala.collection.mutable.ArrayBuffer.empty[(Float, Float)]
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
        out += ((sumA, ks))
        if (out.length >= maxTopk / 4) stop = true
      }
      ij += 1
    }
    out.toSeq
  }
}
