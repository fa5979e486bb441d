package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions
import graft.functions.{Kernels, VectorFunctions}
import graft.operators.TopK

/** Exact brute-force k-NN / range search over a vector DataFrame.
  *
  * Spark-first re-expression of the reference's flat scan
  * (`Auncel/IndexFlat.cpp:41-56`, kernels `Auncel/utils.cpp:417-655`):
  * the query batch is broadcast to every partition, each partition keeps
  * a bounded per-query top-k heap (map-side combine — shuffle volume is
  * `#partitions × nq × k`, never `N × nq`), and the global merge is a
  * window rank per query. At 100 TB the scan parallelizes per-partition
  * with no data shuffle at all; only the tiny partial-topk rows move.
  */
object FlatSearch {

  /** Brute-force top-k.
    *
    * @param base    (id LONG, vec ARRAY<FLOAT>) — arbitrarily large
    * @param queries (qid LONG, vec ARRAY<FLOAT>) — driver-collectable
    *                up to the driver contract; larger batches (or
    *                `forceDistributed`) stay in a DataFrame ([[crossTopK]])
    * @return (qid, id, dist, rank) with rank 1..k by (dist, id) asc;
    *         dist is squared-L2 for "l2", negated inner product for "ip"
    */
  def knn(base: DataFrame, queries: DataFrame, k: Int,
          metric: String = "l2", forceDistributed: Boolean = false): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val collected =
      if (forceDistributed) None
      else collectable(queries.select(col("qid").cast("long"), col("vec"))
        .as[(Long, Array[Float])])
    collected match {
      case None =>
        val dist =
          if (metric == "ip") negate(VectorExpressions.dot(col("qvec"), col("vec")))
          else VectorExpressions.l2Sqr(col("qvec"), col("vec"))
        crossTopK(base.select(col("id").cast("long").as("id"), col("vec")),
          queries.select(col("qid").cast("long").as("qid"), col("vec").as("qvec")),
          dist, k)
      case Some(qRaw) =>
        val q = qRaw.sortBy(_._1)
        val bq = spark.sparkContext.broadcast(q.map(_._2))
        val m = metric
        flatTopK[Array[Float]](
          base.select(col("id").cast("long"), col("vec")).as[(Long, Array[Float])],
          q.map(_._1), k,
          () => {
            val qs = bq.value
            (i, _, vec) => Kernels.distance(m, qs(i), vec)
          })
    }
  }

  /** The flat scan of every broadcast-query brute force (float, Hamming,
    * ADC, SQ, polysemous): [[IVFSearch.allSlotsTopK]] per partition, then
    * the global merge. `mkScore` scores slot i against query `qids(i)`. */
  private[graft] def flatTopK[R](rows: Dataset[(Long, R)], qids: Array[Long],
      k: Int, mkScore: () => IVFSearch.PairScore[R]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val nq = qids.length
    mergeTopK(IVFSearch.keyByQid(rows.mapPartitions(it =>
      IVFSearch.allSlotsTopK(it, nq, k, mkScore)), qids), k)
  }

  /** The reference's own driver contract holds all queries in RAM
    * (`Auncel/dist/worker.cpp` serves batches from memory): the one
    * bounded collect of every driver-collected query batch (flat,
    * Hamming and bounded search). At most the contract + 1 rows reach
    * the driver — a small batch pays exactly its one collect, and a
    * batch past the contract ([[graft.GraftConf.distributedMinQueries]])
    * returns None after materializing only the bounded prefix, so the
    * caller keeps the queries in a DataFrame instead. */
  private[graft] def collectable[T](ds: Dataset[T]): Option[Array[T]] = {
    val contract = graft.GraftConf.distributedMinQueries
    val rows = ds.limit(contract + 1).collect()
    if (rows.length > contract) None else Some(rows)
  }

  /** Query-DataFrame-resident brute force for batches past the driver
    * contract — the flat twin of BoundedSearch's fully-distributed path
    * (reference parity: `Auncel/dist/worker.cpp:141-325` serves every
    * search kind at any batch size), shared by the float and Hamming
    * scans. Shape: block-cartesian of `base` (id, …) × `queries`
    * (qid, …) (the nq × N distance work is inherent to exact search),
    * the caller's codegen'd `dist` expression scores pairs inside
    * WholeStageCodegen, and a per-task (qid → k-heap) combine bounds
    * the shuffle to tasks × k rows per query before the global merge.
    * No per-query structure ever exists on the driver. */
  private[graft] def crossTopK(base: DataFrame, queries: DataFrame,
                               dist: Column, k: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val partials = base.crossJoin(queries)
      .select(col("qid").cast("long"), col("id").cast("long"),
        dist.cast("double"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap.empty[Long, TopK]
        it.foreach { case (qid, id, d) =>
          heaps.getOrElseUpdate(qid, new TopK(k)).add(d, id)
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.sorted.iterator.map { case (d, id) => (qid, id, d) }
        }
      }.toDF("qid", "id", "dist")
    mergeTopK(partials, k)
  }

  /** Global top-k merge of per-partition (or per-shard) partial results —
    * the Spark form of `Auncel/dist/reduce.cpp:98-119`'s sorted merge. */
  def mergeTopK(partials: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))
    partials.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("dist"), col("rank"))
  }

  /** k-NN restricted to an id subset (`Auncel/IndexFlat.cpp:72-91`,
    * `knn_*_by_idx` `utils.cpp:729-792`): a pushed-down semi-join then
    * the same partial-topk scan. */
  def knnSubset(base: DataFrame, queries: DataFrame, k: Int,
                ids: DataFrame, metric: String = "l2"): DataFrame =
    knn(base.join(ids.select(col("id")).distinct(), Seq("id"), "left_semi"),
      queries, k, metric)

  /** Range search (`Auncel/Index.h:146-147`, flat impl
    * `utils.cpp:944-1030`): all ids with dist below `radius` (L2) —
    * fully declarative, stays in WholeStageCodegen end-to-end. */
  def range(base: DataFrame, queries: DataFrame, radius: Double,
            metric: String = "l2"): DataFrame = {
    val qs = broadcast(queries.select(col("qid"), col("vec").as("qvec")))
    base.select(col("id"), col("vec"))
      .crossJoin(qs)
      .withColumn("dist", VectorFunctions.distance(metric, col("qvec"), col("vec")))
      .filter(col("dist") < lit(radius))
      .select(col("qid"), col("id"), col("dist"))
  }
}
