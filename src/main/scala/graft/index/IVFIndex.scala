package graft.index

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels

/** IVF (inverted-file) index model: the trained coarse quantizer.
  *
  * Spark-first re-expression of the reference's `IndexIVF` train/add
  * (`Auncel/IndexIVF.cpp:71-137,252-302`, k-means `Clustering.cpp:77-240`):
  * centroids come from MLlib KMeans; "inverted lists" are a Parquet table
  * partitioned by `list_no`, so probing nprobe lists is Catalyst
  * partition pruning (`WHERE list_no IN (...)`) — the Spark analog of
  * reading only the probed posting lists.
  *
  * @param metric    "l2" (squared-L2 coarse dists) or "ip" (vectors and
  *                  centroids L2-normalized; coarse dists are angles,
  *                  mirroring `Auncel/IndexIVF.cpp:101-110`)
  * @param centroids nlist × d row-major
  */
case class IVFModel(metric: String, centroids: Array[Array[Float]])
    extends Serializable {
  val nlist: Int = centroids.length
  val dim: Int = centroids.headOption.map(_.length).getOrElse(0)

  /** Condensed upper-triangular inter-centroid distances, float —
    * exactly `fvec_inter_vecs[_IP]` (`Auncel/IVF_pro.cpp:21-39`) with the
    * same indexing `(2n-1-i)i/2 + j-1-i`; for "ip" the values are
    * arccos'd (`Auncel/IndexIVF.cpp:108-110`). */
  lazy val interdis: Array[Float] = {
    val n = nlist
    val out = new Array[Float](n * (n - 1) / 2)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val idx = (2 * n - 1 - i) * i / 2 + j - 1 - i
        out(idx) =
          if (metric == "l2") Kernels.l2Sqr(centroids(i), centroids(j)).toFloat
          else math.acos(math.max(-1.0, math.min(1.0,
            Kernels.dot(centroids(i), centroids(j))))).toFloat
        j += 1
      }
      i += 1
    }
    out
  }

  def interdisAt(i: Int, j: Int): Float = {
    require(i != j)
    val (a, b) = if (i < j) (i, j) else (j, i)
    interdis((2 * nlist - 1 - a) * a / 2 + b - 1 - a)
  }

  /** All centroids ranked by closeness to `vec`, with coarse distances —
    * the coarse quantizer search (`Auncel/IndexIVF.cpp:344,364`).
    * For "l2": squared L2 asc; for "ip": angle (arccos of dot) asc. */
  def rankCentroids(vec: Array[Float]): Array[(Int, Float)] = {
    val ds = new Array[(Int, Float)](nlist)
    var i = 0
    while (i < nlist) {
      val d =
        if (metric == "l2") Kernels.l2Sqr(vec, centroids(i)).toFloat
        else math.acos(math.max(-1.0, math.min(1.0,
          Kernels.dot(vec, centroids(i))))).toFloat
      ds(i) = (i, d)
      i += 1
    }
    ds.sortBy { case (id, d) => (d, id) }
  }

  def assignListNo(vec: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var i = 0
    while (i < nlist) {
      val d =
        if (metric == "l2") Kernels.l2Sqr(vec, centroids(i))
        else -Kernels.dot(vec, centroids(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }
}

object IVFIndex {

  /** Train the coarse quantizer with MLlib KMeans (niter=25 mirrors
    * `Auncel/Clustering.h:25`). For "ip" the input is L2-normalized first
    * (spherical k-means post-normalization per `Clustering.cpp:63-75`). */
  def train(df: DataFrame, nlist: Int, metric: String = "l2",
            seed: Long = 42L, vecCol: String = "vec"): IVFModel = {
    val toVec = udf { a: Seq[Float] =>
      val arr = if (metric == "ip") Kernels.l2Normalize(a.toArray) else a.toArray
      Vectors.dense(arr.map(_.toDouble))
    }
    val feat = df.select(toVec(col(vecCol)).as("features"))
    val km = new KMeans().setK(nlist).setSeed(seed).setMaxIter(25)
      .setFeaturesCol("features")
    val model = km.fit(feat)
    val cents = model.clusterCenters.map { v =>
      val a = v.toArray.map(_.toFloat)
      if (metric == "ip") Kernels.l2Normalize(a) else a
    }
    IVFModel(metric, cents)
  }

  /** Assign each row its inverted list (`IndexIVF::add_with_ids`,
    * `Auncel/IndexIVF.cpp:252-302`): adds `list_no`; for "ip" also
    * rewrites `vec` L2-normalized (the reference normalizes on ingest for
    * the IP/angle path). */
  def assign(df: DataFrame, model: IVFModel, vecCol: String = "vec"): DataFrame = {
    val bm = df.sparkSession.sparkContext.broadcast(model)
    val assignU = udf { a: Seq[Float] => bm.value.assignListNo(a.toArray) }
    val normU = udf { a: Seq[Float] => Kernels.l2Normalize(a.toArray) }
    val withVec = if (model.metric == "ip")
      df.withColumn(vecCol, normU(col(vecCol))) else df
    withVec.withColumn("list_no", assignU(col(vecCol)))
  }

  /** Write the inverted-file table partitioned by list — probes become
    * partition-pruned scans. The repartition co-locates each list into
    * one task so each `list_no=` directory holds ONE file; without it,
    * `partitionBy` fans every input task across every list
    * (tasks × nlist tiny files — the classic small-files trap). */
  def write(assigned: DataFrame, path: String): Unit =
    assigned.repartition(col("list_no"))
      .write.mode("overwrite").partitionBy("list_no").parquet(path)

  def saveModel(model: IVFModel, path: String, spark: SparkSession): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c, model.metric) }.toSeq
      .toDF("list_no", "centroid", "metric")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(path: String, spark: SparkSession): IVFModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("list_no"), col("centroid"), col("metric"))
      .as[(Int, Array[Float], String)].collect().sortBy(_._1)
    IVFModel(rows.head._3, rows.map(_._2))
  }
}
