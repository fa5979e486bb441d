package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.transforms.LinearTransform

/** IVF + spectral hash codes (`Auncel/IndexIVFSpectralHash.h:30-75`,
  * re-derived from its documented semantics): vectors are transformed
  * d → nbit by an orthonormal random rotation, each coordinate is
  * offset by a per-mode threshold and split into intervals of size
  * `period` — alternating intervals map to 0/1
  * (bit i = floor((xt_i − c_i) · 2/period) & 1, the reference's
  * `binarize_with_freq`). Codes live in IVF lists; search Hamming-scans
  * the probed lists, binarizing the query against EACH probed list's
  * own thresholds (the reference does the same per-list query
  * binarization in its InvertedListScanner).
  *
  * Threshold modes (`ThresholdType`): "global" (zeros), "centroid"
  * (transformed list centroid), "centroid_half" (centroid − period/4),
  * "median" (per-list per-bit median of member coordinates — computed
  * distributedly via exact percentile, which matches the reference's
  * even-count mean-of-middle-two).
  */
object SpectralHash {

  final case class SHModel(rot: Array[Array[Float]], period: Float,
                           mode: String, trained: Array[Array[Float]])
      extends Serializable {
    val nbit: Int = rot.length
    val nWords: Int = (nbit + 63) / 64

    def transform(v: Array[Float]): Array[Float] = {
      val out = new Array[Float](nbit)
      var i = 0
      while (i < nbit) { out(i) = Kernels.dot(rot(i), v).toFloat; i += 1 }
      out
    }

    /** `binarize_with_freq` over a transformed vector for one list. */
    def binarize(xt: Array[Float], listNo: Int): Array[Long] = {
      val c = if (mode == "global") null else trained(listNo)
      val freq = 2.0f / period
      val sig = new Array[Long](nWords)
      var i = 0
      while (i < nbit) {
        val xf = xt(i) - (if (c == null) 0f else c(i))
        val xi = math.floor(xf.toDouble * freq).toInt
        if ((xi & 1) == 1) sig(i >> 6) |= 1L << (i & 63)
        i += 1
      }
      sig
    }

    def encodeVec(v: Array[Float], listNo: Int): Array[Long] =
      binarize(transform(v), listNo)
  }

  /** d → nbit orthonormal rows: first nbit rows of (stacked) seeded
    * random rotations. */
  private def rotationRows(d: Int, nbit: Int, seed: Long): Array[Array[Float]] =
    Iterator.from(0)
      .map(i => LinearTransform.randomRotation(d, seed + i).a)
      .flatten.take(nbit).toArray

  /** Train thresholds (`train_residual`). `assigned` = (id, vec,
    * list_no); median mode computes per-(list, bit) exact medians in
    * one distributed aggregation. */
  def train(assigned: DataFrame, model: IVFModel, nbit: Int, period: Float,
            mode: String = "global", seed: Long = 42L): SHModel = {
    val d = model.centroids(0).length
    val rot = rotationRows(d, nbit, seed)
    val base = SHModel(rot, period, mode, Array.empty)
    mode match {
      case "global" => base
      case "centroid" | "centroid_half" =>
        val shift = if (mode == "centroid_half") 0.25f * period else 0f
        val tr = Array.tabulate(model.nlist) { l =>
          base.transform(model.centroids(l)).map(_ - shift)
        }
        base.copy(trained = tr)
      case "median" =>
        val spark = assigned.sparkSession
        import spark.implicits._
        val bm = spark.sparkContext.broadcast(base)
        val xtU = udf { v: Seq[Float] => bm.value.transform(v.toArray) }
        val med = assigned
          .select(col("list_no").cast("int"), posexplode(xtU(col("vec"))).as(Seq("bit", "x")))
          .groupBy(col("list_no"), col("bit"))
          .agg(expr("percentile(x, 0.5)").cast("float").as("m"))
          .as[(Int, Int, Float)].collect()
        val tr = Array.fill(model.nlist, nbit)(0.0f)
        med.foreach { case (l, b, m) => tr(l)(b) = m }
        base.copy(trained = tr)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** Encode the assigned table → (id, list_no, sig). */
  def encode(assigned: DataFrame, sh: SHModel): DataFrame = {
    val bm = assigned.sparkSession.sparkContext.broadcast(sh)
    val u = udf { (v: Seq[Float], listNo: Int) => bm.value.encodeVec(v.toArray, listNo) }
    assigned.select(col("id"), col("list_no"),
      u(col("vec"), col("list_no")).as("sig"))
  }

  /** Hamming k-NN over the probed lists via the shared probed-list
    * scan ([[graft.search.IVFSearch.probedTopK]]); the query is
    * binarized lazily PER (query, probed list) with that list's own
    * thresholds — the score factory keeps that cache per partition. */
  def search(encoded: DataFrame, ivf: IVFModel, sh: SHModel,
             queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bq = spark.sparkContext.broadcast(q.map { case (_, v) => sh.transform(v) })
    val bm = spark.sparkContext.broadcast(sh)
    graft.search.IVFSearch.probedTopK[Array[Long]](encoded,
      df => df.select(col("list_no").cast("int"), col("id").cast("long"),
        col("sig")).as[(Int, Long, Array[Long])],
      ivf, q, k, Array.fill(q.length)(nprobe),
      () => {
        val qs = bq.value
        val m = bm.value
        val qSigs = scala.collection.mutable.HashMap.empty[(Int, Int), Array[Long]]
        (qi, listNo, sig) => {
          val qsig = qSigs.getOrElseUpdate((qi, listNo), m.binarize(qs(qi), listNo))
          BinaryHash.hammingWide(sig, qsig).toDouble
        }
      })
  }
}
