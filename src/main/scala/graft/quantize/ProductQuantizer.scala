package graft.quantize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels

/** Product quantizer (`Auncel/ProductQuantizer.h:23-175`, .cpp): the
  * vector is split into M subvectors, each encoded by a 2^nbits-entry
  * codebook trained with per-subspace k-means. Codes live in a
  * BinaryType column; search uses asymmetric distance (ADC): per query a
  * M×ksub table of partial distances is built once, then each code's
  * distance is M table lookups — the classic memory-bandwidth trade.
  *
  * @param codebooks M × ksub × dsub
  */
final case class PQModel(m: Int, nbits: Int, codebooks: Array[Array[Array[Float]]])
    extends Serializable {
  val ksub: Int = 1 << nbits
  def dsub: Int = codebooks(0)(0).length
  def dim: Int = m * dsub

  def encode(v: Array[Float]): Array[Byte] = {
    val code = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      val off = sub * dsub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cb = codebooks(sub)(c)
        var d = 0.0; var j = 0
        while (j < dsub) {
          val diff = v(off + j).toDouble - cb(j); d += diff * diff; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(sub) = best.toByte
      sub += 1
    }
    code
  }

  def decode(code: Array[Byte]): Array[Float] = {
    val out = new Array[Float](dim)
    var sub = 0
    while (sub < m) {
      val cb = codebooks(sub)(code(sub) & 0xff)
      System.arraycopy(cb, 0, out, sub * dsub, dsub)
      sub += 1
    }
    out
  }

  /** ADC table: adc(sub)(c) = ‖q_sub − codebook(sub)(c)‖². */
  def adcTable(q: Array[Float]): Array[Array[Float]] =
    Array.tabulate(m) { sub =>
      val off = sub * dsub
      Array.tabulate(ksub) { c =>
        val cb = codebooks(sub)(c)
        var d = 0.0; var j = 0
        while (j < dsub) {
          val diff = q(off + j).toDouble - cb(j); d += diff * diff; j += 1
        }
        d.toFloat
      }
    }

  def adcDistance(table: Array[Array[Float]], code: Array[Byte]): Double = {
    var s = 0.0; var sub = 0
    while (sub < m) { s += table(sub)(code(sub) & 0xff); sub += 1 }
    s
  }

  /** Per-subspace inner products ⟨q_sub, centroid⟩ — the query-side
    * ("term 3") table of the precomputed-table ADC decomposition
    * (`Auncel/IndexIVFPQ.cpp:340-353`): built ONCE per query, not once
    * per (query, probed list) like the residual table. */
  def ipTable(q: Array[Float]): Array[Array[Float]] =
    Array.tabulate(m) { sub =>
      val off = sub * dsub
      Array.tabulate(ksub) { c =>
        val cb = codebooks(sub)(c)
        var d = 0.0; var j = 0
        while (j < dsub) { d += q(off + j).toDouble * cb(j); j += 1 }
        d.toFloat
      }
    }
}

object ProductQuantizer {

  /** Train per-subspace codebooks on a driver-side sample (exactly the
    * reference's regime: PQ codebooks come from an in-memory training
    * set, `ProductQuantizer::train` — 2^nbits ≤ 256 centers per
    * subspace needs thousands of points, not the collection). Encoding
    * and search remain fully distributed. Seeded Lloyd, 25 iterations
    * (`Clustering.h:25`). */
  def train(df: DataFrame, m: Int, nbits: Int = 8, seed: Long = 42L,
            vecCol: String = "vec", maxSample: Int = 65536): PQModel = {
    import df.sparkSession.implicits._
    val total = df.count()
    val sample =
      (if (total <= maxSample) df.select(col(vecCol))
       else df.select(col(vecCol)).sample(maxSample.toDouble / total, seed))
        .as[Array[Float]].collect()
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by M=$m")
    val dsub = d / m
    val ksub = 1 << nbits
    val k = math.min(ksub, sample.length)
    val codebooks = Array.tabulate(m) { sub =>
      val pts = sample.map(_.slice(sub * dsub, (sub + 1) * dsub))
      val centers = localKMeans(pts, k, seed + sub, iters = 25)
      Array.tabulate(ksub)(c => centers(math.min(c, centers.length - 1)))
    }
    PQModel(m, nbits, codebooks)
  }

  /** Seeded in-memory Lloyd (deterministic): random-point init, empty
    * clusters keep their previous center. */
  def localKMeansPublic(pts: Array[Array[Float]], k: Int, seed: Long,
                        iters: Int): Array[Array[Float]] =
    localKMeans(pts, k, seed, iters)

  private[quantize] def localKMeans(pts: Array[Array[Float]], k: Int,
                                    seed: Long, iters: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val d = pts.head.length
    val centers = rnd.shuffle(pts.indices.toVector).take(k)
      .map(i => pts(i).clone()).toArray
    val assign = new Array[Int](pts.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < pts.length) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val dd = Kernels.l2Sqr(pts(p), centers(c))
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      p = 0
      while (p < pts.length) {
        val c = assign(p); counts(c) += 1
        var j = 0
        while (j < d) { sums(c)(j) += pts(p)(j); j += 1 }
        p += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < d) { centers(c)(j) = (sums(c)(j) / counts(c)).toFloat; j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** Add a BinaryType `code` column. */
  def encode(df: DataFrame, model: PQModel, vecCol: String = "vec"): DataFrame = {
    val bm = df.sparkSession.sparkContext.broadcast(model)
    val u = udf { v: Seq[Float] => bm.value.encode(v.toArray) }
    df.withColumn("code", u(col(vecCol)))
  }

  /** ADC brute-force k-NN over codes: broadcast per-query ADC tables,
    * per-partition bounded heaps, window merge — same scale shape as
    * FlatSearch but reading only the `code` column (32× smaller scan for
    * d=64, M=8 than raw floats). */
  def knnADC(codes: DataFrame, model: PQModel, queries: DataFrame,
             k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bm = spark.sparkContext.broadcast(model)
    val bTables = spark.sparkContext.broadcast(q.map { case (_, v) => model.adcTable(v) })
    graft.search.FlatSearch.flatTopK[Array[Byte]](
      codes.select(col("id").cast("long"), col("code")).as[(Long, Array[Byte])],
      q.map(_._1), k,
      () => {
        val tables = bTables.value
        val pq = bm.value
        (i, _, code) => pq.adcDistance(tables(i), code)
      })
  }
}

/** Scalar quantizer, 8-bit per dimension
  * (`Auncel/IndexScalarQuantizer.cpp` QT_8bit): per-dim [min, max] from
  * the collection, code = ⌊255·clamp((x−min)/(max−min), 0, 1)⌋ — the
  * reference Codec8bit truncates on encode (`encode_component:75-77`),
  * which makes the (c+0.5)/255 decode the bin midpoint. */
final case class SQModel(vmin: Array[Float], vmax: Array[Float]) extends ScalarCodec {
  def dim: Int = vmin.length
  def codeSize: Int = dim
  /** Per-dim range; float like the reference's trained vdiff. */
  val vdiff: Array[Float] = Array.tabulate(vmin.length)(i => vmax(i) - vmin(i))
  def encode(v: Array[Float]): Array[Byte] =
    Array.tabulate(dim) { i =>
      val x = if (vdiff(i) == 0f) 0.0
        else (v(i) - vmin(i)) / vdiff(i)
      (math.max(0.0, math.min(1.0, x)) * 255.0).toInt.toByte
    }
  /** (code + 0.5)/255: same grid as the encoder's 255 steps — matches
    * the reference Codec8bit (`IndexScalarQuantizer.cpp:73-81`). */
  def decode(code: Array[Byte]): Array[Float] =
    Array.tabulate(dim) { i =>
      vmin(i) + (((code(i) & 0xff) + 0.5f) / 255.0f) * vdiff(i)
    }
}

object ScalarQuantizer {
  /** Per-dimension range (QT_8bit) or shared global range
    * (QT_8bit_uniform). */
  def train(df: DataFrame, vecCol: String = "vec",
            uniform: Boolean = false): SQModel = {
    import df.sparkSession.implicits._
    val stats = df.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .as[(Int, Float, Float)].collect().sortBy(_._1)
    if (uniform) {
      val mn = stats.map(_._2).min
      val mx = stats.map(_._3).max
      SQModel(Array.fill(stats.length)(mn), Array.fill(stats.length)(mx))
    } else SQModel(stats.map(_._2), stats.map(_._3))
  }

  def encode(df: DataFrame, model: SQModel, vecCol: String = "vec"): DataFrame = {
    val bm = df.sparkSession.sparkContext.broadcast(model)
    val u = udf { v: Seq[Float] => bm.value.encode(v.toArray) }
    df.withColumn("code", u(col(vecCol)))
  }

  /** Decode-and-scan k-NN over scalar-quantized codes (any codec). */
  def knn(codes: DataFrame, model: ScalarCodec, queries: DataFrame, k: Int,
          metric: String = "l2"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bm = spark.sparkContext.broadcast(model)
    val bq = spark.sparkContext.broadcast(q.map(_._2))
    val m = metric
    graft.search.FlatSearch.flatTopK[Array[Byte]](
      codes.select(col("id").cast("long"), col("code")).as[(Long, Array[Byte])],
      q.map(_._1), k,
      () => {
        val qs = bq.value
        val sq = bm.value
        var last: Array[Byte] = null
        var v: Array[Float] = null
        (i, _, code) => {
          // decode each row once: the loop scores it against every query
          // before the next row arrives
          if (code ne last) { v = sq.decode(code); last = code }
          Kernels.distance(m, qs(i), v)
        }
      })
  }
}
