package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions
import graft.functions.Kernels
import graft.search.FlatSearch

/** LSH / binary-code index (`Auncel/IndexLSH.cpp`, `IndexBinaryFlat` +
  * Hamming kernels `hamming.cpp`): random-hyperplane signatures packed
  * into a LONG column; search is Hamming distance = `bit_count(xor)` —
  * a fully codegen'd integer pipeline, no floats touched at scan time.
  * 64 bits per vector is a 32× scan-size reduction over d=64 floats.
  * The narrow and wide scans take the float brute force's shapes:
  * [[FlatSearch.flatTopK]] over a driver-collected batch, and
  * [[FlatSearch.crossTopK]] with a Hamming distance column past the
  * driver contract.
  */
object BinaryHash {

  /** Random-hyperplane projections, the signature core of [[LSHModel]]
    * and [[WideLSHModel]] (which differ only in how the sign bits are
    * packed: one LONG against an ARRAY<LONG> of 64-bit words).
    *
    * The planes are flattened TRANSPOSED (planesT(i·nbits + b) =
    * planes(b)(i)), built lazily once per JVM/executor after broadcast:
    * [[projections]] walks the vector ONCE with a sequential inner loop
    * over bits — unit-stride loads the JIT can vectorize — instead of
    * nbits separate plane-array walks (nbits pointer chases + d·nbits
    * strided loads per row). Per-bit accumulation order (i ascending,
    * both operands widened to double before the product) is exactly
    * Kernels.dot's, so every dot — and every sign — is bit-identical. */
  sealed trait Hyperplanes extends Serializable {
    def planes: Array[Array[Float]]
    @transient private lazy val d0: Int =
      if (planes.isEmpty) 0 else planes(0).length
    @transient private lazy val planesT: Array[Float] = {
      val nb = planes.length
      val t = new Array[Float](d0 * nb)
      var b = 0
      while (b < nb) {
        val p = planes(b)
        var i = 0
        while (i < d0) { t(i * nb + b) = p(i); i += 1 }
        b += 1
      }
      t
    }
    /** The nbits dot products planes(b) · v; bit b is `>= 0`. */
    protected final def projections(v: Array[Float]): Array[Double] = {
      val nb = planes.length
      val acc = new Array[Double](nb)
      val t = planesT
      val d = d0
      var i = 0
      while (i < d) {
        val vi = v(i).toDouble
        val base = i * nb
        var b = 0
        while (b < nb) { acc(b) += t(base + b).toDouble * vi; b += 1 }
        i += 1
      }
      acc
    }
  }

  final case class LSHModel(planes: Array[Array[Float]]) extends Hyperplanes {
    val nbits: Int = planes.length
    def signature(v: Array[Float]): Long = {
      val acc = projections(v)
      var sig = 0L
      var b = 0
      while (b < nbits) {
        if (acc(b) >= 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
  }

  /** Seeded Gaussian hyperplanes (≤ 63 bits to stay in a signed LONG). */
  def train(d: Int, nbits: Int = 63, seed: Long = 42L): LSHModel = {
    require(nbits <= 63, "signatures are packed in a signed LONG")
    val rnd = new scala.util.Random(seed)
    LSHModel(Array.fill(nbits)(Array.fill(d)(rnd.nextGaussian().toFloat)))
  }

  /** Arbitrary-width binary codes (`Auncel/IndexBinaryFlat.h:21`,
    * `hamming.cpp`): signatures packed 64 bits per LONG word in an
    * ARRAY<LONG> column; Hamming distance = per-word xor popcount sum. */
  final case class WideLSHModel(planes: Array[Array[Float]]) extends Hyperplanes {
    val nbits: Int = planes.length
    val nWords: Int = (nbits + 63) / 64
    def signature(v: Array[Float]): Array[Long] = {
      val acc = projections(v)
      val sig = new Array[Long](nWords)
      var b = 0
      while (b < nbits) {
        if (acc(b) >= 0) sig(b >> 6) |= (1L << (b & 63))
        b += 1
      }
      sig
    }
  }

  def trainWide(d: Int, nbits: Int, seed: Long = 42L): WideLSHModel = {
    val rnd = new scala.util.Random(seed)
    WideLSHModel(Array.fill(nbits)(Array.fill(d)(rnd.nextGaussian().toFloat)))
  }

  def encodeWide(df: DataFrame, model: WideLSHModel,
                 vecCol: String = "vec"): DataFrame = {
    val bm = df.sparkSession.sparkContext.broadcast(model)
    val u = udf { v: Seq[Float] => bm.value.signature(v.toArray) }
    df.withColumn("sig", u(col(vecCol)))
  }

  def hammingWide(a: Array[Long], b: Array[Long]): Int = {
    var s = 0; var i = 0
    while (i < a.length) { s += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    s
  }

  /** Hamming k-NN over multi-word signatures — same bounded partial-heap
    * shape as [[knnHamming]]. Batches past the driver contract stay in
    * a DataFrame ([[FlatSearch.crossTopK]]) scored by the
    * codegen'd per-word xor popcount
    * ([[org.apache.spark.sql.graft.VectorExpressions.hammingWide]],
    * bit-identical to [[hammingWide]]). */
  def knnHammingWide(sigs: DataFrame, querySigs: DataFrame, k: Int): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    FlatSearch.collectable(querySigs.select(col("qid").cast("long"), col("sig"))
        .as[(Long, Array[Long])]) match {
      case None =>
        FlatSearch.crossTopK(
          sigs.select(col("id").cast("long").as("id"), col("sig")),
          querySigs.select(col("qid").cast("long").as("qid"), col("sig").as("qsig")),
          VectorExpressions.hammingWide(col("sig"), col("qsig")).cast("double"), k)
      case Some(qRaw) =>
        val q = qRaw.sortBy(_._1)
        val bq = spark.sparkContext.broadcast(q.map(_._2))
        FlatSearch.flatTopK[Array[Long]](
          sigs.select(col("id").cast("long"), col("sig")).as[(Long, Array[Long])],
          q.map(_._1), k,
          () => {
            val qs = bq.value
            (i, _, sig) => hammingWide(sig, qs(i)).toDouble
          })
    }
  }

  /** `Auncel/IndexBinaryIVF.cpp` — IVF-bucketed binary codes: vectors
    * are coarse-quantized by the float k-means (the reference trains
    * its coarse quantizer from floats via `IndexBinaryFromFloat`),
    * signatures are stored partitioned by inverted list, and search
    * Hamming-scans ONLY the nprobe probed lists — sub-linear binary
    * search: list-pruned IO plus an integer xor/popcount scan, the
    * 100 TB shape for binary codes. Input is the IVF-assigned table
    * (id, vec, list_no); output drops the floats. */
  def encodeIvf(assigned: DataFrame, model: WideLSHModel): DataFrame =
    encodeWide(assigned, model).select(col("id"), col("list_no"), col("sig"))

  /** Hamming k-NN over the probed lists — the shared probed-list scan
    * ([[graft.search.IVFSearch.probedTopK]]: metric-correct rankTop
    * coarse ranking, partition pruning, per-partition bounded heaps)
    * scored by wide Hamming against the broadcast query signatures.
    * At nprobe = nlist this equals the flat wide scan exactly (same
    * distances, same id tie-break). */
  def knnHammingIvf(encoded: DataFrame, ivf: IVFModel, model: WideLSHModel,
                    queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bq = spark.sparkContext.broadcast(q.map { case (_, v) => model.signature(v) })
    graft.search.IVFSearch.probedTopK[Array[Long]](encoded,
      df => df.select(col("list_no").cast("int"), col("id").cast("long"),
        col("sig")).as[(Int, Long, Array[Long])],
      ivf, q, k, Array.fill(q.length)(nprobe),
      () => {
        val qs = bq.value
        (qi, _, sig) => hammingWide(sig, qs(qi)).toDouble
      })
  }

  def encode(df: DataFrame, model: LSHModel, vecCol: String = "vec"): DataFrame = {
    val bm = df.sparkSession.sparkContext.broadcast(model)
    val u = udf { v: Seq[Float] => bm.value.signature(v.toArray) }
    df.withColumn("sig", u(col(vecCol)))
  }

  /** Hamming k-NN over signatures — broadcast query signatures, integer
    * xor/popcount scan with per-partition bounded heaps: the shuffle
    * carries parts × nq × k candidate rows, never N × nq. Batches past
    * the driver contract keep the query signatures in a DataFrame
    * ([[FlatSearch.crossTopK]] scored by the codegen'd
    * `bit_count(xor)` integer pipeline); the collect is LIMIT-bounded,
    * so routing itself never materializes nq rows. */
  def knnHamming(sigs: DataFrame, querySigs: DataFrame, k: Int): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    FlatSearch.collectable(querySigs.select(col("qid").cast("long"),
        col("sig").cast("long")).as[(Long, Long)]) match {
      case None =>
        FlatSearch.crossTopK(
          sigs.select(col("id").cast("long").as("id"), col("sig").cast("long").as("sig")),
          querySigs.select(col("qid").cast("long").as("qid"),
            col("sig").cast("long").as("qsig")),
          bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("double"), k)
      case Some(qRaw) => knnHammingLocal(sigs, qRaw.sortBy(_._1), k)
    }
  }

  /** Broadcast-scan core over an already-collected query batch — shared
    * by [[knnHamming]] and [[search]] (which feeds the SAME one collect
    * into both the signature scan and the exact rescore). */
  private def knnHammingLocal(sigs: DataFrame, q: Array[(Long, Long)],
                              k: Int): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(q.map(_._2))
    FlatSearch.flatTopK[Long](
      sigs.select(col("id").cast("long"), col("sig").cast("long")).as[(Long, Long)],
      q.map(_._1), k,
      () => {
        val qs = bq.value
        (i, _, sig) => java.lang.Long.bitCount(sig ^ qs(i)).toDouble
      })
  }

  /** End-to-end: encode base + queries, Hamming search, then exact
    * rerank of the top k·kFactor candidates (the standard LSH recipe).
    * ONE driver collect of the query batch feeds both the signature
    * scan (signed driver-side via the model) and the exact-rescore
    * broadcast map. */
  def search(base: DataFrame, queries: DataFrame, model: LSHModel, k: Int,
             kFactor: Int = 4, metric: String = "l2"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val q: Array[(Long, Array[Float])] = queries
      .select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val qSigs = q.map { case (qid, v) => (qid, model.signature(v)) }
    val cand = knnHammingLocal(
      encode(base, model).select(col("id"), col("sig")), qSigs,
      k * kFactor).select(col("qid"), col("id"))
    val bq = spark.sparkContext.broadcast(q.toMap)
    val m = metric
    val exactU = udf { (qid: Long, v: Seq[Float]) =>
      Kernels.distance(m, bq.value(qid), v.toArray)
    }
    val rescored = cand.join(base.select(col("id"), col("vec")), Seq("id"))
      .withColumn("dist", exactU(col("qid"), col("vec")))
      .select(col("qid"), col("id"), col("dist"))
    FlatSearch.mergeTopK(rescored, k)
  }
}
