package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.quantize.PQModel
import graft.search.FlatSearch

/** IVF + PQ with residual encoding (`Auncel/IndexIVFPQ.cpp`,
  * by_residual=true): each vector stores a PQ code of (vec − centroid of
  * its list); at query time, per probed list the ADC table is built from
  * the query's residual against that centroid. Two refinement passes on
  * top of the ADC candidates: exact rerank against raw vectors
  * ([[searchRefine]], `IndexRefineFlat`) and two-level-PQ rerank against
  * code-only reconstructions ([[searchPQR]], `IndexIVFPQR.cpp` — the
  * memory point where refine IO is codes, not vectors).
  */
object IVFPQ {

  /** Train a PQ on residuals: needs the IVF assignment first. */
  def trainResidualPQ(assigned: DataFrame, model: IVFModel, m: Int,
                      nbits: Int = 8, seed: Long = 42L): PQModel = {
    val bm = assigned.sparkSession.sparkContext.broadcast(model)
    val resU = udf { (v: Seq[Float], listNo: Int) =>
      val c = bm.value.centroids(listNo)
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    val residuals = assigned.select(resU(col("vec"), col("list_no")).as("vec"))
    graft.quantize.ProductQuantizer.train(residuals, m, nbits, seed)
  }

  /** Add PQ residual codes to the assigned table. */
  def encode(assigned: DataFrame, model: IVFModel, pq: PQModel): DataFrame = {
    val spark = assigned.sparkSession
    val bm = spark.sparkContext.broadcast(model)
    val bpq = spark.sparkContext.broadcast(pq)
    val u = udf { (v: Seq[Float], listNo: Int) =>
      val c = bm.value.centroids(listNo)
      bpq.value.encode(Array.tabulate(v.length)(i => v(i) - c(i)))
    }
    assigned.withColumn("code", u(col("vec"), col("list_no")))
  }

  /** The list-independent term of the L2 ADC decomposition
    * (`Auncel/IndexIVFPQ.cpp:340-463` `precompute_table`, type 1):
    * ‖x − C − R‖² = ‖x − C‖² + (‖R‖² + 2⟨C, R⟩) − 2⟨x, R⟩, so
    * term2(list)(sub)(code) = ‖r‖² + 2⟨C_sub, r⟩ depends only on the
    * trained models. nlist × M × ksub floats — a model artifact,
    * computed once and broadcast; at search time the per-(query, list)
    * work drops from the residual table's M·ksub·dsub multiplies to an
    * M·ksub add of term2 with the per-QUERY term-3 table. */
  def precomputeTable(model: IVFModel, pq: PQModel): Array[Array[Array[Float]]] =
    Array.tabulate(model.nlist) { l =>
      val c = model.centroids(l)
      Array.tabulate(pq.m) { sub =>
        val off = sub * pq.dsub
        Array.tabulate(pq.ksub) { j =>
          val r = pq.codebooks(sub)(j)
          var rn = 0.0; var cr = 0.0; var i = 0
          while (i < pq.dsub) {
            rn += r(i).toDouble * r(i)
            cr += c(off + i).toDouble * r(i)
            i += 1
          }
          (rn + 2.0 * cr).toFloat
        }
      }
    }

  /** ADC search over the probed lists. Reads only (list_no, id, code) —
    * for d=64/M=8 that is ~32× fewer bytes than raw vectors, which is
    * the point at 100 TB.
    *
    * @param precomputed the [[precomputeTable]] output: per probed list
    *        the ADC table becomes term1 (coarse distance) + an M·ksub
    *        float add instead of an M·ksub·dsub residual-table build —
    *        the `use_precomputed_table` fast path. Distances agree with
    *        the default path up to float-summation rounding (the same
    *        contract as the reference's two table types).
    * @param polysemousHt Hamming threshold > 0 enables the polysemous
    *        filter INSIDE the IVF scan (`IndexIVFPQ.cpp` polysemous
    *        list scan): the query's own residual code per probed list
    *        Hamming-gates every stored code before any ADC work; ht ≥
    *        M·nbits keeps everything (≡ unfiltered). */
  def search(encoded: DataFrame, model: IVFModel, pq: PQModel,
             queries: DataFrame, k: Int, nprobe: Int,
             precomputed: Option[Array[Array[Array[Float]]]] = None,
             polysemousHt: Int = 0): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bq = spark.sparkContext.broadcast(q.map(_._2))
    val bm = spark.sparkContext.broadcast(model)
    val bpq = spark.sparkContext.broadcast(pq)
    val bpt = precomputed.map(spark.sparkContext.broadcast(_))
    // shared probed-list scan; the score factory keeps the lazy
    // per-(query, list) tables per partition
    graft.search.IVFSearch.probedTopK[Array[Byte]](encoded,
      df => df.select(col("list_no").cast("int"), col("id").cast("long"),
        col("code")).as[(Int, Long, Array[Byte])],
      model, q, k, Array.fill(q.length)(nprobe),
      () => {
        val codec = bpq.value
        val qs = bq.value
        val centroids = bm.value.centroids
        val pt = bpt.map(_.value)
        val tables = scala.collection.mutable.HashMap.empty[(Int, Int), Array[Array[Float]]]
        val term1s = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
        val qdots = scala.collection.mutable.HashMap.empty[Int, Array[Array[Float]]]
        val qcodes = scala.collection.mutable.HashMap.empty[(Int, Int), Array[Byte]]
        (qi, listNo, code) => {
          val ok = polysemousHt <= 0 || {
            val qc = qcodes.getOrElseUpdate((qi, listNo), {
              val c = centroids(listNo)
              val qv = qs(qi)
              codec.encode(Array.tabulate(qv.length)(j => qv(j) - c(j)))
            })
            graft.quantize.Polysemous.hamming(qc, code) <= polysemousHt
          }
          if (!ok) Double.NaN
          else pt match {
            case Some(t) =>
              val term1 = term1s.getOrElseUpdate((qi, listNo),
                graft.functions.Kernels.l2Sqr(qs(qi), centroids(listNo)))
              val tab = tables.getOrElseUpdate((qi, listNo), {
                val qt = qdots.getOrElseUpdate(qi, codec.ipTable(qs(qi)))
                val t2 = t(listNo)
                Array.tabulate(codec.m) { sub =>
                  val t2s = t2(sub); val qts = qt(sub)
                  Array.tabulate(codec.ksub) { j =>
                    (t2s(j).toDouble - 2.0 * qts(j)).toFloat
                  }
                }
              })
              term1 + codec.adcDistance(tab, code)
            case None =>
              val table = tables.getOrElseUpdate((qi, listNo), {
                val c = centroids(listNo)
                val qv = qs(qi)
                codec.adcTable(Array.tabulate(qv.length)(j => qv(j) - c(j)))
              })
              codec.adcDistance(table, code)
          }
        }
      })
  }

  /** Train the second-level refine PQ (`Auncel/IndexIVFPQR.cpp:30-45`
    * `refine_pq`): a PQ over the SECOND residual
    * vec − (centroid + decode(code)), i.e. what the first-level code
    * failed to capture. Input must be the [[encode]] output (still
    * carrying `vec`). */
  def trainRefinePQ(encoded: DataFrame, model: IVFModel, pq: PQModel,
                    m: Int, nbits: Int = 8, seed: Long = 43L): PQModel = {
    val spark = encoded.sparkSession
    val bm = spark.sparkContext.broadcast(model)
    val bpq = spark.sparkContext.broadcast(pq)
    val u = udf { (v: Seq[Float], listNo: Int, code: Array[Byte]) =>
      val c = bm.value.centroids(listNo)
      val d = bpq.value.decode(code)
      Array.tabulate(v.length)(i => v(i) - c(i) - d(i))
    }
    val res2 = encoded.select(u(col("vec"), col("list_no"), col("code")).as("vec"))
    graft.quantize.ProductQuantizer.train(res2, m, nbits, seed)
  }

  /** Add second-level refine codes (`rcode`) beside the first-level
    * ones. */
  def encodeRefine(encoded: DataFrame, model: IVFModel, pq: PQModel,
                   rpq: PQModel): DataFrame = {
    val spark = encoded.sparkSession
    val bm = spark.sparkContext.broadcast(model)
    val bpq = spark.sparkContext.broadcast(pq)
    val brpq = spark.sparkContext.broadcast(rpq)
    val u = udf { (v: Seq[Float], listNo: Int, code: Array[Byte]) =>
      val c = bm.value.centroids(listNo)
      val d = bpq.value.decode(code)
      brpq.value.encode(Array.tabulate(v.length)(i => v(i) - c(i) - d(i)))
    }
    encoded.withColumn("rcode", u(col("vec"), col("list_no"), col("code")))
  }

  /** Two-level reconstruction: centroid + decode(code) + decode(rcode),
    * float adds per component (the arithmetic the SQL oracle mirrors). */
  def reconstruct2(model: IVFModel, pq: PQModel, rpq: PQModel,
                   listNo: Int, code: Array[Byte], rcode: Array[Byte]): Array[Float] = {
    val c = model.centroids(listNo)
    val d = pq.decode(code)
    val r = rpq.decode(rcode)
    Array.tabulate(c.length)(i => c(i) + d(i) + r(i))
  }

  /** `IndexIVFPQR` search (`Auncel/IndexIVFPQR.cpp:82-126`): ADC top
    * (k·kFactor) candidates reranked by the TWO-LEVEL reconstruction
    * distance ‖q − (centroid + pq.decode + rpq.decode)‖². Unlike
    * [[searchRefine]] the rerank never touches raw vectors — refine IO
    * is m + mRefine bytes per candidate, the reference's
    * memory/accuracy point between IVFPQ and RFlat. The candidate set
    * (nq·k·kFactor rows) is broadcast and the code table streams
    * through a broadcast hash join — no shuffle of the big side. */
  def searchPQR(encodedR: DataFrame, model: IVFModel, pq: PQModel,
                rpq: PQModel, queries: DataFrame, k: Int, nprobe: Int,
                kFactor: Int = 4,
                precomputed: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val spark = encodedR.sparkSession
    import spark.implicits._
    val cand = search(encodedR, model, pq, queries, k * kFactor, nprobe,
      precomputed)
      .select(col("qid"), col("id"))
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().toMap
    val bq = spark.sparkContext.broadcast(q)
    val bm = spark.sparkContext.broadcast(model)
    val bpq = spark.sparkContext.broadcast(pq)
    val brpq = spark.sparkContext.broadcast(rpq)
    val distU = udf { (qid: Long, listNo: Int, code: Array[Byte], rcode: Array[Byte]) =>
      Kernels.l2Sqr(bq.value(qid),
        reconstruct2(bm.value, bpq.value, brpq.value, listNo, code, rcode))
    }
    val rescored = encodedR
      .select(col("id"), col("list_no").cast("int"), col("code"), col("rcode"))
      .join(broadcast(cand), Seq("id"))
      .withColumn("dist", distU(col("qid"), col("list_no"), col("code"), col("rcode")))
      .select(col("qid"), col("id"), col("dist"))
    FlatSearch.mergeTopK(rescored, k)
  }

  /** IVFPQR-style refinement: ADC top (k·kFactor) candidates reranked
    * with exact distances (join back to raw vectors). */
  def searchRefine(encoded: DataFrame, raw: DataFrame, model: IVFModel,
                   pq: PQModel, queries: DataFrame, k: Int, nprobe: Int,
                   kFactor: Int = 4,
                   precomputed: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val cand = search(encoded, model, pq, queries, k * kFactor, nprobe,
      precomputed)
      .select(col("qid"), col("id"))
    val q = queries.select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().toMap
    val bq = spark.sparkContext.broadcast(q)
    val exactU = udf { (qid: Long, v: Seq[Float]) =>
      Kernels.l2Sqr(bq.value(qid), v.toArray)
    }
    val rescored = cand
      .join(raw.select(col("id"), col("vec")), Seq("id"))
      .withColumn("dist", exactU(col("qid"), col("vec")))
      .select(col("qid"), col("id"), col("dist"))
    FlatSearch.mergeTopK(rescored, k)
  }
}
