package graft

import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.{IVFIndex, IVFPQ}
import graft.quantize.{ProductQuantizer, ScalarQuantizer}
import graft.search.FlatSearch

class QuantizerSpec extends SparkSpec {

  lazy val base = clusteredVecs(2000, 32, nClusters = 24, seed = 31)
  lazy val baseDF = vecDF(base).cache()
  lazy val qDF = vecDF(clusteredVecs(2010, 32, nClusters = 24, seed = 31).drop(2000), "qid")
  lazy val exact = {
    import spark.implicits._
    FlatSearch.knn(baseDF, qDF, k = 10)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  def recallOf(res: org.apache.spark.sql.DataFrame): Double = {
    import spark.implicits._
    val got = res.select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    exact.map { case (q, ids) => (got.getOrElse(q, Set.empty) & ids).size / 10.0 }
      .sum / exact.size
  }

  test("PQ encode/decode round-trip has bounded reconstruction error") {
    val pq = ProductQuantizer.train(baseDF, m = 8, nbits = 8, seed = 1L)
    val errs = base.take(100).map { v =>
      Kernels.l2Sqr(v, pq.decode(pq.encode(v)))
    }
    val meanNorm = base.take(100).map(Kernels.normSqr(_)).sum / 100
    assert(errs.max < meanNorm, s"reconstruction worse than zero vector")
    assert(errs.sum / errs.length < 0.15 * meanNorm,
      s"mean rec err ${errs.sum / errs.length} vs norm $meanNorm")
  }

  test("ADC brute-force k-NN recall is high") {
    val pq = ProductQuantizer.train(baseDF, m = 8, nbits = 8, seed = 1L)
    val codes = ProductQuantizer.encode(baseDF, pq).drop("vec")
    val r = recallOf(ProductQuantizer.knnADC(codes, pq, qDF, k = 10))
    assert(r > 0.5, s"ADC recall $r") // raw (non-residual) PQ; residual IVFPQ scores higher below
  }

  test("IVFPQ residual search beats raw-PQ locality and refine restores exactness") {
    val model = IVFIndex.train(baseDF, nlist = 16, seed = 42L)
    val assigned = IVFIndex.assign(baseDF, model).cache()
    val pq = IVFPQ.trainResidualPQ(assigned, model, m = 8, nbits = 8)
    val enc = IVFPQ.encode(assigned, model, pq).cache()
    val r = recallOf(IVFPQ.search(enc.drop("vec"), model, pq, qDF, k = 10, nprobe = 16))
    assert(r > 0.6, s"IVFPQ recall $r")
    val rr = recallOf(IVFPQ.searchRefine(enc.drop("vec"), baseDF, model, pq, qDF,
      k = 10, nprobe = 16, kFactor = 5))
    assert(rr >= r, s"refine $rr < adc $r")
    assert(rr > 0.9, s"refined recall $rr")
  }

  test("precomputed-table ADC returns the same neighbors as the residual-table path") {
    import spark.implicits._
    val model = IVFIndex.train(baseDF, nlist = 16, seed = 42L)
    val assigned = IVFIndex.assign(baseDF, model).cache()
    val pq = IVFPQ.trainResidualPQ(assigned, model, m = 8, nbits = 8)
    val enc = IVFPQ.encode(assigned, model, pq).drop("vec").cache()
    val pt = IVFPQ.precomputeTable(model, pq)
    def run(p: Option[Array[Array[Array[Float]]]]) =
      IVFPQ.search(enc, model, pq, qDF, k = 10, nprobe = 8, precomputed = p)
        .select(col("qid"), col("rank"), col("id"), col("dist"))
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val off = run(None)
    val on = run(Some(pt))
    // identical neighbor sets and ranks; distances agree to float-sum
    // rounding (the decomposition reassociates the same terms)
    assert(off.map(r => (r._1, r._2, r._3)).sameElements(
      on.map(r => (r._1, r._2, r._3))))
    off.zip(on).foreach { case (a, b) =>
      assert(math.abs(a._4 - b._4) <= 1e-3 * (1.0 + math.abs(a._4)),
        s"dist drift ${a._4} vs ${b._4}")
    }
    // term2 values match a direct evaluation of ||r||^2 + 2<C,r>
    val c0 = model.centroids(3)
    val r0 = pq.codebooks(2)(17)
    val off2 = 2 * pq.dsub
    var rn = 0.0; var cr = 0.0
    r0.indices.foreach { i =>
      rn += r0(i).toDouble * r0(i); cr += c0(off2 + i).toDouble * r0(i)
    }
    assert(pt(3)(2)(17) == (rn + 2 * cr).toFloat)
  }

  test("polysemous ht inside the IVFPQ scan filters without losing wide-ht results") {
    import spark.implicits._
    val model = IVFIndex.train(baseDF, nlist = 16, seed = 42L)
    val assigned = IVFIndex.assign(baseDF, model).cache()
    val pq = graft.quantize.Polysemous.train(
      IVFPQ.trainResidualPQ(assigned, model, m = 8, nbits = 8), nIter = 20000)
    val enc = IVFPQ.encode(assigned, model, pq).drop("vec").cache()
    def run(ht: Int) =
      IVFPQ.search(enc, model, pq, qDF, k = 10, nprobe = 16, polysemousHt = ht)
    // ht = full code width keeps every candidate — identical to unfiltered
    val unfiltered = run(0).select(col("qid"), col("rank"), col("id"))
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    val wide = run(pq.m * pq.nbits).select(col("qid"), col("rank"), col("id"))
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2))
    assert(unfiltered.sameElements(wide))
    // a practical ht prunes work but keeps most true neighbors, and
    // every surviving result is a subset of some query's candidates
    val rWide = recallOf(run(pq.m * pq.nbits))
    val rHt = recallOf(run(30))
    assert(rHt <= rWide + 1e-9)
    assert(rHt > 0.4, s"ht=30 recall collapsed: $rHt")
    // precomputed table composes with the filter
    val pt = IVFPQ.precomputeTable(model, pq)
    val both = IVFPQ.search(enc, model, pq, qDF, k = 10, nprobe = 16,
      precomputed = Some(pt), polysemousHt = 30)
      .select(col("qid"), col("id")).as[(Long, Long)].collect().toSet
    val filtOnly = run(30).select(col("qid"), col("id"))
      .as[(Long, Long)].collect().toSet
    assert(both == filtOnly)
  }

  test("IVFPQR two-level refine: smaller residuals, better recall, code-only rerank") {
    val model = IVFIndex.train(baseDF, nlist = 16, seed = 42L)
    val assigned = IVFIndex.assign(baseDF, model).cache()
    val pq = IVFPQ.trainResidualPQ(assigned, model, m = 8, nbits = 8)
    val enc = IVFPQ.encode(assigned, model, pq).cache()
    val rpq = IVFPQ.trainRefinePQ(enc, model, pq, m = 8, nbits = 8)
    val encR = IVFPQ.encodeRefine(enc, model, pq, rpq).cache()

    // the second level captures what the first missed: two-level
    // reconstruction strictly improves on one-level for most vectors
    import spark.implicits._
    val sample = encR.select(col("vec"), col("list_no").cast("int"),
      col("code"), col("rcode"))
      .as[(Array[Float], Int, Array[Byte], Array[Byte])].take(200)
    val (e1, e2) = sample.map { case (v, l, c, rc) =>
      val one = {
        val cen = model.centroids(l); val d = pq.decode(c)
        Array.tabulate(v.length)(i => cen(i) + d(i))
      }
      (Kernels.l2Sqr(v, one), Kernels.l2Sqr(v, IVFPQ.reconstruct2(model, pq, rpq, l, c, rc)))
    }.unzip
    assert(e2.sum < e1.sum, s"two-level recon ${e2.sum} not below one-level ${e1.sum}")

    val rAdc = recallOf(IVFPQ.search(enc.drop("vec"), model, pq, qDF, k = 10, nprobe = 16))
    val rPqr = recallOf(IVFPQ.searchPQR(encR.drop("vec"), model, pq, rpq, qDF,
      k = 10, nprobe = 16, kFactor = 5))
    assert(rPqr >= rAdc, s"PQR rerank $rPqr below plain ADC $rAdc")

    // exhaustive-candidate config: PQR ranks the whole collection by
    // two-level reconstruction distance — rerank is deterministic and
    // self-consistent with reconstruct2
    val all = IVFPQ.searchPQR(encR.drop("vec"), model, pq, rpq, qDF.limit(2),
      k = 5, nprobe = 16, kFactor = 400)
    val byQ = all.select(col("qid"), col("id"), col("dist"))
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    val qv = qDF.limit(2).select(col("qid"), col("vec"))
      .as[(Long, Array[Float])].collect().toMap
    val codeMap = encR.select(col("id"), col("list_no").cast("int"),
      col("code"), col("rcode"))
      .as[(Long, Int, Array[Byte], Array[Byte])].collect()
      .map { case (id, l, c, rc) => (id, (l, c, rc)) }.toMap
    byQ.foreach { case (q, rows) =>
      rows.foreach { case (_, id, d) =>
        val (l, c, rc) = codeMap(id)
        val expect = Kernels.l2Sqr(qv(q), IVFPQ.reconstruct2(model, pq, rpq, l, c, rc))
        assert(d == expect, s"qid $q id $id dist $d != recon dist $expect")
      }
    }
  }

  test("SQ8 quantization error is small and knn recall near-exact") {
    val sq = ScalarQuantizer.train(baseDF)
    val v = base(7)
    val rt = sq.decode(sq.encode(v))
    val err = math.sqrt(Kernels.l2Sqr(v, rt) / Kernels.normSqr(v))
    assert(err < 0.02, s"SQ8 relative err $err")
    val codes = ScalarQuantizer.encode(baseDF, sq).drop("vec")
    val r = recallOf(ScalarQuantizer.knn(codes, sq, qDF, k = 10))
    assert(r > 0.95, s"SQ8 recall $r")
  }

  test("flat ADC and SQ scans return exactly the scalar loop's rows") {
    import spark.implicits._
    val k = 10
    val qs = qDF.select(col("qid"), col("vec")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    // expected rows: every code scored against every query by a plain
    // loop, ordered by (dist, id), ranked 1..k
    def check(name: String, res: org.apache.spark.sql.DataFrame,
              codes: org.apache.spark.sql.DataFrame,
              dist: (Array[Float], Array[Byte]) => Double): Unit = {
      val cs = codes.select(col("id"), col("code")).as[(Long, Array[Byte])]
        .collect()
      val want = qs.flatMap { case (qid, qv) =>
        cs.map { case (id, c) => (dist(qv, c), id) }.sorted.take(k)
          .zipWithIndex.map { case ((d, id), r) => (qid, id, d, r + 1) }
      }
      val got = res.select(col("qid"), col("id"), col("dist"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      assert(got.sameElements(want), s"$name rows differ from the scalar loop")
    }
    val pq = ProductQuantizer.train(baseDF, m = 8, nbits = 8, seed = 1L)
    val pqCodes = ProductQuantizer.encode(baseDF, pq).drop("vec")
    check("ADC", ProductQuantizer.knnADC(pqCodes, pq, qDF, k), pqCodes,
      (qv, c) => pq.adcDistance(pq.adcTable(qv), c))
    val sq = ScalarQuantizer.train(baseDF)
    val sqCodes = ScalarQuantizer.encode(baseDF, sq).drop("vec")
    for (metric <- Seq("l2", "ip"))
      check(s"SQ8 $metric", ScalarQuantizer.knn(sqCodes, sq, qDF, k, metric),
        sqCodes, (qv, c) => Kernels.distance(metric, qv, sq.decode(c)))
  }
}
