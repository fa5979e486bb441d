package graft

import graft.index.BinaryHash
import graft.quantize.{FP16Codec, SQ4, SQ4Model}

/** SQ 4-bit / fp16 codecs (`Auncel/IndexScalarQuantizer.h:33-41`) and
  * >63-bit binary signatures (`IndexBinaryFlat.h:21`). */
class ScalarVariantsSpec extends SparkSpec {

  lazy val base = randVecs(300, 16, seed = 71, normalize = false)
  lazy val baseDF = vecDF(base).cache()

  test("SQ4: round-trip error bounded by one 15th-step; nibbles pack 2:1") {
    val sq = SQ4.train(baseDF)
    assert(sq.codeSize == 8) // 16 dims / 2
    base.take(50).foreach { v =>
      val dec = sq.decode(sq.encode(v))
      v.indices.foreach { i =>
        val step = sq.vdiff(i) / 15.0
        assert(math.abs(dec(i) - v(i)) <= step + 1e-5,
          s"dim $i err ${math.abs(dec(i) - v(i))} step $step")
      }
    }
  }

  test("SQ4 uniform shares one range across dimensions") {
    val sq = SQ4.train(baseDF, uniform = true)
    assert(sq.vmin.distinct.length == 1 && sq.vmax.distinct.length == 1)
    val perDim = SQ4.train(baseDF)
    // shared range is the envelope of the per-dim ranges
    assert(sq.vmin(0) == perDim.vmin.min && sq.vmax(0) == perDim.vmax.max)
  }

  test("SQ6: round-trip error bounded by one 63rd-step; 6-bit packing") {
    val sq = graft.quantize.SQ6.train(baseDF)
    assert(sq.codeSize == 12) // 16 dims * 6 bits = 96 bits = 12 bytes
    base.take(50).foreach { v =>
      val dec = sq.decode(sq.encode(v))
      v.indices.foreach { i =>
        val step = sq.vdiff(i) / 63.0
        assert(math.abs(dec(i) - v(i)) <= step + 1e-5,
          s"dim $i err ${math.abs(dec(i) - v(i))} step $step")
      }
    }
    // packing is dense: distinct nearby vectors get distinct codes
    val codes = base.take(50).map(v => sq.encode(v).toSeq).distinct
    assert(codes.length == 50)
  }

  test("SQ8 uniform shares one range across dimensions") {
    val sq = graft.quantize.ScalarQuantizer.train(baseDF, uniform = true)
    assert(sq.vmin.distinct.length == 1 && sq.vmax.distinct.length == 1)
  }

  test("fp16: known IEEE half values round-trip exactly") {
    // (input, exact half value) — standard conversion cases incl.
    // round-to-nearest-even ties and a subnormal
    val cases = Seq(
      1.0f -> 1.0f,
      0.5f -> 0.5f,
      65504f -> 65504f,          // max finite half
      0.1f -> 0.0999755859375f,  // classic inexact decimal
      1.0009765625f -> 1.0009765625f, // 1 + 2^-10: exactly representable
      // 1 + 2^-11 is exactly between 1 and 1+2^-10 → ties-to-even → 1
      1.00048828125f -> 1.0f,
      6.1e-5f -> 6.0975552e-5f,  // just below 2^-14: subnormal grid (2^-24 steps)
      -2.5f -> -2.5f,
      0f -> 0f)
    cases.foreach { case (in, want) =>
      assert(FP16Codec.roundToHalf(in) == want, s"roundToHalf($in)")
    }
    val codec = FP16Codec(cases.length)
    val v = cases.map(_._1).toArray
    val dec = codec.decode(codec.encode(v))
    cases.map(_._2).zip(dec).foreach { case (want, got) =>
      assert(got == want, s"decode(encode) $got != $want")
    }
  }

  test("fp16 bits: encode produces canonical IEEE half bit patterns") {
    def bits(f: Float): Int = FP16Codec.toBits(f)
    assert(bits(1.0f) == 0x3c00)
    assert(bits(-2.0f) == 0xc000)
    assert(bits(65504f) == 0x7bff)
    assert(bits(0f) == 0x0000)
    assert(bits(5.9604645e-8f) == 0x0001) // smallest subnormal half
    assert(bits(Float.PositiveInfinity) == 0x7c00)
  }

  test("wide binary signatures: 128 bits, hamming symmetric, self-zero") {
    val model = BinaryHash.trainWide(d = 16, nbits = 128, seed = 13L)
    val sigs = base.take(20).map(model.signature)
    sigs.foreach(s => assert(s.length == 2))
    sigs.combinations(2).foreach { case Array(a, b) =>
      assert(BinaryHash.hammingWide(a, b) == BinaryHash.hammingWide(b, a))
    }
    sigs.foreach(s => assert(BinaryHash.hammingWide(s, s) == 0))
  }

  test("binary IVF: full probe equals flat wide scan; partial probe keeps recall") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.index.IVFIndex
    val cl = clusteredVecs(1000, 16, nClusters = 8, seed = 74)
    val df = vecDF(cl).cache()
    val ivf = IVFIndex.train(df, nlist = 8, seed = 42L)
    val model = BinaryHash.trainWide(d = 16, nbits = 128, seed = 13L)
    val enc = BinaryHash.encodeIvf(IVFIndex.assign(df, ivf), model).cache()
    val qDF = vecDF(cl.take(6), "qid")

    val flat = BinaryHash.knnHammingWide(
      enc.select(col("id"), col("sig")),
      BinaryHash.encodeWide(qDF, model).select(col("qid"), col("sig")), k = 5)
      .select(col("qid"), col("rank"), col("id"), col("dist"))
      .as[(Long, Int, Long, Double)].collect().sorted
    val full = BinaryHash.knnHammingIvf(enc, ivf, model, qDF, k = 5, nprobe = 8)
      .select(col("qid"), col("rank"), col("id"), col("dist"))
      .as[(Long, Int, Long, Double)].collect().sorted
    assert(full.sameElements(flat), "full-probe binary IVF != flat wide scan")

    // partial probe: scans a fraction of lists, keeps most of the
    // full-scan top-k on clustered data (queries are base members)
    val part = BinaryHash.knnHammingIvf(enc, ivf, model, qDF, k = 5, nprobe = 2)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val fullSets = full.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    val recall = fullSets.map { case (q, ids) =>
      (part.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size
    }.sum / fullSets.size
    assert(recall >= 0.5, s"nprobe=2/8 recall vs full probe: $recall")
  }

  test("binary HNSW: exhaustive beam equals flat wide scan; persists; moderate beam keeps recall") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.index.BinaryHNSW
    val cl = clusteredVecs(800, 16, nClusters = 8, seed = 75)
    val df = vecDF(cl).cache()
    val model = BinaryHash.trainWide(d = 16, nbits = 128, seed = 13L)
    val sigs = BinaryHash.encodeWide(df, model).select(col("id"), col("sig")).cache()
    val qDF = vecDF(cl.take(5), "qid")
    val qsigs = BinaryHash.encodeWide(qDF, model, "vec")
      .select(col("qid"), col("sig")).cache()
    val graph = BinaryHNSW.buildGraph(sigs, nParts = 4).cache()

    def collect(res: org.apache.spark.sql.DataFrame) = res
      .select(col("qid"), col("rank"), col("id"), col("dist"))
      .as[(Long, Int, Long, Double)].collect().sorted
    val flat = collect(BinaryHash.knnHammingWide(sigs, qsigs, k = 5))
    // efSearch >= block size (800/4 = 200) -> exhaustive beam -> exact
    val exact = collect(BinaryHNSW.searchGraph(graph, qsigs, k = 5, efSearch = 256))
    assert(exact.sameElements(flat), "exhaustive binary beam != flat wide scan")

    // write -> read -> search is identical
    val path = java.nio.file.Files.createTempDirectory("bhnsw").toString + "/g"
    graft.index.HNSW.writeGraph(graph, path)
    val back = collect(BinaryHNSW.searchGraph(
      graft.index.HNSW.readGraph(spark, path), qsigs, k = 5, efSearch = 256))
    assert(back.sameElements(exact), "persisted binary graph differs")

    // moderate beam: most of the exact Hamming top-k survives
    val beam = BinaryHNSW.searchGraph(graph, qsigs, k = 5, efSearch = 48)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactSets = flat.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = exactSets.map { case (q, ids) =>
      (beam.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size
    }.sum / exactSets.size
    assert(recall >= 0.6, s"binary HNSW beam recall $recall")
  }

  test("wide Hamming k-NN matches a driver-side brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val model = BinaryHash.trainWide(d = 16, nbits = 128, seed = 13L)
    val sigs = BinaryHash.encodeWide(baseDF, model).select(col("id"), col("sig"))
    val qDF = vecDF(base.take(4), "qid")
    val qsigs = BinaryHash.encodeWide(qDF, model).select(col("qid"), col("sig"))
    val got = BinaryHash.knnHammingWide(sigs, qsigs, k = 5)
      .select(col("qid"), col("rank"), col("id"), col("dist"))
      .as[(Long, Int, Long, Double)].collect().sorted
    val sigArr = base.map(model.signature)
    val want = (0 until 4).flatMap { qi =>
      sigArr.zipWithIndex
        .map { case (s, i) =>
          (BinaryHash.hammingWide(sigArr(qi), s).toDouble, i.toLong)
        }
        .sortBy { case (d, i) => (d, i) }.take(5).zipWithIndex
        .map { case ((d, i), r) => (qi.toLong, r + 1, i, d) }
    }.sorted
    assert(got.sameElements(want))
  }
}
