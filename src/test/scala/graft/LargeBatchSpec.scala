package graft

import org.apache.spark.sql.functions._
import graft.index.BinaryHash
import graft.search.FlatSearch

/** Large-batch twins: query batches past the driver contract (>131k)
  * run through query-DataFrame-resident paths with NO driver-side query
  * collect — reference parity with `Auncel/dist/worker.cpp`, which
  * serves every search kind at any batch size. The LIMIT-bounded
  * routing guard means small batches pay exactly one collect (as
  * before) and huge batches materialize only the bounded prefix. */
class LargeBatchSpec extends SparkSpec {

  val d = 8
  val nq = 140000 // > DistributedMinQueries = 131072 → auto-routes

  lazy val baseDF = vecDF(randVecs(256, d, seed = 5)).cache()

  // capture only a local in the closure (the spec class is not serializable)
  private val genVec = {
    val dd = d
    udf { qid: Long =>
      val r = new scala.util.Random(qid * 2654435761L + 7)
      Array.fill(dd)(r.nextGaussian().toFloat)
    }
  }

  test("flat knn: >131k queries auto-route, results equal the small path") {
    import spark.implicits._
    val queries = spark.range(nq).toDF("qid").withColumn("vec", genVec(col("qid")))
    val res = FlatSearch.knn(baseDF, queries, k = 3).cache()
    assert(res.count() == nq * 3L)

    // bit-exact vs the collect-and-broadcast path on a sampled slice
    // (the codegen'd kernel sums left-to-right in double, like Kernels)
    val slice = queries.filter(col("qid") % 14000 === 0)
    val want = FlatSearch.knn(baseDF, slice, 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
    val got = res.join(slice.select(col("qid")), Seq("qid"))
      .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
    assert(want.length == 30 && got.sameElements(want))
    res.unpersist()
  }

  test("forceDistributed crossTopK ≡ small path on a driver-size batch") {
    import spark.implicits._
    for (metric <- Seq("l2", "ip")) {
      val queries = spark.range(64).toDF("qid").withColumn("vec", genVec(col("qid")))
      val large = FlatSearch.knn(baseDF, queries, k = 5, metric,
        forceDistributed = true)
        .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
      val small = FlatSearch.knn(baseDF, queries, k = 5, metric)
        .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
      assert(large.sameElements(small), s"metric=$metric differs")
    }
  }

  test("hamming knn: >131k query signatures stay in a DataFrame") {
    import spark.implicits._
    val model = BinaryHash.train(d, nbits = 63, seed = 3L)
    val sigs = BinaryHash.encode(baseDF, model).select(col("id"), col("sig"))
      .cache()
    // signatures derived arithmetically — the scan only needs (qid, sig)
    val querySigs = spark.range(nq).toDF("qid")
      .withColumn("sig", pmod(col("qid") * lit(2654435761L) + lit(11), lit(1L << 62)))
    val res = BinaryHash.knnHamming(sigs, querySigs, k = 3).cache()
    assert(res.count() == nq * 3L)

    val slice = querySigs.filter(col("qid") % 14000 === 0)
    val want = BinaryHash.knnHamming(sigs, slice, 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
    val got = res.join(slice.select(col("qid")), Seq("qid"))
      .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
    assert(want.length == 30 && got.sameElements(want))
    res.unpersist(); sigs.unpersist()
  }

  test("wide hamming knn: >131k ARRAY<LONG> signatures stay in a DataFrame") {
    import spark.implicits._
    val model = BinaryHash.trainWide(d, nbits = 128, seed = 9L)
    val sigs = BinaryHash.encodeWide(baseDF, model)
      .select(col("id"), col("sig")).cache()
    val genSig = udf { qid: Long =>
      Array(qid * 2654435761L + 3, qid * 912871L ^ 0x5bf03635L)
    }
    val querySigs = spark.range(nq).toDF("qid")
      .withColumn("sig", genSig(col("qid")))
    val res = BinaryHash.knnHammingWide(sigs, querySigs, k = 3).cache()
    assert(res.count() == nq * 3L)

    val slice = querySigs.filter(col("qid") % 14000 === 0)
    val want = BinaryHash.knnHammingWide(sigs, slice, 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
    val got = res.join(slice.select(col("qid")), Seq("qid"))
      .as[(Long, Long, Double, Int)].collect().sortBy(x => (x._1, x._4))
    assert(want.length == 30 && got.sameElements(want))
    res.unpersist(); sigs.unpersist()
  }
}
