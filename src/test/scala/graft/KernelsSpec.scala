package graft

import org.apache.spark.sql.functions._
import graft.functions.{Kernels, VectorFunctions}
import graft.operators.TopK

class KernelsSpec extends SparkSpec {

  test("l2Sqr/dot match naive and column-function paths bitwise") {
    import spark.implicits._
    val vs = randVecs(50, 16, seed = 7)
    // naive double loop oracle
    def naiveL2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) =>
        s + (a(i).toDouble - b(i).toDouble) * (a(i).toDouble - b(i).toDouble))
    for (i <- 0 until 10; j <- 0 until 10) {
      assert(Kernels.l2Sqr(vs(i), vs(j)) == naiveL2(vs(i), vs(j)))
    }
    // column path parity
    val df = vs.take(10).zipWithIndex.map { case (v, i) => (i, v, vs(0)) }
      .toSeq.toDF("i", "a", "b")
    val got = df.select(VectorFunctions.l2Sqr(col("a"), col("b"))).as[Double].collect()
    val want = vs.take(10).map(v => Kernels.l2Sqr(v, vs(0)))
    assert(got.sameElements(want))
    val gotDot = df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].collect()
    assert(gotDot.sameElements(vs.take(10).map(v => Kernels.dot(v, vs(0)))))
  }

  test("TopK keeps k smallest with id tie-break") {
    val rnd = new scala.util.Random(3)
    val items = Array.fill(500)((rnd.nextInt(40).toDouble, rnd.nextLong().abs))
    val h = new TopK(10)
    items.foreach { case (d, i) => h.add(d, i) }
    val want = items.sortBy { case (d, i) => (d, i) }.take(10)
    assert(h.sorted.sameElements(want))
    // under-full
    val h2 = new TopK(10)
    h2.add(5.0, 1); h2.add(1.0, 2)
    assert(h2.sorted.sameElements(Array((1.0, 2L), (5.0, 1L))))
  }

  test("codegen expressions match the HOF formulation bitwise") {
    import spark.implicits._
    val vs = randVecs(200, 64, seed = 13)
    val df = vs.zipWithIndex.map { case (v, i) => (i, v, vs((i + 7) % 200)) }
      .toSeq.toDF("i", "a", "b")
    val both = df.select(
      VectorFunctions.l2Sqr(col("a"), col("b")).as("cg"),
      VectorFunctions.l2SqrHof(col("a"), col("b")).as("hof"),
      VectorFunctions.dot(col("a"), col("b")).as("cgd"),
      VectorFunctions.dotHof(col("a"), col("b")).as("hofd"))
      .as[(Double, Double, Double, Double)].collect()
    both.foreach { case (cg, hof, cgd, hofd) =>
      assert(cg == hof); assert(cgd == hofd)
    }
    // null passthrough
    val withNull = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
    assert(withNull.select(VectorFunctions.l2Sqr(col("a"), col("b")))
      .collect()(0).isNullAt(0))
  }

  test("SQL surface: graft_l2sqr/graft_dot registered functions") {
    import spark.implicits._
    graft.GraftFunctions.register(spark)
    val vs = randVecs(10, 8, seed = 17)
    vs.zipWithIndex.map { case (v, i) => (i, v, vs(0)) }.toSeq
      .toDF("i", "a", "b").createOrReplaceTempView("pairs")
    val got = spark.sql(
      "SELECT graft_l2sqr(a, b), graft_dot(a, b) FROM pairs ORDER BY i")
      .as[(Double, Double)].collect()
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i)._1 == Kernels.l2Sqr(v, vs(0)))
      assert(got(i)._2 == Kernels.dot(v, vs(0)))
    }
  }

  test("SQL surface: graft_cosine/graft_hamming registered functions") {
    import spark.implicits._
    graft.GraftFunctions.register(spark)
    val vs = randVecs(8, 8, seed = 19)
    vs.zipWithIndex.map { case (v, i) => (i, v, vs(0)) }.toSeq
      .toDF("i", "a", "b").createOrReplaceTempView("cos_pairs")
    val gotCos = spark.sql(
      "SELECT graft_cosine(a, b) FROM cos_pairs ORDER BY i")
      .as[Double].collect()
    vs.zipWithIndex.foreach { case (v, i) =>
      val want = Kernels.dot(v, vs(0)) / (Kernels.norm(v) * Kernels.norm(vs(0)))
      assert(math.abs(gotCos(i) - want) < 1e-12,
        s"cosine($i): ${gotCos(i)} vs $want")
    }
    // documented raw-cosine semantics, conf-independent: a zero vector
    // yields NaN (never NULL, never an ANSI DIVIDE_BY_ZERO — the fused
    // CosineExpr divides in IEEE arithmetic, not via Catalyst Divide)
    val nan = spark.sql(
      "SELECT graft_cosine(array(0.0F, 0.0F), array(1.0F, 0.0F))")
      .collect()(0)
    assert(!nan.isNullAt(0) && nan.getDouble(0).isNaN,
      s"zero-vector cosine must be NaN, got $nan")
    val sigs = Seq(
      (0, Seq(0L, 0L), Seq(-1L, 0L)),      // 64 differing bits
      (1, Seq(5L, 12L), Seq(5L, 12L)),     // identical
      (2, Seq(1L, 2L), Seq(3L, 2L)))       // 1 differing bit
      .toDF("i", "a", "b")
    sigs.createOrReplaceTempView("ham_pairs")
    val gotHam = spark.sql(
      "SELECT graft_hamming(a, b) FROM ham_pairs ORDER BY i")
      .as[Int].collect().toSeq
    assert(gotHam == Seq(64, 0, 1), s"hamming: $gotHam")
  }

  test("SQL surface: the spark.sql.extensions route injects the functions") {
    // the other documented registration route: a session built WITH the
    // extension class (what `spark.sql.extensions=graft.GraftExtensions`
    // does at startup). A sibling session over the same SparkContext has
    // its own functionRegistry, so the injection is observable there
    // without touching the shared test session. getOrCreate returns the
    // active/default session un-extended, so both markers are cleared
    // for the build and restored after.
    import org.apache.spark.sql.SparkSession
    val prev = spark // realize the shared session first
    val sExt =
      try {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        SparkSession.builder().withExtensions(new GraftExtensions()).getOrCreate()
      } finally {
        SparkSession.setActiveSession(prev)
        SparkSession.setDefaultSession(prev)
      }
    assert(sExt ne prev, "builder returned the existing session — extensions not applied")
    import sExt.implicits._
    val vs = randVecs(6, 8, seed = 23)
    vs.zipWithIndex.map { case (v, i) => (i, v, vs(0)) }.toSeq
      .toDF("i", "a", "b").createOrReplaceTempView("ext_pairs")
    val got = sExt.sql(
      "SELECT graft_l2sqr(a, b), graft_dot(a, b) FROM ext_pairs ORDER BY i")
      .as[(Double, Double)].collect()
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i)._1 == Kernels.l2Sqr(v, vs(0)))
      assert(got(i)._2 == Kernels.dot(v, vs(0)))
    }
  }

  test("LSH signature bits follow Kernels.dot's sign on a near-orthogonal pair") {
    import graft.index.BinaryHash
    // 1.3f × 0.7f rounds UP in float: summing float-rounded products,
    // (1.3, 1)·(0.7, −fl(1.3 × 0.7)) is exactly 0 (bit set), while the
    // double-product dot is a hair below 0 (bit clear)
    val plane = Array(1.3f, 1f)
    val v = Array(0.7f, -(1.3f * 0.7f))
    assert((1.3f * 0.7f).toDouble > 1.3f.toDouble * 0.7f.toDouble,
      "premise: the float product rounds up")
    val dot = Kernels.dot(plane, v)
    assert(dot < 0 && dot > -1e-7)
    assert(BinaryHash.LSHModel(Array(plane)).signature(v) == 0L)
    assert(BinaryHash.WideLSHModel(Array(plane)).signature(v).toSeq == Seq(0L))
    // and on generic inputs every bit of both widths is dot's sign
    val planes = randVecs(100, 16, seed = 5, normalize = false)
    val narrow = BinaryHash.LSHModel(planes.take(63))
    val wide = BinaryHash.WideLSHModel(planes)
    randVecs(20, 16, seed = 6, normalize = false).foreach { x =>
      def bit(p: Array[Float]) = if (Kernels.dot(p, x) >= 0) 1L else 0L
      val n = narrow.signature(x)
      val w = wide.signature(x)
      planes.indices.foreach { b =>
        if (b < 63) assert(((n >>> b) & 1L) == bit(planes(b)))
        assert(((w(b >> 6) >>> (b & 63)) & 1L) == bit(planes(b)))
      }
    }
  }

  test("l2Normalize produces unit vectors") {
    val v = randVecs(5, 32, seed = 9, normalize = false)
    v.map(Kernels.l2Normalize).foreach { u =>
      assert(math.abs(Kernels.norm(u) - 1.0) < 1e-5)
    }
  }
}
