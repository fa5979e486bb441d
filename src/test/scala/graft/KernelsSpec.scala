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

  test("the four-row batch kernel ≡ Kernels.distance by raw bits on adversarial inputs") {
    val rnd = new scala.util.Random(41)
    val specials = Array(0f, -0f, Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinPositiveValue, -Float.MinPositiveValue,
      1.17549421e-38f, Float.MaxValue, -Float.MaxValue, 1f, -1f)
    // coordinates from specials, subnormals, wide magnitudes or plain
    // Gaussians; the plain draws make every sum order-sensitive
    def coord(kind: Int): Float = kind match {
      case 0 => specials(rnd.nextInt(specials.length))
      case 1 => java.lang.Float.intBitsToFloat(rnd.nextInt(0x007fffff) + 1) *
        (if (rnd.nextBoolean()) 1f else -1f)
      case 2 => (rnd.nextGaussian() * math.pow(10, rnd.nextInt(16) - 8)).toFloat
      case _ => rnd.nextGaussian().toFloat
    }
    def vec(d: Int, kind: Int): Array[Float] = Array.fill(d)(
      if (kind == 4) coord(rnd.nextInt(4)) else coord(kind))
    def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
    var checked = 0
    for (d <- Seq(1, 3, 64, 65); n <- 0 to 9; kind <- 0 to 4; rep <- 0 until 3) {
      val q = vec(d, kind)
      val rows = Array.fill(n)(vec(d, if (rep == 0) kind else 3))
      // a near-orthogonal row: q's 2-D rotation (x, y) → (−y, x), and an
      // all-zero row, where a row slot is free
      if (n > 1 && d > 1) rows(0) = Array.tabulate(d)(i =>
        if (i == 0) -q(1) else if (i == 1) q(0) else 0f)
      if (n > 2) rows(n - 1) = new Array[Float](d)
      for (metric <- Seq("l2", "ip")) {
        val out = Array.fill(n + 2)(Double.NaN)
        Kernels.distances(Kernels.isIp(metric), q, rows, out)
        rows.indices.foreach { r =>
          val want = Kernels.distance(metric, q, rows(r))
          assert(bits(out(r)) == bits(want),
            s"$metric d=$d n=$n kind=$kind row $r: ${out(r)} vs $want")
          checked += 1
        }
        assert(out.drop(n).forall(_.isNaN), "wrote past the rows")
      }
    }
    assert(checked > 5000)
    // near-orthogonal Gaussian pairs: rows nearly orthogonal to q, whose
    // inner products cancel to a few ulps of the terms
    for (d <- Seq(3, 64, 65)) {
      val q = vec(d, 3)
      val rows = Array.fill(9) {
        val v = vec(d, 3)
        val c = (Kernels.dot(q, v) / Kernels.dot(q, q)).toFloat
        Array.tabulate(d)(i => v(i) - c * q(i))
      }
      for (metric <- Seq("l2", "ip")) {
        val out = new Array[Double](9)
        Kernels.distances(Kernels.isIp(metric), q, rows, out)
        rows.indices.foreach { r =>
          assert(bits(out(r)) == bits(Kernels.distance(metric, q, rows(r))),
            s"near-orthogonal $metric d=$d row $r")
        }
      }
    }
    assertThrows[IllegalArgumentException](Kernels.isIp("cosine"))
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
    // every bit of both widths is dot's sign
    def checkBits(planes: Array[Array[Float]], xs: Seq[Array[Float]]): Unit = {
      val narrow = BinaryHash.LSHModel(planes.take(63))
      val wide = BinaryHash.WideLSHModel(planes)
      xs.foreach { x =>
        def bit(p: Array[Float]) = if (Kernels.dot(p, x) >= 0) 1L else 0L
        val n = narrow.signature(x)
        val w = wide.signature(x)
        planes.indices.foreach { b =>
          if (b < 63) assert(((n >>> b) & 1L) == bit(planes(b)),
            s"narrow bit $b of ${x.toSeq}")
          assert(((w(b >> 6) >>> (b & 63)) & 1L) == bit(planes(b)),
            s"wide bit $b of ${x.toSeq}")
        }
      }
    }
    // on generic inputs
    checkBits(randVecs(100, 16, seed = 5, normalize = false),
      randVecs(20, 16, seed = 6, normalize = false).toSeq)
    // on ±0, NaN, ±Inf and subnormal coordinates, in the vectors and in
    // the 128 planes, at d = 1 and d = 16
    val specials = Array(0f, -0f, Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinPositiveValue, -Float.MinPositiveValue,
      1.17549421e-38f, -1.0e-40f)
    val rnd = new scala.util.Random(13)
    def sprinkle(v: Array[Float]): Array[Float] = v.map(x =>
      if (rnd.nextInt(3) == 0) specials(rnd.nextInt(specials.length)) else x)
    for (d <- Seq(1, 16)) {
      val planes = randVecs(128, d, seed = 17, normalize = false).map(sprinkle)
      val xs = specials.toSeq.map(s => Array.fill(d)(s)) ++
        randVecs(40, d, seed = 19, normalize = false).map(sprinkle)
      checkBits(planes, xs)
    }
  }

  test("l2Normalize produces unit vectors") {
    val v = randVecs(5, 32, seed = 9, normalize = false)
    v.map(Kernels.l2Normalize).foreach { u =>
      assert(math.abs(Kernels.norm(u) - 1.0) < 1e-5)
    }
  }
}
