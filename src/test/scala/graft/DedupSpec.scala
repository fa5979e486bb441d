package graft

import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.BinaryHash
import graft.ops.{EmbeddingDedup, MinHash}

class DedupSpec extends SparkSpec {

  test("d04 shingle-df cap engages: hot-shingle-only pairs vanish, rare overlap survives") {
    import spark.implicits._
    import graft.queries.Documents
    val dir = java.nio.file.Files.createTempDirectory("capdocs").toString
    // 200 docs all sharing ONE hot shingle ("hot one two", df=200 > τ=128)
    // plus unique filler; docs 1 and 2 are identical with only rare shingles
    val filler = (10 until 210).map { id =>
      (id.toLong, s"hot one two u${id}a u${id}b u${id}c")
    }
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"))
    (planted ++ filler).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Documents.d04JaccardTop(spark, dir)
      .select(col("a"), col("b"), col("jaccard"))
      .as[(Long, Long, Double)].collect()
    // without the cap every filler pair shares the hot shingle →
    // ~20k candidate pairs and a full top-20; with it, only the
    // planted rare-shingle pair remains, at exact Jaccard 1.0
    assert(got.length == 1, s"expected only the planted pair, got ${got.toSeq}")
    assert(got.head == ((1L, 2L, 1.0)), s"got ${got.head}")
  }

  test("MinHash estimate tracks exact Jaccard") {
    import spark.implicits._
    val words = (1 to 60).map(i => s"w$i")
    def doc(drop: Int) =
      words.zipWithIndex.map { case (w, i) => if (i % 60 < drop) s"x$i" else w }
        .mkString(" ")
    // doc1 vs doc0: small edit; doc2: half replaced; doc3: unrelated
    val docs = Seq((0L, doc(0)), (1L, doc(3)), (2L, doc(30)),
      (3L, (1 to 60).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val sigs = MinHash.signatures(docs, numHashes = 64).cache()
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val est = MinHash.estimate(pairs, sigs)
      .as[(Long, Long, Double)].collect().map(r => ((r._1, r._2), r._3)).toMap

    def exactJaccard(x: String, y: String): Double = {
      def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val sa = sh(x); val sb = sh(y)
      (sa & sb).size.toDouble / (sa | sb).size
    }
    val texts = docs.as[(Long, String)].collect().toMap
    Seq((0L, 1L), (0L, 2L), (0L, 3L)).foreach { case (a, b) =>
      val ex = exactJaccard(texts(a), texts(b))
      assert(math.abs(est((a, b)) - ex) < 0.15,
        s"pair ($a,$b): est ${est((a, b))} vs exact $ex")
    }
    // ordering preserved: near-dup > half > unrelated
    assert(est((0L, 1L)) > est((0L, 2L)))
    assert(est((0L, 2L)) > est((0L, 3L)))
  }

  test("LSH-bucketed near-dup finds planted duplicates without all-pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val originals = randVecs(500, 32, seed = 101)
    // plant 20 near-duplicates: originals 0..19 + tiny noise, ids 500..519
    val dups = (0 until 20).map { i =>
      Array.tabulate(32)(j => originals(i)(j) + 0.01f * rnd.nextGaussian().toFloat)
    }
    val all = originals ++ dups
    val df = vecDF(all)
    val model = BinaryHash.train(d = 32, nbits = 63, seed = 11L)

    val got = EmbeddingDedup.lshPairs(df, model, threshold = 0.99)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val want = EmbeddingDedup.exactPairs(df, threshold = 0.99)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(want.size >= 20, s"expected ≥20 planted pairs, exact found ${want.size}")
    // banded candidates must recover nearly all true near-dups
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.9, s"LSH near-dup recall $recall (got ${got.size}, want ${want.size})")
    // and no false positives survive the exact-cosine filter
    assert((got -- want).isEmpty)
  }

  test("lshPairs oversized-bucket cap: join fallback ≡ collected broadcast") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val originals = randVecs(200, 32, seed = 101)
    // 30 IDENTICAL vectors co-bucket in every band → guaranteed
    // oversized buckets at maxBucket=8; plus 10 genuine near-dups that
    // live in small buckets and must survive identically on both paths
    val heavy = Array.fill(30)(originals(50))
    val dups = (0 until 10).map { i =>
      Array.tabulate(32)(j => originals(i)(j) + 0.01f * rnd.nextGaussian().toFloat)
    }
    val df = vecDF(originals ++ dups ++ heavy)
    val model = BinaryHash.train(d = 32, nbits = 63, seed = 11L)
    def run(): Set[(Long, Long)] =
      EmbeddingDedup.lshPairs(df, model, threshold = 0.99, maxBucket = 8)
        .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val viaCollect = run()
    val savedCap = EmbeddingDedup.subSplitCollectCap
    val viaJoin =
      try { EmbeddingDedup.subSplitCollectCap = 0; run() }
      finally EmbeddingDedup.subSplitCollectCap = savedCap
    assert(viaJoin == viaCollect,
      s"fallback diverged: only-join=${viaJoin -- viaCollect} " +
        s"only-collect=${viaCollect -- viaJoin}")
    assert(viaCollect.nonEmpty, "fixture must keep small-bucket pairs")
  }

  test("ivfPairs: cluster-bucketed semantic dedup == exact pairs on planted twins") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // three well-separated clusters of 40 points each in 16-dim
    val centers = Array(0, 5, 10).map(o =>
      Array.tabulate(16)(j => if (j == o) 10f else 0f))
    val pts = (0 until 120).map { i =>
      val c = centers(i / 40)
      Array.tabulate(16)(j => c(j) + 0.3f * rnd.nextGaussian().toFloat)
    }.toArray
    // plant twins for the first 10 points of each cluster, ids 1000+
    val twins = (0 until 120).collect { case i if i % 40 < 10 => pts(i) }
    val all = pts ++ twins
    val ids = (0 until 120).map(_.toLong) ++
      (0 until 120).collect { case i if i % 40 < 10 => 1000L + i }
    val df = ids.zip(all.map(_.toSeq)).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val model = graft.index.IVFIndex.train(df, nlist = 3)
    val assigned = graft.index.IVFIndex.assign(df, model)
    // identical vectors land in identical lists: argmin is deterministic
    val got = EmbeddingDedup.ivfPairs(assigned, threshold = 0.99)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val want = EmbeddingDedup.exactPairs(df, threshold = 0.99)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(want.size >= 30, s"expected the 30 planted twin pairs, exact found ${want.size}")
    assert(got == want,
      s"cluster-bucketed pairs diverge: missing ${(want -- got).size}, extra ${(got -- want).size}")
  }

  test("ivfPairs oversized-list guard: sub-k-means refinement keeps planted-twin recall 1.0") {
    import spark.implicits._
    // ONE degenerate list holding the whole fixture (the boilerplate-
    // cluster shape the guard exists for): 120 spread points, plus
    // 15 positively-SCALED twins (not bit-identical → must co-assign
    // through every refinement level: spherical argmax is
    // scale-invariant) and 15 bit-IDENTICAL twins
    val pts = randVecs(120, 16, seed = 21)
    val scaled = (0 until 15).map(i => pts(i).map(_ * 1.5f)).toArray
    val ident = (15 until 30).map(i => pts(i).clone()).toArray
    val all = pts ++ scaled ++ ident
    val ids = (0 until 150).map(_.toLong)
    val df = ids.zip(all.map(_.toSeq)).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val assigned = df.withColumn("list_no", lit(0)) // 150 ≫ maxList=32
    val got = EmbeddingDedup.ivfPairs(assigned, threshold = 0.99, maxList = 32)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val want = EmbeddingDedup.exactPairs(df, threshold = 0.99)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val planted = ((0 until 15).map(i => (i.toLong, 120L + i)) ++
      (15 until 30).map(i => (i.toLong, 120L + i))).toSet
    assert(planted.subsetOf(want), "fixture: exact must see every twin")
    assert(planted.subsetOf(got),
      s"guard lost planted twins: ${planted -- got}")
    assert(got.subsetOf(want), s"guard produced non-pairs: ${got -- want}")
  }

  test("ivfPairs guard: join-based oversized-key fallback ≡ the collected-broadcast path") {
    import spark.implicits._
    // same degenerate-list fixture as the refinement test; forcing the
    // per-level key collect cap to 0 makes EVERY level discover "too
    // many" oversized cells and split via shuffle joins on the
    // aggregated key frame — output must be identical pair-for-pair
    val pts = randVecs(120, 16, seed = 33)
    val scaled = (0 until 15).map(i => pts(i).map(_ * 2.0f)).toArray
    val ident = (15 until 30).map(i => pts(i).clone()).toArray
    val all = pts ++ scaled ++ ident
    val ids = (0 until 150).map(_.toLong)
    val df = ids.zip(all.map(_.toSeq)).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val assigned = df.withColumn("list_no", lit(0))
    def run(): Set[(Long, Long, Double)] =
      EmbeddingDedup.ivfPairs(assigned, threshold = 0.99, maxList = 32)
        .as[(Long, Long, Double)].collect().toSet
    val viaCollect = run()
    val savedCap = EmbeddingDedup.subSplitCollectCap
    val viaJoin =
      try { EmbeddingDedup.subSplitCollectCap = 0; run() }
      finally EmbeddingDedup.subSplitCollectCap = savedCap
    assert(viaJoin == viaCollect,
      s"fallback diverged: only-join=${viaJoin -- viaCollect} " +
        s"only-collect=${viaCollect -- viaJoin}")
    assert(viaCollect.nonEmpty, "fixture must produce pairs")
  }

  test("ivfPairs and lshPairs take a reliable checkpoint when a checkpoint dir is set") {
    import spark.implicits._
    // the refinement fixture, with the key collect cap at 0 so every
    // materialization runs: the oversized-key aggregates of both guards,
    // each refinement level's reassignment and the banded rerank
    val rnd = new scala.util.Random(7)
    val pts = randVecs(120, 16, seed = 35)
    val scaled = (0 until 15).map(i => pts(i).map(_ * 2.0f)).toArray
    val ident = (15 until 30).map(i => pts(i).clone()).toArray
    val near = (30 until 40).map(i =>
      pts(i).map(x => x + 0.01f * rnd.nextGaussian().toFloat)).toArray
    val all = pts ++ scaled ++ ident ++ near
    val df = all.indices.map(_.toLong).zip(all.map(_.toSeq)).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val assigned = df.withColumn("list_no", lit(0))
    val model = BinaryHash.train(d = 16, nbits = 63, seed = 11L)
    def pairs(out: org.apache.spark.sql.DataFrame) =
      out.select(col("a").cast("long"), col("b").cast("long"),
          col("cos").cast("double")).as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b, java.lang.Double.doubleToRawLongBits(c)) }
        .sorted.toSeq
    def run() = {
      val savedCap = EmbeddingDedup.subSplitCollectCap
      try {
        EmbeddingDedup.subSplitCollectCap = 0
        (pairs(EmbeddingDedup.ivfPairs(assigned, threshold = 0.99, maxList = 32)),
          pairs(EmbeddingDedup.lshPairs(df, model, threshold = 0.99, maxBucket = 8)))
      } finally EmbeddingDedup.subSplitCollectCap = savedCap
    }
    def files(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(files).sum
      else 1
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("dedup_ckpt").toFile
    sc.setCheckpointDir(null)
    val (localIvf, localLsh) = run()
    assert(files(dir) == 0)
    sc.setCheckpointDir(dir.getPath)
    try {
      val (ckptIvf, ckptLsh) = run()
      assert(localIvf.nonEmpty && localLsh.nonEmpty, "fixture must produce pairs")
      assert(ckptIvf == localIvf, "checkpointed ivfPairs rows differ")
      assert(ckptLsh == localLsh, "checkpointed lshPairs rows differ")
      assert(files(dir) > 0, "the checkpoint dir gained no files")
    } finally sc.setCheckpointDir(prev.orNull)
  }

  test("ivfPairs guard: dropped cells still pair bit-identical twins") {
    import spark.implicits._
    // maxLevels=0 forces the terminal drop arm immediately (the whole
    // 100-row list is one over-maxList cell and no refinement round is
    // allowed) — only the density-independent exact-dup candidates
    // remain: identical twins stay recall 1.0, scaled twins
    // legitimately lose candidacy (the documented drop contract), and
    // the output stays a subset of exact
    val pts = randVecs(80, 16, seed = 22)
    val ident = (0 until 10).map(i => pts(i).clone()).toArray
    val scaled = (10 until 20).map(i => pts(i).map(_ * 2f)).toArray
    val all = pts ++ ident ++ scaled
    val ids = (0 until 100).map(_.toLong)
    val df = ids.zip(all.map(_.toSeq)).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val assigned = df.withColumn("list_no", lit(0))
    val got = EmbeddingDedup.ivfPairs(assigned, threshold = 0.99,
        maxList = 16, maxLevels = 0)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val want = EmbeddingDedup.exactPairs(df, threshold = 0.99)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val identTwins = (0 until 10).map(i => (i.toLong, 80L + i)).toSet
    assert(identTwins.subsetOf(got),
      s"identical twins lost despite exact-dup pass: ${identTwins -- got}")
    assert(got.subsetOf(want), s"non-pairs: ${got -- want}")
  }

  test("ivfPairs guard: duplicated all-zero (dead) embeddings cannot escape dedup") {
    import spark.implicits._
    // the documented dead-embedding guarantee: a zero vector has no
    // cosine (dot/(‖a‖·‖b‖) = 0/0 = NaN), so if the drop arm's star
    // pairs were rescored through the rerank cosine every dead-dup
    // pair would silently vanish — they must carry literal cos 1.0
    val pts = randVecs(40, 16, seed = 31)
    val dead = Array.fill(12)(Array.fill(16)(0f))
    val all = pts ++ dead
    val ids = (0 until 52).map(_.toLong)
    val df = ids.zip(all.map(_.toSeq)).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val assigned = df.withColumn("list_no", lit(0))
    // maxLevels=0: the single over-maxList list goes straight to the
    // drop arm; only exact-dup star candidates remain
    val got = EmbeddingDedup.ivfPairs(assigned, threshold = 0.99,
        maxList = 16, maxLevels = 0)
      .select(col("a"), col("b"), col("cos"))
      .as[(Long, Long, Double)].collect()
    val stars = (41L to 51L).map(b => (40L, b)).toSet
    val gotPairs = got.map(t => (t._1, t._2)).toSet
    assert(stars.subsetOf(gotPairs),
      s"dead-embedding stars lost: ${stars -- gotPairs}")
    assert(got.forall(_._3 == 1.0), s"non-1.0 cos in star pairs: ${got.toSeq}")
  }

  test("ivfPairs guard: an unsplittable identical block rides refinement to the drop arm") {
    import spark.implicits._
    // ONE list, maxList=8: 60 spread rows + 8 scaled twins split into
    // bounded cells within a few k-means levels, but a 20-row
    // bit-IDENTICAL block can NEVER split (identical vectors co-assign
    // at every level) — it must ride refinement to maxLevels, get
    // dropped, and still emit its star pairs via the exact-dup pass
    val pts = randVecs(60, 16, seed = 23)
    val twins = (0 until 8).map(i => pts(i).map(_ * 1.25f)).toArray
    val bv = Array.tabulate(16)(j => if (j % 2 == 0) 0.5f else -0.25f)
    val block = Array.fill(20)(bv.clone())
    val all = pts ++ twins ++ block
    val ids = (0 until 88).map(_.toLong)
    val df = ids.zip(all.map(_.toSeq)).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val assigned = df.withColumn("list_no", lit(0))
    val got = EmbeddingDedup.ivfPairs(assigned, threshold = 0.99,
        maxList = 8, maxLevels = 6)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val want = EmbeddingDedup.exactPairs(df, threshold = 0.99)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(got.subsetOf(want), s"non-pairs: ${got -- want}")
    // the dropped block's star pairs (min id 68 → each of 69..87)
    val stars = (69L to 87L).map(b => (68L, b)).toSet
    assert(stars.subsetOf(got), s"block stars lost: ${stars -- got}")
    // the spread twins split into bounded cells and keep their pairs
    val planted = (0 until 8).map(i => (i.toLong, 60L + i)).toSet
    assert(planted.subsetOf(got), s"refined-cell twins lost: ${planted -- got}")
  }

  test("ivfPairs ⊆ exactPairs under ANY assignment (bucketing can only drop pairs)") {
    import spark.implicits._
    val vecs = randVecs(80, 8, seed = 99)
    val df = vecDF(vecs)
    // arbitrary, even adversarial, bucketing: modulus classes, not clusters
    val assigned = df.withColumn("list_no", (col("id") % 5).cast("int"))
    val threshold = 0.35 // low enough that random 8-dim pairs cross it
    val bucketed = EmbeddingDedup.ivfPairs(assigned, threshold)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val exact = EmbeddingDedup.exactPairs(df, threshold)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "threshold too high for the fixture")
    assert(bucketed.subsetOf(exact), s"bucketed produced non-pairs: ${bucketed -- exact}")
    // and equals exact restricted to same-bucket pairs
    val sameBucket = exact.filter { case (a, b) => a % 5 == b % 5 }
    assert(bucketed == sameBucket)
    // with the guard forced ACTIVE (every 16-row class > maxList=8) the
    // subset property must still hold — banding only drops candidates
    val guarded = EmbeddingDedup.ivfPairs(assigned, threshold, maxList = 8)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(guarded.subsetOf(sameBucket),
      s"guarded path crossed buckets or produced non-pairs: ${guarded -- sameBucket}")
  }

  test("wide-signature banded near-dup matches the exact oracle on planted dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val originals = randVecs(500, 32, seed = 101)
    val dups = (0 until 20).map { i =>
      Array.tabulate(32)(j => originals(i)(j) + 0.002f * rnd.nextGaussian().toFloat)
    }
    val df = vecDF(originals ++ dups)
    val wide = BinaryHash.trainWide(d = 32, nbits = 128, seed = 11L)
    val got = EmbeddingDedup.lshPairsWide(df, wide, threshold = 0.999, nBands = 8)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    val want = EmbeddingDedup.exactPairs(df, threshold = 0.999)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(want.size >= 20)
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.9, s"wide LSH recall $recall")
    assert((got -- want).isEmpty)
    // identical twins share every band: recall 1.0 on exact copies
    val twin = vecDF(originals ++ Array(originals(3)))
    val gotTwin = EmbeddingDedup.lshPairsWide(twin, wide, threshold = 0.9999999)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(gotTwin.contains((3L, 500L)))
  }

  test("exactDupPairs emits the star pairs of every identical-vector group") {
    import spark.implicits._
    val originals = randVecs(300, 16, seed = 31)
    // twins for every 10th vector, plus one triple (0, 300, 600)
    val rows = originals.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      originals.zipWithIndex.collect { case (v, i) if i % 10 == 0 =>
        (i + 300L, v) } :+ (600L, originals(0))
    val df = rows.toSeq.toDF("id", "vec")
    val got = EmbeddingDedup.exactDupPairs(df)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    // star shape: min-id rep → each dup; the triple {0,300,600} emits
    // (0,300),(0,600) — m−1 rows, not the m² closure
    val wantPairs = (0 until 300 by 10).map(i => (i.toLong, i + 300L)).toSet +
      ((0L, 600L))
    assert(got == wantPairs)
  }

  test("exactDupPairs: a massively repeated vector emits m-1 star rows, not m^2") {
    import spark.implicits._
    // the dead/zero-embedding case from real corpora: one vector
    // repeated 50k times. The pair closure would be ~1.25e9 rows; the
    // star contract emits exactly m-1, all anchored at the min id.
    val dead = Array.fill(16)(0.0f)
    val m = 50000
    val spread = randVecs(100, 16, seed = 77)
    val rows = (0L until m.toLong).map(i => (i, dead)) ++
      spread.zipWithIndex.map { case (v, i) => (m + i.toLong, v) }
    val got = EmbeddingDedup.exactDupPairs(rows.toDF("id", "vec")).cache()
    assert(got.count() == m - 1)
    val reps = got.select(col("a")).distinct().as[Long].collect()
    assert(reps.sameElements(Array(0L)), "all pairs anchored at min id")
    got.unpersist()
  }

  test("lshPairs drops degenerate band buckets but the exact pre-pass keeps twins") {
    import spark.implicits._
    // a TIGHT cluster: every band bucket holds the whole cluster, so a
    // small maxBucket drops them all — the B² blowup guard — while the
    // planted identical twin is still guaranteed via exactDupPairs
    val center = Array.fill(16)(1.0f)
    val rnd = new scala.util.Random(9)
    val cluster = Array.fill(60)(
      Array.tabulate(16)(j => center(j) + 0.001f * rnd.nextGaussian().toFloat))
    val rows = cluster.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      (1000L, cluster(0))
    val df = rows.toSeq.toDF("id", "vec")
    val model = BinaryHash.train(d = 16, nbits = 63, seed = 11L)
    val capped = EmbeddingDedup.lshPairs(df, model, threshold = 0.9999,
      maxBucket = 30)
    assert(capped.count() == 0, "oversized buckets must be dropped")
    val uncapped = EmbeddingDedup.lshPairs(df, model, threshold = 0.9999)
    assert(uncapped.count() > 0)
    val exact = EmbeddingDedup.exactDupPairs(df)
      .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
    assert(exact.contains((0L, 1000L)), "twin must survive via the pre-pass")
  }
}
