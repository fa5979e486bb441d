package graft

import org.apache.spark.sql.functions._
import graft.baselines.LAET
import graft.index.{BinaryHash, IVFIndex}
import graft.profile.Calibration
import graft.search.{BoundedSearch, FlatSearch, IVFSearch}

class BaselinesSpec extends SparkSpec {

  lazy val pool = clusteredVecs(3100, 24, nClusters = 32, seed = 81)
  lazy val base = pool.take(2800)
  lazy val baseDF = vecDF(base).cache()
  lazy val model = IVFIndex.train(baseDF, nlist = 64, seed = 42L)
  lazy val assigned = IVFIndex.assign(baseDF, model).cache()
  lazy val trainQ = pool.slice(2800, 3000)
  lazy val evalQ = pool.slice(3000, 3100)

  def recallVsExact(res: org.apache.spark.sql.DataFrame,
                    queries: Array[Array[Float]], k: Int): Double = {
    import spark.implicits._
    val got = res.select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    queries.zipWithIndex.map { case (q, qi) =>
      val want = bruteForce(base, q, k).map(_._2).toSet
      (got.getOrElse(qi.toLong, Set.empty) & want).size.toDouble / k
    }.sum / queries.length
  }

  test("LAET heuristic mode probes by coarse-distance threshold (search_mode=3)") {
    val eq = vecDF(evalQ, "qid")
    val (res, nprobes) = LAET.searchHeuristic(assigned, model, eq, k = 10,
      multiplierPct = 130.0)
    // adaptive: not every query uses the same probe count, all within cap
    assert(nprobes.values.forall(np => np >= 1 && np <= model.nlist / 5))
    val rec = recallVsExact(res, evalQ, 10)
    assert(rec > 0.5, s"heuristic recall $rec")
    // a larger multiplier probes at least as much everywhere
    val (_, wider) = LAET.searchHeuristic(assigned, model, eq, k = 10,
      multiplierPct = 200.0)
    assert(nprobes.forall { case (q, np) => wider(q) >= np })
  }

  test("LAET learns per-query nprobe and hits decent mean recall below full scan") {
    import spark.implicits._
    val k = 10
    val tq = vecDF(trainQ, "qid")
    val gt = FlatSearch.knn(baseDF, tq, k)
    val laet = LAET.train(assigned, model, tq, gt, k, targetRecall = 0.9)
    val eq = vecDF(evalQ, "qid")
    val (res, nprobes) = LAET.search(assigned, model, laet, eq, k)
    val rec = recallVsExact(res, evalQ, k)
    assert(rec > 0.75, s"LAET mean recall $rec")
    val mean = nprobes.values.sum.toDouble / nprobes.size
    assert(mean < model.nlist, s"mean nprobe $mean")
    assert(nprobes.values.toSet.size > 1, "no per-query variation")
  }

  test("rich checkpoint features predict nprobe better than coarse features (held-out)") {
    import spark.implicits._
    val k = 10
    // a larger training batch than the other LAET test: checkpoint
    // features carry more signal per query but also more variance
    val bigTrainQ = clusteredVecs(600, 24, nClusters = 32, seed = 83)
    val tq = vecDF(bigTrainQ, "qid")
    val gt = FlatSearch.knn(baseDF, tq, k)
    val coarseM = LAET.train(assigned, model, tq, gt, k, targetRecall = 0.9)
    val richM = LAET.train(assigned, model, tq, gt, k, targetRecall = 0.9,
      cpStages = 3)
    assert(richM.cpStages == 3)

    // held-out truth: minimal power-of-2 stage reaching the target
    val eq = vecDF(evalQ, "qid")
    val gtEval = FlatSearch.knn(baseDF, eq, k)
    val gtKth = gtEval.filter(col("rank") === k)
      .select(col("qid").cast("long"), col("dist"))
      .as[(Long, Double)].collect().toMap
    val staged = graft.profile.ProfileTrainer.stagedTopK(assigned, model, eq, k)
      .as[(Long, Int, Array[Double])].collect()
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).toMap).toMap
    val levels = graft.profile.ProfileTrainer.numLevels(model.nlist)
    val truth: Map[Long, Int] = evalQ.indices.map { qi =>
      val qid = qi.toLong
      val label = (0 until levels).find { j =>
        staged(qid).get(j).exists(_.count(_ <= gtKth(qid) * 1.0005) >= 0.9 * k)
      }.getOrElse(levels)
      (qid, 1 << label)
    }.toMap

    // mean |predicted stage − required stage| on held-out queries,
    // comparing RAW predictions (predictLevel) so the rich model's
    // already-probed-lists execution floor doesn't mask the model: the
    // checkpoint features (the reference's search_mode=2 input) must
    // predict the needed probe depth at least as well
    def err(laet: LAET.Model): Double = evalQ.indices.map { qi =>
      val lvl = LAET.predictLevel(laet, model, evalQ(qi),
        staged(qi.toLong), k)
      math.abs(lvl - (math.log(truth(qi.toLong).toDouble) /
        math.log(2.0)).round.toInt).toDouble
    }.sum / evalQ.length
    val eCoarse = err(coarseM)
    val eRich = err(richM)
    assert(eRich < eCoarse,
      s"rich features not better: rich $eRich vs coarse $eCoarse")
    // and recall does not degrade
    val recRich = recallVsExact(LAET.search(assigned, model, richM, eq, k)._1,
      evalQ, k)
    assert(recRich > 0.75, s"rich LAET recall $recRich")
  }

  test("per-query-nprobe search: uniform budgets ≡ IVFSearch.search, timeSearch ≡ its budgets") {
    import spark.implicits._
    val k = 10
    val qs = evalQ.take(40)
    val eq = vecDF(qs, "qid")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid").cast("long"), col("rank"), col("id"), col("dist"))
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    for (n <- Seq(1, 5)) {
      val uniform = LAET.searchPerQueryNprobe(assigned, model, eq, k,
        qs.indices.map(i => (i.toLong, n)).toMap)
      assert(rows(uniform).sameElements(rows(IVFSearch.search(assigned, model, eq, k, n))),
        s"uniform nprobe $n differs from IVFSearch.search")
    }
    // latency budgets 1.0 .. 10.0 ms at 1 ms per list → 1 .. 9 probes
    val tq = qs.zipWithIndex.map { case (v, i) => (i.toLong, v, 1.0 + (i % 7) * 1.5) }
      .toSeq.toDF("qid", "vec", "budget_ms")
    val timed = BoundedSearch.timeSearch(assigned, model, tq, k, costPerProbeMs = 1.0)
    val budgets = timed.stats.map(s => (s.qid, s.nprobeUsed)).toMap
    assert(budgets.values.toSet.size > 1, "budgets do not vary per query")
    assert(rows(timed.results).sameElements(
      rows(LAET.searchPerQueryNprobe(assigned, model, eq, k, budgets))),
      "timeSearch differs from the per-query search at its budgets")
  }

  test("LSH hamming search + exact rerank recovers most true neighbors") {
    val lsh = BinaryHash.train(d = 24, nbits = 63, seed = 7L)
    val qDF = vecDF(evalQ.take(20), "qid")
    val res = BinaryHash.search(baseDF, qDF, lsh, k = 10, kFactor = 10)
    val rec = recallVsExact(res, evalQ.take(20), 10)
    assert(rec > 0.5, s"LSH recall $rec")
    // signatures are deterministic
    val s1 = lsh.signature(base(0))
    assert(s1 == BinaryHash.train(d = 24, nbits = 63, seed = 7L).signature(base(0)))
  }

  test("calibration table round-trips and matches the committed constants") {
    assert(Calibration.reference.size == 12)
    assert(Calibration.forFigure(8).multiplier == 26.5f)
    val dir = java.nio.file.Files.createTempDirectory("calib").toString
    Calibration.save(spark, s"$dir/c")
    assert(Calibration.load(spark, s"$dir/c") == Calibration.reference)
  }
}
