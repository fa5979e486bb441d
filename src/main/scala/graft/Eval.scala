package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.{IVFIndex, IndexCache}
import graft.profile.ProfileTrainer
import graft.search.{BoundedSearch, FlatSearch, IVFSearch}

/** Reference-parity evaluation harness (the Spark twin of
  * `Auncel/eval/{bound,effect_error,effect_time,overhead}.cpp`):
  * seeded clustered data, IVF build, profile training, then
  *
  *   bound    — bounded-error search at ε; prints per-query probe
  *              counts and the reference's acceptance line when the
  *              worst-case distance-threshold recall ≥ 1−ε
  *              (`eval/bound.cpp:400-414`)
  *   effect   — required recalls 0.1…0.9 round-robin; reports
  *              achieved vs required per bucket (`effect_error.cpp`)
  *   overhead — profile-enabled search time vs fixed-nprobe scan of
  *              the same probe budget (`overhead.cpp`)
  *   time     — latency-bounded search, budgets {5,10,…,50} ms assigned
  *              round-robin (`effect_time.cpp:274-281`); calibrates the
  *              per-probe cost, runs one batch per budget bucket, and
  *              prints the budget-vs-achieved table; writes
  *              `graft_effective_time_<k>.log` lines
  *              `<budget_ms> <achieved_ms>` mirroring
  *              `Effective_time_<p>.log` (`effect_time.cpp:300-311`)
  *   compare  — the paper's headline three-way comparison
  *              (`figures/overall/figure10-1.py:36-82`): BoundedSearch
  *              with a CalibrationFit-FITTED pair vs LAET search_mode=2
  *              GBT vs the bounded-case fixed-nprobe faiss baseline
  *              (AutoTune sweep, worst-case selection), all at the
  *              reference's config (k=100, ε=0.1; IVF1024 at 10M —
  *              `run.sh:5`); same eval micro-batches for every engine;
  *              reports mean latency, p99/mean tail, per-query slowdown
  *              vs BoundedSearch, probe budget in the LAET anchor unit,
  *              and worst-case recall vs the bound; writes
  *              `graft_compare_<engine>_latency.log` (figure-10 input
  *              shape) — metric math in [[CompareMetrics]]
  *   dist     — distributed-deployment twin of figure 16
  *              (`figures/dist/figure16.py:17-19`): shard the corpus
  *              over W workers, each owning an IVF index and an error
  *              profile trained on its own shard; fan every query out,
  *              bounded search per worker, merge per-query top-k by
  *              distance (`dist/reduce.cpp:98-119` ≡ O9 mergeTopK);
  *              reports avg latency vs W with calibration on/off (the
  *              figure's cal / cal_no lines) and the merged worst-case
  *              recall
  *
  * Latency logs: `bound` additionally writes `graft_latency_<k>_<eps>
  * .log`, one latency (seconds) per line per eval query, mirroring
  * `Auncel_Latency_<p1>_<k>_<eps·100>.log` (`eval/bound.cpp:417-424`).
  * The reference times a per-query C++ loop; Spark executes batches, so
  * per-query latency is amortized within timed micro-batches of 10
  * queries — same file shape, honest batch semantics.
  *
  * Usage: runMain graft.Eval [bound|effect|overhead|time|compare|dist] [outDir] [nb]
  * (`nb` overrides the corpus size — dist's worker scaling is visible
  * once per-worker scan time dominates the per-batch job overhead,
  * e.g. nb ≥ 200000; the default 20k is overhead-bound.)
  */
object Eval {
  val D = 32; val K = 20; val NLIST = 64
  val NB = 20000; val NTRAIN = 300
  // GRAFT_NEVAL grows the eval set for tail studies (the compare mode's
  // scan-work distribution wants thousands of queries for a stable p99;
  // the micro-batch latency table stays capped at 200 regardless)
  val NEVAL: Int = sys.env.get("GRAFT_NEVAL").map(_.toInt).getOrElse(200)
  val MULT = 8.0f; val STDM = 1.5f

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("bound")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_eval"
    val nb = if (args.length > 2) args(2).toInt else NB
    // compare twins the reference's headline config (SIFT10M, IVF1024,
    // k=100, err=10 — `run.sh:5`): k=100 always, IVF1024 once the corpus
    // is at the 10M scale the anchors were measured at
    val kk = if (mode == "compare") 100 else K
    val nl = if (mode == "compare" && nb >= 1000000) 1024 else NLIST
    new java.io.File(outDir).mkdirs()
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // seeded clustered corpus (the structure the reference's datasets have)
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(48)(Array.fill(D)(rnd.nextGaussian().toFloat))
    def mk(n: Int) = Array.fill(n) {
      val c = centers(rnd.nextInt(48))
      Array.tabulate(D)(i => (c(i) + 0.15 * rnd.nextGaussian()).toFloat)
    }
    // past this the corpus is generated DISTRIBUTED (driver arrays and
    // the in-driver GT loop stop being reasonable), k-means trains on a
    // capped sample and the GT oracle runs as a Spark flat scan —
    // exactly the ScaleDemo regime, so `dist` can run at 10M
    val DriverMaxRows = 500000
    val base = if (nb <= DriverMaxRows) mk(nb) else {
      // keep the rnd stream position identical either way
      Array.empty[Array[Float]]
    }
    val trainQ = mk(NTRAIN); val evalQ = mk(NEVAL)
    def df(vs: Array[Array[Float]], idCol: String) =
      vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF(idCol, "vec")

    val baseDF = (if (nb <= DriverMaxRows) df(base, "id") else {
      val bc = spark.sparkContext.broadcast(centers)
      val dd = D
      val gen = udf { (id: Long) =>
        val r = new scala.util.Random(id * 2654435761L + 42)
        val c = bc.value((id % 48).toInt)
        Array.tabulate(dd)(i => (c(i) + 0.15 * r.nextGaussian()).toFloat)
      }
      spark.range(nb).toDF("id").withColumn("vec", gen(col("id")))
    }).cache()
    // coarse k-means needs hundreds of points per centroid, not the
    // corpus (the ScaleDemo cap)
    def trainInput(b: DataFrame, n: Long): DataFrame =
      if (n <= DriverMaxRows) b
      else b.sample(math.min(0.25, math.max(0.05, 800.0 * nl / n)), 42L)
    val t0 = now()
    val model = IVFIndex.train(trainInput(baseDF, nb), nl)
    val assigned = IVFIndex.assign(baseDF, model).cache()
    assigned.count()
    val tBuild = now() - t0

    val t1 = now()
    val gt = FlatSearch.knn(baseDF, df(trainQ, "qid"), kk).cache()
    val traces = ProfileTrainer.train(assigned, model, df(trainQ, "qid"), gt, kk, bs = 100)
    val tProfile = now() - t1

    // exact k-th GT distance per eval query: in-driver loop at driver
    // scale, distributed flat scan past it (identical value — the k-th
    // sorted distance is tie-insensitive)
    lazy val kthMap: Map[Long, Double] =
      if (nb <= DriverMaxRows)
        evalQ.zipWithIndex.map { case (q, i) =>
          (i.toLong, base.map(v => Kernels.l2Sqr(q, v)).sorted.apply(kk - 1))
        }.toMap
      else
        FlatSearch.knn(baseDF, df(evalQ, "qid"), kk)
          .filter(col("rank") === kk)
          .select(col("qid"), col("dist")).as[(Long, Double)]
          .collect().toMap
    def kth(i: Long): Double = kthMap(i)

    mode match {
      case "bound" =>
        val eps = 0.2
        val qdf = evalQ.zipWithIndex
          .map { case (v, i) => (i.toLong, v, (1 - eps).toFloat) }
          .toSeq.toDF("qid", "vec", "required_recall")
        val t2 = now()
        val res = BoundedSearch.search(assigned, model, traces, qdf, K, MULT, STDM)
        val got = res.results.select(col("qid"), col("dist"))
          .as[(Long, Double)].collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val tSearch = now() - t2
        // one recall definition for every mode: CompareMetrics
        // .thresholdRecall (relative tolerance + the additive 1e-6
        // floor for kd = 0 duplicate-vector rows)
        val worst = CompareMetrics.thresholdRecall(got, kthMap, K).values.min
        val probes = res.stats.map(_.nprobeUsed)
        val log = res.stats.map(s =>
          s"${s.qid} ${s.nprobeUsed} ${s.predictedRecall}").mkString("\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/graft_probes_k${K}_e$eps.log"), log)
        // per-query latency log (`Auncel_Latency_*.log`,
        // `eval/bound.cpp:417-424`): one latency per line, amortized
        // within timed 10-query micro-batches
        val latencies = evalQ.zipWithIndex.grouped(10).flatMap { chunk =>
          val cdf = chunk.map { case (v, i) => (i.toLong, v, (1 - eps).toFloat) }
            .toSeq.toDF("qid", "vec", "required_recall")
          val tc = now()
          BoundedSearch.search(assigned, model, traces, cdf, K, MULT, STDM)
            .results.count()
          val per = (now() - tc) / chunk.size
          chunk.map(_ => per)
        }.toSeq
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/graft_latency_${K}_${(eps * 100).toInt}.log"),
          latencies.map(l => f"$l%.6f").mkString("", "\n", "\n"))
        println(f"build=${tBuild}%.1fs profile=${tProfile}%.1fs search=${tSearch}%.1fs")
        println(f"worst-case recall = $worst%.3f vs bound ${1 - eps}")
        println(f"mean nprobe = ${probes.sum.toDouble / probes.size}%.1f of $NLIST")
        if (worst >= 1 - eps) println("Error bound is guaranteed")
        else println("ERROR BOUND VIOLATED")

      case "effect" =>
        val reqs = evalQ.indices.map(i => (0.1 + 0.1 * (i % 9)).toFloat)
        val qdf = evalQ.zipWithIndex
          .map { case (v, i) => (i.toLong, v, reqs(i)) }
          .toSeq.toDF("qid", "vec", "required_recall")
        val res = BoundedSearch.search(assigned, model, traces, qdf, K, MULT, STDM)
        val got = res.results.select(col("qid"), col("dist"))
          .as[(Long, Double)].collect().groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val recallByQid = CompareMetrics.thresholdRecall(got, kthMap, K)
        val rows = evalQ.indices.map(i => (reqs(i), recallByQid(i.toLong)))
        rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (r, xs) =>
          val achieved = xs.map(_._2)
          println(f"required $r%.1f → achieved mean ${achieved.sum / achieved.size}%.3f min ${achieved.min}%.3f (${xs.size} queries)")
        }
        val ok = rows.count { case (r, a) => a >= r }
        println(s"met requirement: $ok/${rows.size}")

      case "time" =>
        // `effect_time.cpp:274-281`: budgets {5,10,…,50} ms round-robin
        val budgets = Array(5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0, 45.0, 50.0)
        val perQBudget = evalQ.indices.map(i => budgets(i % budgets.length))
        // calibrate the per-probe cost the way the reference's profile
        // does (`profile.cpp:229-244`): a fixed-nprobe scan over the
        // eval batch, warmed once, gives amortized ms per (query, probe)
        val calQ = df(evalQ, "qid")
        val calNp = NLIST / 4
        IVFSearch.search(assigned, model, calQ, K, calNp).count() // warm
        val tc = now()
        IVFSearch.search(assigned, model, calQ, K, calNp).count()
        val costPerProbeMs = (now() - tc) * 1000.0 / (NEVAL.toLong * calNp)
        println(f"calibrated cost/probe = $costPerProbeMs%.4f ms (nprobe=$calNp scan)")

        // one timed batch per budget bucket: achieved per-query latency
        // is the bucket's amortized wall time (batch execution — the
        // per-query loop of the reference maps to micro-batches here)
        val byBudget = evalQ.indices.groupBy(i => perQBudget(i)).toSeq.sortBy(_._1)
        val lines = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
        println("budget_ms  achieved_ms  mean_nprobe  recall_mean  recall_min  queries")
        byBudget.foreach { case (b, idxs) =>
          val qdf = idxs.map(i => (i.toLong, evalQ(i), b))
            .toSeq.toDF("qid", "vec", "budget_ms")
          val t2 = now()
          val res = BoundedSearch.timeSearch(assigned, model, qdf, K, costPerProbeMs)
          // materialize through collect so the recall column reuses the
          // same (timed) execution's rows
          val rawRows = res.results.select(col("qid"), col("dist"))
            .as[(Long, Double)].collect()
          // timed window ends when Spark hands back the rows — the
          // driver-side grouping below is bookkeeping, not query work
          val achieved = (now() - t2) * 1000.0 / idxs.size
          val got = rawRows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          val meanNp = res.stats.map(_.nprobeUsed).sum.toDouble / res.stats.size
          // the quality the budget bought (distance-threshold recall vs
          // exact GT) — validates the calibrated per-probe cost model on
          // both axes: did we stay inside the budget, and what recall
          // did that probe budget buy
          val kthBucket = idxs.map(i => i.toLong -> kth(i.toLong)).toMap
          val recByQid = CompareMetrics.thresholdRecall(got, kthBucket, K)
          val recs = idxs.map(i => recByQid(i.toLong))
          println(f"$b%9.0f  $achieved%11.2f  $meanNp%11.1f  " +
            f"${recs.sum / recs.size}%11.3f  ${recs.min}%10.3f  ${idxs.size}%7d")
          idxs.foreach(i => lines += ((i, b, achieved)))
        }
        // `Effective_time_<p>.log` parity (`effect_time.cpp:300-311`):
        // one line per query, "<budget_ms> <achieved_ms>", query order
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/graft_effective_time_$K.log"),
          lines.sortBy(_._1).map { case (_, b, a) => f"$b%.0f $a%.3f" }
            .mkString("", "\n", "\n"))
        println(s"wrote $outDir/graft_effective_time_$K.log")

      case "compare" =>
        // figure-10 three-way twin. ε=0.1 (the reference's err=10), all
        // engines share the corpus, index, and eval micro-batches. The
        // committed anchors this prints against: LAET sift10M k=100
        // err=10 budget 7530 nprobe·100 units = mean 75.3 lists/query
        // on IVF1024 (`LAET/benchs/learned_termination/run.sh:3-5`).
        import graft.baselines.LAET
        import graft.operators.AutoTune
        val eps = 0.1
        val req = (1 - eps).toFloat

        // (a) BoundedSearch with a FITTED (multiplier, stdM) — the
        // production flow, not a demo constant. Holdout disjoint from
        // trainQ/evalQ by construction (fresh draws from the stream).
        val holdQ = mk(200)
        val tF = now()
        val holdGt = FlatSearch.knn(baseDF, df(holdQ, "qid"), kk)
        val fit = graft.profile.CalibrationFit.fit(assigned, model, traces,
          df(holdQ, "qid"), holdGt, kk, requiredRecall = req,
          multipliers = Seq(2f, 4f, 8f, 16f), stdMs = Seq(0.5f, 1f, 2f))
        println(f"calibration fit: (${fit.multiplier}, ${fit.stdM}) " +
          f"holdout min recall ${fit.minRecall}%.3f met=${fit.met} " +
          f"(${now() - tF}%.1fs)")

        // (b) LAET search_mode=2: GBT with one intermediate checkpoint
        // (rich features at stages 0-1 = top-k after 1 and 2 lists)
        val tL = now()
        val laet = LAET.train(assigned, model, df(trainQ, "qid"), gt, kk,
          targetRecall = req, cpStages = 1)
        println(f"LAET GBT trained (cpStages=1): ${now() - tL}%.1fs")

        // (c) bounded-case fixed-nprobe (the reference's modified-faiss
        // AutoTune baseline): cheapest sweep point whose WORST-case
        // train recall holds the bound — early-stopped, recall is
        // monotone in nprobe
        val tA = now()
        // the sweep scores against the SAME exact GT already computed
        // for profile training — reuse it instead of paying a second
        // full-corpus exact k-NN scan (the mode's costliest job at 10M)
        val trainExact: Map[Long, Set[Long]] = gt
          .select(col("qid").cast("long"), col("id").cast("long"))
          .as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val points = AutoTune.sweep(assigned, model, df(trainQ, "qid"), kk,
          stopAtMinRecall = Some(req), precomputedExact = Some(trainExact))
        val op = AutoTune.select(points, req)
        println(f"fixed-nprobe sweep: nprobe=${op.nprobe} " +
          f"(train minRecall ${op.minRecall}%.3f, ${points.size} points, " +
          f"${now() - tA}%.1fs)")

        def collectDists(dfr: DataFrame): Map[Long, Array[Double]] =
          dfr.select(col("qid").cast("long"), col("dist"))
            .as[(Long, Double)].collect()
            .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap

        type Batch = Seq[(Long, Array[Float])]
        type Run = (Map[Long, Array[Double]], Map[Long, Int])
        def qdfOf(b: Batch) = b.toDF("qid", "vec")

        def runBounded(b: Batch): Run = {
          val cdf = b.map { case (q, v) => (q, v, req) }
            .toDF("qid", "vec", "required_recall")
          val r = BoundedSearch.search(assigned, model, traces, cdf, kk,
            fit.multiplier, fit.stdM)
          (collectDists(r.results),
            r.stats.map(s => s.qid -> s.nprobeUsed).toMap)
        }
        // the search_mode=2 flow with honest incremental cost: probe the
        // checkpoint lists (1 then 2), predict, search with the budget.
        // (LAET.search's staged capture computes ALL stages for training
        // convenience — timing that would overcharge LAET, so the eval
        // flow probes exactly the checkpoints the features need; the
        // ≤3 re-scanned lists vs the reference's continue-from-
        // checkpoint are noise against the predicted budgets.)
        def runLaet(b: Batch): Run = {
          val qdf = qdfOf(b)
          val st0 = collectDists(LAET.searchPerQueryNprobe(
            assigned, model, qdf, kk, b.map(_._1 -> 1).toMap))
          val st1 = collectDists(LAET.searchPerQueryNprobe(
            assigned, model, qdf, kk, b.map(_._1 -> 2).toMap))
          val budgets = b.map { case (qid, v) =>
            val stages = Map(
              0 -> st0.getOrElse(qid, Array.empty[Double]),
              1 -> st1.getOrElse(qid, Array.empty[Double]))
            val lvl = math.max(laet.cpStages,
              LAET.predictLevel(laet, model, v, stages, kk))
            qid -> math.min(model.nlist, 1 << lvl)
          }.toMap
          (collectDists(LAET.searchPerQueryNprobe(
            assigned, model, qdf, kk, budgets)), budgets)
        }
        def runFixed(b: Batch): Run =
          (collectDists(IVFSearch.search(assigned, model, qdfOf(b), kk,
            op.nprobe)), b.map(_._1 -> op.nprobe).toMap)

        // micro-batch table stays at ≤200 queries (its per-batch cost is
        // job-floor dominated); the amortized/scan-work table below uses
        // the FULL eval set, which GRAFT_NEVAL can grow for tail studies
        val batches: Seq[Batch] = evalQ.zipWithIndex.take(200)
          .map { case (v, i) => (i.toLong, v) }.grouped(10)
          .map(_.toSeq).toSeq
        val engines: Seq[(String, Batch => Run)] = Seq(
          ("bounded", runBounded), ("laet", runLaet), ("fixed", runFixed))
        engines.foreach { case (_, f) => f(batches.head) } // JIT warmup

        val measured = engines.map { case (name, f) =>
          val lat = Vector.newBuilder[Double]
          val got = Map.newBuilder[Long, Array[Double]]
          val nps = Map.newBuilder[Long, Int]
          batches.foreach { b =>
            val t = now()
            val (g, np) = f(b)
            val per = (now() - t) / b.size
            b.foreach(_ => lat += per)
            got ++= g; nps ++= np
          }
          (name, lat.result(), got.result(), nps.result())
        }

        val baseLat = measured.head._2
        // only the micro-batched qids (≤200 of a possibly larger
        // GRAFT_NEVAL set) are in this table — the recall/budget math
        // must not treat unmeasured queries as 0-recall rows
        val mQids = batches.flatMap(_.map(_._1))
        val mQidSet = mQids.toSet
        val kthMicro = kthMap.filter { case (q, _) => mQidSet(q) }
        // (name, lat, total probes, mean nprobe, frac of nlist, worst recall)
        val summary = measured.map { case (name, lat, got, nps) =>
          val worst = CompareMetrics.thresholdRecall(got, kthMicro, kk)
            .values.min
          val (tot, meanNp, frac) = CompareMetrics.probeBudget(
            mQids.map(nps), model.nlist)
          (name, lat, tot, meanNp, frac, worst)
        }
        println("engine    mean_ms/q  p99/mean  slow_vs_bounded  " +
          "total_probes  mean_np  frac_nlist  worst_recall  bound")
        summary.foreach { case (name, lat, tot, meanNp, frac, worst) =>
          println(f"$name%-9s ${CompareMetrics.meanMs(lat)}%9.2f  " +
            f"${CompareMetrics.tailRatio(lat)}%8.2f  " +
            f"${CompareMetrics.slowdownVs(baseLat, lat)}%15.2f  " +
            f"$tot%12d  $meanNp%7.1f  $frac%10.4f  $worst%12.3f  " +
            (if (worst >= req) "HELD" else "BROKEN"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/graft_compare_${name}_latency.log"),
            lat.map(l => f"$l%.6f").mkString("", "\n", "\n"))
        }
        // the micro-batch table above carries the figure's latency
        // SHAPE but also Spark's per-job floor (a staged-round engine
        // pays levels × job overhead per 10-query batch; its p99/mean
        // column reflects SCHEDULING variance, not the engines'
        // termination behavior — r11 read 2.04 and 1.22 for the same
        // fixed engine across two runs). The per-query axis the
        // reference's figure actually varies (`figure10-1.py:36-82`) is
        // each query's SCAN WORK — how many rows its termination
        // decision probes. At a full (amortizing) batch the wall-clock
        // is throughput-accurate and each query's probed-row count is
        // exact, so the tail (p99/mean) and per-query slowdown columns
        // below are computed on the per-query probed-row distribution —
        // scan-work dispersion, not scheduler noise. (LAET's rows are
        // its predicted budget, the reference's continue-from-checkpoint
        // semantics — the ≤3 checkpoint lists are not double-billed.)
        val listSizes = IndexCache.listSizes(assigned)
        def scanRows(v: Array[Float], np: Int): Long =
          model.rankCentroids(v).take(np)
            .map { case (l, _) => listSizes.getOrElse(l.toLong, 0L) }.sum
        val fullBatch: Batch = evalQ.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }.toSeq
        println(s"full batch (${fullBatch.size} queries, one batch) — " +
          "per-query scan-work distribution:")
        println("engine    amortized_ms/q  rows_mean  rows_p99/mean  " +
          "slow_vs_bounded(work)  worst_recall")
        val fullRuns = engines.map { case (name, f) =>
          val t = now()
          val (got, nps) = f(fullBatch)
          val sec = now() - t
          val rows = fullBatch.map { case (qid, v) =>
            scanRows(v, nps(qid)).toDouble }
          (name, sec, rows, got, nps)
        }
        val baseRows = fullRuns.head._3
        val fullWorst: Map[String, Double] = fullRuns.map {
          case (name, _, _, got, _) =>
            name -> CompareMetrics.thresholdRecall(got, kthMap, kk).values.min
        }.toMap
        fullRuns.foreach { case (name, sec, rows, _, _) =>
          println(f"$name%-9s ${sec * 1000 / fullBatch.size}%14.2f  " +
            f"${rows.sum / rows.size}%9.0f  " +
            f"${CompareMetrics.tailRatio(rows)}%13.2f  " +
            f"${CompareMetrics.slowdownVs(baseRows, rows)}%21.2f  " +
            f"${fullWorst(name)}%12.3f")
          // figure-shaped artifact (one value per query, query order)
          // for the scan-work axis, beside the latency logs — the tail
          // table above can be recomputed from these
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/graft_compare_${name}_scanrows.log"),
            rows.map(r => f"$r%.0f").mkString("", "\n", "\n"))
        }
        // per-query scan TIME measured on executors (the latency axis
        // beside the scan-work axis above — r13 VERDICT item 6): each
        // engine's per-query probe decisions re-executed probe-major
        // with per-probe nanoTime, summed per query. Wall-clock of the
        // probe-major re-scan differs from the production data-major
        // kernel (cache locality), so the columns that matter are the
        // DISTRIBUTION ones (p99/mean, per-query slowdown) — measured
        // per query on executors, not modeled from row counts and not
        // micro-batch scheduler noise
        println("per-query scan-time distribution (probe-major re-scan, " +
          "executor-measured):")
        println("engine    qtime_ms_mean  qtime_p99/mean  slow_vs_bounded(time)")
        // JIT warm-up of the probe-major kernel — without it the first
        // engine measured is billed the kernel's compilation (r14 first
        // run: bounded read 53 ms/q vs 9-14 for the engines after it)
        perQueryScanNanos(assigned, model, fullBatch.take(64).toArray,
          fullRuns.head._5, kk)
        val timeRuns = fullRuns.map { case (name, _, _, _, nps) =>
          val nanos = perQueryScanNanos(assigned, model,
            fullBatch.toArray, nps, kk)
          (name, fullBatch.map { case (qid, _) =>
            nanos.getOrElse(qid, 0L).toDouble / 1e6 })
        }
        val baseT = timeRuns.head._2
        timeRuns.foreach { case (name, ms) =>
          println(f"$name%-9s ${ms.sum / ms.size}%13.3f  " +
            f"${CompareMetrics.tailRatio(ms)}%14.2f  " +
            f"${CompareMetrics.slowdownVs(baseT, ms)}%21.2f")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/graft_compare_${name}_qtime_ms.log"),
            ms.map(m => f"$m%.4f").mkString("", "\n", "\n"))
        }
        println(f"anchor (run.sh:5 sift10M k=100 err=10): LAET budget " +
          f"7530 units = mean 75.3 lists/q on IVF1024 = frac 0.0735")
        // closing verdict DERIVED from the measured tables — a static
        // restatement of the paper's claim here misread as this run's
        // result whenever the run differed (r11: fixed also printed
        // HELD, and bounded's budget exceeded LAET's broken one). It
        // covers BOTH tables: the micro-batch summary (≤200 queries)
        // AND the full-batch run over the entire (GRAFT_NEVAL-growable)
        // eval set — a tail query that breaks the bound only in the
        // full batch flips the verdict too
        val worstBy = CompareMetrics.verdictWorst(
          summary.map { case (n, _, _, _, _, w) => n -> w }.toMap, fullWorst)
        val held = summary.map(_._1).filter(n => worstBy(n) >= req)
        val broke = summary.map(_._1).filter(n => worstBy(n) < req)
        val budgets = summary.map(s => f"${s._1}=${s._3}%d").mkString(", ")
        val boundedTot = summary.find(_._1 == "bounded").map(_._3)
        val cheapestHolder = summary.filter(s => held.contains(s._1))
          .sortBy(_._3).headOption.map(_._1)
        val budgetNote = (cheapestHolder, boundedTot) match {
          case (Some("bounded"), _) =>
            "; bounded is the cheapest bound-holding engine"
          case (Some(other), Some(bt)) =>
            s"; NOTE: $other held the bound at a lower budget than bounded ($bt)"
          case _ => "; NOTE: no engine held the bound"
        }
        println(s"this run: bound HELD by [${held.mkString(", ")}]" +
          (if (broke.nonEmpty) s", BROKEN by [${broke.mkString(", ")}]" else "") +
          " (worst recall over BOTH the micro-batch and full-batch tables)" +
          s"; probe budgets (units): $budgets" + budgetNote)

        // GRAFT_LATQ=<n>: the large-batch (serving)
        // latency arm — n fresh queries through every engine, then the
        // per-query CPU-time distribution. TIMING ONLY: exact ground
        // truth at 10⁵ queries × 10⁷ rows is a 10¹²-pair scan, and the
        // bound for this regime is already validated by the 2000-query
        // tables above and the 20M flagship logs. Bounded takes its
        // driver-decided rounds up to distributedMinQueries (131072)
        // and its fully-distributed cogroup path beyond, so this
        // measures the serving regime the micro-batch table cannot.
        //
        // serve_s is SERVING, count-only: the r14 table reused the
        // recall runners verbatim, so its serve_s included collecting
        // all k×n result rows (10M at 100k queries) into driver maps —
        // eval plumbing, not serving — and read 8.4-15 ms/q where the
        // count-only flagship logs read 1.2-3.5 (r14 log addendum 3).
        // These runners materialize the result frame with count() and
        // ship only per-query nprobe (one small row per query) to the
        // driver, which the scan-time re-execution below needs. LAET's
        // two checkpoint collects STAY in its serve pass: its staged
        // prediction consumes checkpoint top-k distances as features
        // driver-side — algorithm data flow, not eval plumbing (the
        // printed footnote carries the residue).
        val latQ = sys.env.get("GRAFT_LATQ").map(_.toInt).getOrElse(0)
        if (latQ > 0) {
          def serveBounded(b: Batch): Map[Long, Int] = {
            val cdf = b.map { case (q, v) => (q, v, req) }
              .toDF("qid", "vec", "required_recall")
            val r = BoundedSearch.search(assigned, model, traces, cdf, kk,
              fit.multiplier, fit.stdM)
            r.results.count()
            r.stats.map(s => s.qid -> s.nprobeUsed).toMap
          }
          def serveLaet(b: Batch): Map[Long, Int] = {
            val qdf = qdfOf(b)
            val st0 = collectDists(LAET.searchPerQueryNprobe(
              assigned, model, qdf, kk, b.map(_._1 -> 1).toMap))
            val st1 = collectDists(LAET.searchPerQueryNprobe(
              assigned, model, qdf, kk, b.map(_._1 -> 2).toMap))
            val budgets = b.map { case (qid, v) =>
              val stages = Map(
                0 -> st0.getOrElse(qid, Array.empty[Double]),
                1 -> st1.getOrElse(qid, Array.empty[Double]))
              val lvl = math.max(laet.cpStages,
                LAET.predictLevel(laet, model, v, stages, kk))
              qid -> math.min(model.nlist, 1 << lvl)
            }.toMap
            LAET.searchPerQueryNprobe(assigned, model, qdf, kk, budgets)
              .count()
            budgets
          }
          def serveFixed(b: Batch): Map[Long, Int] = {
            IVFSearch.search(assigned, model, qdfOf(b), kk, op.nprobe).count()
            b.map(_._1 -> op.nprobe).toMap
          }
          val serveEngines: Seq[(String, Batch => Map[Long, Int])] = Seq(
            ("bounded", serveBounded), ("laet", serveLaet),
            ("fixed", serveFixed))
          val lq: Batch = mk(latQ).zipWithIndex
            .map { case (v, i) => (i.toLong, v) }.toSeq
          println(s"large-batch latency arm: $latQ queries (timing only; " +
            "serve_s = count-only serving, no result collection; laet's " +
            "serve includes its driver-side checkpoint feature collects " +
            "— its staged prediction's own data flow)")
          println("engine    serve_s  amortized_ms/q  qtime_ms_mean  " +
            "qtime_p99/mean  slow_vs_bounded(time)")
          val runs = serveEngines.map { case (name, f) =>
            val t = now(); val nps = f(lq); (name, now() - t, nps)
          }
          perQueryScanNanos(assigned, model, lq.take(64).toArray,
            runs.head._3, kk) // JIT warm-up (see above)
          val tRuns = runs.map { case (name, sec, nps) =>
            val nanos = perQueryScanNanos(assigned, model, lq.toArray, nps, kk)
            (name, sec, lq.map { case (q, _) =>
              nanos.getOrElse(q, 0L).toDouble / 1e6 })
          }
          val bT = tRuns.head._3
          tRuns.foreach { case (name, sec, ms) =>
            println(f"$name%-9s $sec%7.1f  ${sec * 1000 / latQ}%14.2f  " +
              f"${ms.sum / ms.size}%13.3f  ${CompareMetrics.tailRatio(ms)}%14.2f  " +
              f"${CompareMetrics.slowdownVs(bT, ms)}%21.2f")
            java.nio.file.Files.writeString(java.nio.file.Paths.get(
              s"$outDir/graft_compare_${name}_qtime_ms_latq.log"),
              ms.map(m => f"$m%.4f").mkString("", "\n", "\n"))
          }
        }

      case "dist" =>
        // Workers execute sequentially here, each getting the whole
        // local[16] machine — the per-worker parallelism a real worker
        // node would have; batch latency is the straggler worker plus
        // the top-k merge. Calibration ON = each worker's (multiplier,
        // stdM) FITTED on its own shard by CalibrationFit against a
        // shard-local holdout GT — the production flow, per worker,
        // exactly how a real deployment would calibrate (the figure's
        // cal line). Calibration off = raw profile prediction
        // (multiplier 1, no σ-margin), the faster-but-weaker cal_no line.
        // At test scale the straggler term is staged-round JOB COUNT
        // (rounds × ~100 ms scheduling), which does not shrink with W —
        // the 1/W scan term only dominates once shards reach ~10^7 rows
        // (ScaleDemo's regime: 1.56 ms/q amortized at 10M×1M). What this
        // mode pins is figure16's semantic content: the merged bound
        // holds at every W with calibration and breaks without it.
        val eps = 0.2
        val qdf = evalQ.zipWithIndex
          .map { case (v, i) => (i.toLong, v, (1 - eps).toFloat) }
          .toSeq.toDF("qid", "vec", "required_recall").cache()
        qdf.count()
        // holdout for per-shard calibration: fresh draws, disjoint from
        // trainQ/evalQ by stream construction
        val holdQ = mk(200)
        val holdDF = df(holdQ, "qid")
        println("workers  cal  avg_ms/q  straggler_s  merge_s  worst_recall  mean_nprobe/worker")
        var warmed = false
        Seq(2, 4, 8).foreach { w =>
          // union-bound composition: a merged miss needs only ONE worker
          // to miss, and in the worst case every list a worker skipped
          // held a GLOBAL ground-truth point — so each worker must run
          // at 1 − ε/W for the MERGED bound to hold at 1 − ε. Fitting
          // and serving each worker at the serving ε itself measured
          // merged worst recall 0.750 < 0.8 at W=8 (the cheapest
          // bound-holding pair leaves no slack for composition).
          val reqW = (1 - eps / w).toFloat
          val qdfW = qdf.withColumn("required_recall", lit(reqW)).cache()
          qdfW.count()
          val shards = (0 until w).map { r =>
            val sh = baseDF.filter(pmod(col("id"), lit(w)) === r).cache()
            val m = IVFIndex.train(trainInput(sh, nb.toLong / w), NLIST)
            val asg = IVFIndex.assign(sh, m).cache(); asg.count()
            val sgt = FlatSearch.knn(sh, df(trainQ, "qid"), K)
            val tr = ProfileTrainer.train(asg, m, df(trainQ, "qid"), sgt, K, bs = 100)
            // per-worker calibration against the shard's own holdout GT
            // (untimed — calibration is build-time work, like training)
            val hgt = FlatSearch.knn(sh, holdDF, K)
            val fit = graft.profile.CalibrationFit.fit(asg, m, tr, holdDF,
              hgt, K, requiredRecall = reqW,
              multipliers = Seq(2f, 4f, 8f), stdMs = Seq(0.5f, 1f, 2f))
            (asg, m, tr, fit)
          }
          println(f"  w=$w per-worker req $reqW%.4f, fitted pairs: " +
            shards.zipWithIndex.map { case ((_, _, _, f), r) =>
              f"w$r=(${f.multiplier}%.1f,${f.stdM}%.1f,min=${f.minRecall}%.3f,met=${f.met})"
            }.mkString(" "))
          if (!warmed) { // one untimed pass so JIT/codegen warmup
            val (asg, m, tr, _) = shards.head // doesn't land on the first row
            BoundedSearch.search(asg, m, tr, qdfW, K, MULT, STDM).results.count()
            warmed = true
          }
          Seq((true, "on "), (false, "off")).foreach {
            case (cal, lbl) =>
              val perWorker = shards.map { case (asg, m, tr, fit) =>
                val (mult, stdM) =
                  if (cal) (fit.multiplier, fit.stdM) else (1.0f, 0.0f)
                val t = now()
                val r = BoundedSearch.search(asg, m, tr, qdfW, K, mult, stdM)
                r.results.cache().count()
                (now() - t, r)
              }
              val straggler = perWorker.map(_._1).max
              val tm = now()
              val got = FlatSearch.mergeTopK(
                  perWorker.map(_._2.results.select(col("qid"), col("id"), col("dist")))
                    .reduce(_ unionByName _), K)
                .select(col("qid"), col("dist")).as[(Long, Double)].collect()
                .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
              val tMerge = now() - tm
              // merged recall shares the compare mode's definition
              // (CompareMetrics.thresholdRecall — relative tolerance
              // plus the 1e-6 additive floor), not a private variant
              val recalls =
                CompareMetrics.thresholdRecall(got, kthMap, K).values
              val nps = perWorker.flatMap(_._2.stats.map(_.nprobeUsed))
              val avgMs = (straggler + tMerge) * 1000.0 / NEVAL
              println(f"$w%7d  $lbl  $avgMs%8.2f  $straggler%11.2f  $tMerge%7.2f" +
                f"  ${recalls.min}%12.3f  ${nps.sum.toDouble / nps.size}%8.1f")
              perWorker.foreach(_._2.results.unpersist())
          }
          shards.foreach(_._1.unpersist())
          qdfW.unpersist()
        }

      case "overhead" =>
        val qdf = evalQ.zipWithIndex
          .map { case (v, i) => (i.toLong, v, 0.8f) }
          .toSeq.toDF("qid", "vec", "required_recall")
        val t2 = now()
        val res = BoundedSearch.search(assigned, model, traces, qdf, K, MULT, STDM)
        res.results.count()
        val tElp = now() - t2
        val meanProbe = res.stats.map(_.nprobeUsed).sum / res.stats.size
        val t3 = now()
        IVFSearch.search(assigned, model, qdf.select(col("qid"), col("vec")),
          K, meanProbe).count()
        val tFixed = now() - t3
        println(f"ELP search: $tElp%.2fs; fixed nprobe=$meanProbe scan: $tFixed%.2fs; overhead ratio ${tElp / tFixed}%.2f")
    }
    spark.stop()
  }

  private def now(): Double = System.nanoTime() / 1e9

  /** Per-query scan time measured ON EXECUTORS (the figure-10 latency
    * axis): re-executes each query's probe set PROBE-MAJOR — every
    * (list, query) probe scans the list's materialized rows through
    * the same bounded heap + distance kernel as production — and sums
    * each query's probe times in one Spark aggregate. The production
    * kernels are data-major (all probes of a list interleave in one
    * streaming pass), where per-query time is not separable without
    * timing every row; the probe-major re-scan keeps the per-pair
    * arithmetic identical, so the per-QUERY time distribution is
    * measured, not modeled from row counts.
    *
    * Timing discipline: per-probe THREAD-CPU time, best of two
    * repetitions. Wall-clock nanoTime was measured first and rejected:
    * with 16 scan threads contending, a probe's wall time includes
    * whatever its task neighbors were doing — the r14 first runs read
    * p99/mean 1.30 then 2.52 for the SAME fixed-nprobe engine (whose
    * per-query rows are uniform by construction), pure scheduler
    * noise. CPU time excludes preemption; min-of-2 drops the
    * cold-cache first touch. Task memory: one list's rows (the IVF
    * list bound). */
  private def perQueryScanNanos(assigned: DataFrame,
      model: graft.index.IVFModel, q: Array[(Long, Array[Float])],
      nps: Map[Long, Int], k: Int): Map[Long, Long] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val metric = model.metric
    val qScan =
      if (metric == "ip") q.map { case (i, v) => (i, Kernels.l2Normalize(v)) }
      else q
    val bq = spark.sparkContext.broadcast(qScan)
    val maxNp = qScan.map { case (qid, _) => nps(qid) }.max
    val ranks = IVFSearch.rankTop(spark, model, qScan, maxNp)
    val probes: Seq[(Int, Int)] = qScan.indices.flatMap { qi =>
      ranks(qi).take(nps(qScan(qi)._1)).map { case (l, _) => (l, qi) }
    }
    val probeG = probes.toDF("list_no", "qi").as[(Int, Int)].groupByKey(_._1)
    val dataG = assigned
      .select(col("list_no").cast("int"), col("id").cast("long"), col("vec"))
      .as[(Int, Long, Array[Float])].groupByKey(_._1)
    dataG.cogroup(probeG) { (_, dataIt, probeIt) =>
      val ps = probeIt.toArray
      if (ps.isEmpty) Iterator.empty
      else {
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        dataIt.foreach { case (_, id, v) => ids += id; vecs += v }
        val n = ids.length
        val qs = bq.value
        val tmx = java.lang.management.ManagementFactory.getThreadMXBean
        ps.iterator.map { case (_, qi) =>
          val qv = qs(qi)._2
          var best = Long.MaxValue
          var rep = 0
          while (rep < 2) {
            val h = new graft.operators.TopK(k)
            val t0 = tmx.getCurrentThreadCpuTime
            var i = 0
            while (i < n) {
              h.add(Kernels.distance(metric, qv, vecs(i)), ids(i))
              i += 1
            }
            val dt = tmx.getCurrentThreadCpuTime - t0
            if (dt < best) best = dt
            rep += 1
          }
          (qs(qi)._1, best)
        }
      }
    }.groupByKey(_._1).mapGroups((qid, it) => (qid, it.map(_._2).sum))
      .collect().toMap
  }
}
