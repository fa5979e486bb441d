package graft.tools_dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.index.IVFIndex
import graft.search.{FlatSearch, IVFSearch}

/** Dev tool: the probe-pruning story at a more serious local scale —
  * n × 64-d vectors in a list_no-partitioned parquet table; compare
  * flat scan vs IVF probe (bytes read via partition pruning, time),
  * then the bounded-error flagship.
  * run: sbt "runMain graft.tools_dev.ScaleDemo [n] [nlist]"
  * (defaults 200000 / 256; 1000000 1024 = the reference's IVF1024 config)
  */
object ScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.driver.maxResultSize", "4g")
      // a 30-min single-app pipeline accumulates shuffle files from
      // hundreds of dead stages; aggressive periodic GC lets the
      // ContextCleaner delete them before /tmp fills (the r5 10M run
      // died on disk at the last stage without this)
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nlist = if (args.length > 1) args(1).toInt else 256
    val d = 64; val k = 10; val nq = 16
    val dir = java.nio.file.Files.createTempDirectory("scale").toString
    println(s"corpus: $n × $d, nlist=$nlist, out=$dir")

    // distributed seeded generation — nothing driver-side
    val nClusters = 256
    val gen = udf { (id: Long) =>
      val r = new scala.util.Random(id * 2654435761L + 42)
      val c = new scala.util.Random((id % nClusters) * 7919 + 1)
      Array.fill(d)((c.nextGaussian() + 0.15 * r.nextGaussian()).toFloat)
    }
    val baseDF = spark.range(n).toDF("id").withColumn("vec", gen(col("id"))).cache()
    baseDF.count()

    var t = System.nanoTime()
    // coarse k-means needs ~hundreds of points per centroid, not the
    // corpus: cap the sample so 10M-row runs don't pay 2.5M-row Lloyd
    val frac = math.min(0.25, math.max(0.05, 800.0 * nlist / n))
    // SCALE_METRIC=ip runs the whole demo in angle space (the
    // IndexIVF.cpp:101-110 analog) — IP-metric spot-checks of routing
    // decisions measured on L2 (VERDICT r10 #5)
    val metric = sys.env.getOrElse("SCALE_METRIC", "l2")
    val model = IVFIndex.train(baseDF.sample(frac, 42L), nlist, metric)
    println(f"kmeans train (${(n * frac).toInt} sample): ${(System.nanoTime() - t) / 1e9}%.1fs")

    t = System.nanoTime()
    IVFIndex.write(IVFIndex.assign(baseDF, model), s"$dir/ivf")
    println(f"assign+write partitioned: ${(System.nanoTime() - t) / 1e9}%.1fs")

    // flat baseline reads unpartitioned parquet — same storage medium.
    // Under ip the ENGINE's convention is angle search on normalized
    // ingest (IVFIndex.assign rewrites vec normalized), while
    // FlatSearch "ip" is raw inner product — on unnormalized synthetic
    // data those rank DIFFERENT neighbors, so the GT table must be the
    // normalized corpus for the recall columns to measure the engine's
    // own objective (unit-norm real embeddings make the two coincide).
    // ... and the QUERY side of every GT scan must be normalized too:
    // FlatSearch does not normalize queries, so a raw |q|~8 query
    // against the normalized corpus scales every GT distance by |q| —
    // the ID sets stay correct (positive per-query scaling) but all
    // distance-threshold math (kscaling point generation, calibration
    // thresholdRecall) silently mismatches the engine's -cos scale.
    // Normalization is idempotent, so the engine paths are unaffected.
    val qBase =
      if (metric == "ip") {
        val normU = udf { a: Seq[Float] =>
          graft.functions.Kernels.l2Normalize(a.toArray) }
        baseDF.withColumn("vec", normU(col("vec"))).cache()
      } else baseDF
    qBase.write.mode("overwrite").parquet(s"$dir/flat")
    val flatTbl = spark.read.parquet(s"$dir/flat")
    val ivf = spark.read.parquet(s"$dir/ivf")
    val queries = qBase.limit(nq).select(col("id").as("qid"), col("vec"))

    t = System.nanoTime()
    val flat = FlatSearch.knn(flatTbl, queries, k, metric)
    flat.count()
    val tFlat = (System.nanoTime() - t) / 1e9

    for (np <- Seq(8, 16, 32)) {
      t = System.nanoTime()
      val r = IVFSearch.search(ivf, model, queries, k, np)
      r.count()
      val tIvf = (System.nanoTime() - t) / 1e9
      // recall vs flat
      val exact = flat.select(col("qid"), col("id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val got = r.select(col("qid"), col("id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rec = exact.map { case (q, ids) =>
        (got.getOrElse(q, Set.empty) & ids).size.toDouble / k }.sum / exact.size
      println(f"nprobe=$np%3d: ${tIvf}%.2fs (flat ${tFlat}%.2fs, ${tFlat / tIvf}%.1fx) recall=$rec%.3f")
    }

    // flagship at scale: error-bounded adaptive search over the
    // partitioned table. Profile-training coverage SCALES with corpus
    // size (the reference trains ts=5000 at 10M, `eval/run.sh` +
    // `IVF_pro.h:54`): 200 queries were enough at 200k, but at 20M the
    // 16-query eval batch exposed a 0.600-recall tail query the
    // 200-query profile had never seen (r11_scale_ab_20m_ip.log run 4).
    // GT + staged capture for 200 queries cost 17.8 s at 20M, so 5000
    // is ~7 min of setup — build-time work, not per-query cost.
    // SCALE_TRAINQ overrides for comparability reruns.
    import graft.profile.ProfileTrainer
    import graft.search.BoundedSearch
    val nTrain = sys.env.get("SCALE_TRAINQ").map(_.toInt)
      .getOrElse(math.min(5000L, math.max(200L, n.toLong / 4000)).toInt)
    val trainQ = qBase.orderBy(col("id").desc).limit(nTrain)
      .select(col("id").as("qid"), col("vec"))
    t = System.nanoTime()
    val gt = FlatSearch.knn(flatTbl, trainQ, k, metric)
    val traces = ProfileTrainer.train(ivf, model, trainQ, gt, k)
    println(f"profile training ($nTrain queries): ${(System.nanoTime() - t) / 1e9}%.1fs")

    // per-workload calibration, FITTED on a holdout with exact GT
    // (CalibrationFit — the job VERDICT r9 #3 asked for) instead of the
    // demo-grade (4.0, 1.0) constant that printed min recall 0.600 on a
    // req-0.9 bound at 40M. Holdout is disjoint from the profile's
    // trainQ (top ids) and from every eval batch below (id % 997 / nq
    // prefixes). SCALE_CAL=fixed restores the old constant for
    // comparability reruns.
    val (calM, calS) =
      if (sys.env.get("SCALE_CAL").contains("fixed")) (4.0f, 1.0f)
      else {
        // residue class 3 mod 1009, EXCLUDING the evalQ prefix
        // (ids < nq — id=3 is in it) and bigQ's 0-mod-997 class, so
        // the fitted pair is never evaluated on a query it saw.
        // also below n-nTrain: trainQ is the TOP-nTrain ids, and the
        // scaladoc 'disjoint from trainQ' claim must hold at every n.
        // The holdout scales with the corpus alongside trainQ: a
        // 200-query holdout can read min recall 1.000 while the fitted
        // pair still misses a 1-in-16 tail query (the r11 ip reading) —
        // the min over 1000 samples sees the p≈1% tail a 200-sample
        // min misses half the time.
        val nHold = math.min(1000L, math.max(200L, n.toLong / 20000)).toInt
        val holdQ = qBase
          .filter(col("id") >= nq && col("id") < n - nTrain &&
            col("id") % 1009 === 3 && col("id") % 997 =!= 0)
          .limit(nHold)
          .select(col("id").as("qid"), col("vec"))
        t = System.nanoTime()
        val gtH = FlatSearch.knn(flatTbl, holdQ, k, metric)
        val fit = graft.profile.CalibrationFit.fit(ivf, model, traces,
          holdQ, gtH, k, requiredRecall = 0.9f,
          multipliers = Seq(2f, 4f, 8f, 16f), stdMs = Seq(0.5f, 1f, 2f))
        println(f"calibration fit ($nHold-query holdout): (${fit.multiplier}, " +
          f"${fit.stdM}) min recall ${fit.minRecall}%.3f mean nprobe " +
          f"${fit.meanNprobe}%.1f met=${fit.met}: " +
          f"${(System.nanoTime() - t) / 1e9}%.1fs")
        (fit.multiplier, fit.stdM)
      }

    val evalQ = queries.withColumn("required_recall", lit(0.9f))
    t = System.nanoTime()
    val res = BoundedSearch.search(ivf, model, traces, evalQ, k,
      multiplier = calM, stdM = calS)
    res.results.count()
    val tB = (System.nanoTime() - t) / 1e9
    val probes = res.stats.map(_.nprobeUsed)
    val exact = flat.select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = res.results.select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rec = exact.map { case (q, ids) =>
      (got.getOrElse(q, Set.empty) & ids).size.toDouble / k }.toSeq
    println(f"bounded search (req 0.9, $nq queries): ${tB}%.2fs, " +
      f"mean nprobe ${probes.sum.toDouble / probes.size}%.1f/$nlist, " +
      f"recall mean ${rec.sum / rec.size}%.3f min ${rec.min}%.3f")

    // throughput: a real batch (1000 queries) amortizes the fixed
    // staged-rounds job overhead — report per-query amortized latency
    val bigQ = qBase.filter(col("id") % 997 === 0).limit(1000)
      .select(col("id").as("qid"), col("vec"))
      .withColumn("required_recall", lit(0.9f))
    val nBig = bigQ.count()
    t = System.nanoTime()
    val resBig = BoundedSearch.search(ivf, model, traces, bigQ, k,
      multiplier = calM, stdM = calS)
    resBig.results.count()
    val tBig = (System.nanoTime() - t) / 1e9
    val pBig = resBig.stats.map(_.nprobeUsed)
    println(f"bounded search batch ($nBig queries): ${tBig}%.2fs = " +
      f"${tBig * 1000 / nBig}%.1f ms/query amortized, " +
      f"mean nprobe ${pBig.sum.toDouble / pBig.size}%.1f/$nlist")
    // the store is built only when it fits the free storage memory
    // (IndexCache.residentLists); 0 means every scan read the Parquet rows
    println("resident-list stores held: " + spark.sparkContext
      .getPersistentRDDs.values.count(_.name == graft.index.IndexCache.ResidentName))

    // SCALE_ONLY=bounded skips the codec/HNSW/dedup sections — for
    // focused reruns of the adaptive-batch ladder (e.g. the 1M-query
    // distributed-path demo) without repaying a ~10-min HNSW build
    val fullRun = sys.env.get("SCALE_ONLY").isEmpty
    if (fullRun) {

    // ---- codec family at scale: the bytes-scanned story ----
    // IVFPQ (8 B/vec vs 256 B raw), two-level PQR rerank (16 B/vec,
    // no raw-vector IO), polysemous Hamming filter, binary IVF.
    import graft.index.{IVFPQ, BinaryHash}
    import graft.quantize.Polysemous
    val assignedSample = IVFIndex.assign(baseDF.sample(0.1, 43L), model).cache()
    t = System.nanoTime()
    val pq = IVFPQ.trainResidualPQ(assignedSample, model, m = 8, nbits = 8, seed = 42L)
    println(f"residual PQ train (10%% sample): ${(System.nanoTime() - t) / 1e9}%.1fs")
    t = System.nanoTime()
    // reuse the ALREADY-PERSISTED assigned table (written above) and
    // cache the level-1 encode — refine training and refine encoding
    // both read it, so the full-corpus assign+encode runs once
    val enc = IVFPQ.encode(ivf, model, pq).cache()
    enc.count()
    val rpq = IVFPQ.trainRefinePQ(
      enc.sample(0.1, 44L), model, pq, m = 8, nbits = 8, seed = 43L)
    val encR = IVFPQ.encodeRefine(enc, model, pq, rpq)
      .drop("vec").cache()
    encR.count()
    enc.unpersist()
    println(f"PQ+refine encode 2×8 B/vec: ${(System.nanoTime() - t) / 1e9}%.1fs")
    t = System.nanoTime()
    val adc = IVFPQ.search(encR, model, pq, queries, k, nprobe = 32); adc.count()
    val tAdc = (System.nanoTime() - t) / 1e9
    t = System.nanoTime()
    val pqr = IVFPQ.searchPQR(encR, model, pq, rpq, queries, k,
      nprobe = 32, kFactor = 4); pqr.count()
    val tPqr = (System.nanoTime() - t) / 1e9
    def recallVsFlat(res: org.apache.spark.sql.DataFrame): Double = {
      val got = res.select(col("qid"), col("id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, ids) =>
        (got.getOrElse(q, Set.empty) & ids).size.toDouble / k }.sum / exact.size
    }
    println(f"IVFPQ ADC nprobe=32: ${tAdc}%.2fs recall=${recallVsFlat(adc)}%.3f; " +
      f"PQR rerank (code-only, kFactor=4): ${tPqr}%.2fs recall=${recallVsFlat(pqr)}%.3f")

    t = System.nanoTime()
    val poly = Polysemous.train(pq, nIter = 30000)
    val encP = graft.quantize.ProductQuantizer.encode(baseDF, poly)
      .select(col("id"), col("code")).cache()
    encP.count()
    println(f"polysemous reorder+encode: ${(System.nanoTime() - t) / 1e9}%.1fs")
    val hist = Polysemous.hammingHistogram(encP, poly, queries)
    val cdf = hist.scanLeft(0L)(_ + _).tail
    val ht = cdf.indexWhere(_ >= cdf.last / 10) // ~10% pass rate threshold
    t = System.nanoTime()
    val pk = Polysemous.knn(encP, poly, queries, k, ht); pk.count()
    println(f"polysemous knn ht=$ht (~${100.0 * cdf(ht) / cdf.last}%.0f%%" +
      f" pass ADC): ${(System.nanoTime() - t) / 1e9}%.2fs recall=${recallVsFlat(pk)}%.3f")

    t = System.nanoTime()
    val wide = BinaryHash.trainWide(d, nbits = 128, seed = 13L)
    val encB = BinaryHash.encodeIvf(ivf, wide).cache()
    encB.count()
    println(f"binary 128-bit encode (16 B/vec): ${(System.nanoTime() - t) / 1e9}%.1fs")
    t = System.nanoTime()
    val bh = BinaryHash.knnHammingIvf(encB, model, wide, queries, k, nprobe = 32)
    bh.count()
    println(f"binary IVF Hamming nprobe=32: ${(System.nanoTime() - t) / 1e9}%.2fs " +
      f"recall=${recallVsFlat(bh)}%.3f (binary-code ranking vs float GT)")
    println("NOTE codec recalls: this synthetic corpus is 256 TIGHT clusters —" +
      " cluster members are near-equidistant to a query, so lossy-code rankings" +
      " cannot break float-level ties; the oracle-exact driver rows (v08/v18/v19)" +
      " and QuantizerSpec measure codec recall on spread data. Times & bytes are" +
      " the point here.")

    } // fullRun: codec family

    // ---- huge-query bounded batch ----
    // nq ≤ 131072 routes BoundedSearch to the driver-decided rounds;
    // nq > 131072 routes to the fully-distributed cogroup path where
    // even the query vectors and centroid rankings never sit on the
    // driver. Third arg overrides the batch size (e.g. 1000000
    // exercises the cogroup path).
    if (n >= 1000000 && sys.env.get("SCALE_ONLY").forall(s => s == "bounded")) {
      val nHuge = if (args.length > 2) args(2).toInt else 100000
      val hugeQ = qBase.filter(col("id") % (n / nHuge) === 0).limit(nHuge)
        .select(col("id").as("qid"), col("vec"))
        .withColumn("required_recall", lit(0.9f))
      val nH = hugeQ.count()
      t = System.nanoTime()
      val resH = BoundedSearch.search(ivf, model, traces, hugeQ, k,
        multiplier = calM, stdM = calS)
      resH.results.count()
      val tH = (System.nanoTime() - t) / 1e9
      val pH = resH.stats.map(_.nprobeUsed)
      println(f"bounded search huge batch ($nH queries): " +
        f"${tH}%.1fs = ${tH * 1000 / nH}%.2f ms/query" +
        f" amortized, mean nprobe ${pH.sum.toDouble / pH.size}%.1f/$nlist")
    }

    // ---- skewed huge batch: hot-list salting on the cogroup path ----
    // every query jittered around ONE corpus point → the same handful
    // of lists take every probe row. Unsalted, a single cogroup task
    // would materialize ALL query vectors + heaps (the r6 advice's
    // skew scenario); with per-list salt factors each task holds
    // ≤ maxProbesPerTask probes and the hot list's rows are re-read
    // once per salt. SCALE_ONLY=skew runs just this section.
    if (n >= 1000000 && sys.env.get("SCALE_ONLY").forall(s => s == "skew")) {
      val nSkew = 200000 // > 131072 → fully-distributed cogroup path
      val anchor = baseDF.filter(col("id") === 17L)
        .select(col("vec")).as[Array[Float]].head()
      val jit = udf { (qid: Long) =>
        val r = new scala.util.Random(qid * 912871L + 5)
        anchor.map(x => (x + 0.05 * r.nextGaussian()).toFloat)
      }
      val skewQ = spark.range(nSkew).toDF("qid")
        .withColumn("vec", jit(col("qid")))
        .withColumn("required_recall", lit(0.9f))
      t = System.nanoTime()
      val resS = BoundedSearch.search(ivf, model, traces, skewQ, k,
        multiplier = calM, stdM = calS)
      resS.results.count()
      val tS = (System.nanoTime() - t) / 1e9
      val pS = resS.stats.map(_.nprobeUsed)
      println(f"bounded search SKEWED batch ($nSkew queries on one " +
        f"cluster, salted cogroup): ${tS}%.1fs = ${tS * 1000 / nSkew}%.2f " +
        f"ms/query amortized, mean nprobe ${pS.sum.toDouble / pS.size}%.1f/$nlist")
    }

    // ---- the distributed rounds' cogroup, metered ----
    // Same fully-distributed bounded search, same query batch, over the
    // partitioned Parquet table and over a cached copy of it. The
    // per-round list scan is the salted cogroup (re-shuffles
    // nprobed/nlist of the corpus per round); a SparkListener sums
    // shuffle-write bytes and task times so its cost is measured, not
    // asserted. SCALE_ONLY=cogroup runs just this section.
    if (n >= 1000000 && sys.env.get("SCALE_ONLY").forall(_ == "cogroup")) {
      val nAB = if (args.length > 2) args(2).toInt else 200000
      val abQ = qBase.filter(col("id") % (n / nAB) === 0).limit(nAB)
        .select(col("id").as("qid"), col("vec"))
        .withColumn("required_recall", lit(0.9f)).cache()
      val nQ = abQ.count()

      // shuffle-write bytes + per-stage task times (VERDICT r9 #2: the
      // 40M margin narrowing blamed "stragglers from the 64-partition
      // granularity" as an explicitly-uninstrumented hypothesis — this
      // records the task-time distribution so the A/B log can test it)
      val meter = new org.apache.spark.scheduler.SparkListener {
        val bytes = new java.util.concurrent.atomic.AtomicLong
        val tasks =
          new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
        // stage id → callsite name, so the worst-stage report says WHAT
        // ran, not just a number (r10's unlabeled 32-task stage cost an
        // analysis round-trip)
        val names = new java.util.concurrent.ConcurrentHashMap[Int, String]
        // SQL-stage attribution (VERDICT r10 #3): SQL stages inherit the
        // execution pool's callsite, so the callsite name alone can't say
        // which PLAN node ran. The SQL UI's own mechanism fixes that:
        // each plan node's metrics are accumulators, the execution-start
        // (and every AQE re-plan) event carries the accumId→node map,
        // and a stage's accumulables say which nodes executed in it.
        val accNode = new java.util.concurrent.ConcurrentHashMap[Long, String]
        def indexPlan(p: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
          p.metrics.foreach(m => accNode.put(m.accumulatorId, p.nodeName))
          p.children.foreach(indexPlan)
        }
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            indexPlan(s.sparkPlanInfo)
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
            indexPlan(s.sparkPlanInfo)
          case _ => ()
        }
        // plumbing nodes that appear in nearly every stage and label nothing
        private val boring = Set("WholeStageCodegen", "InputAdapter",
          "Project", "Filter", "ColumnarToRow", "AQEShuffleRead",
          "ShuffleQueryStage", "ResultQueryStage", "Exchange", "Sort",
          "SerializeFromObject", "DeserializeToObject", "MapPartitions")
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val callsite = sc.stageInfo.name.takeWhile(_ != '\n')
          val nodes = sc.stageInfo.accumulables.values
            .flatMap(a => Option(accNode.get(a.id))).toSeq.distinct
          // prefer the load-bearing nodes (scans, joins, aggregates,
          // cogroups); fall back to whatever's left so AQE shuffle-read
          // stages still label
          val interesting = nodes.filterNot(n =>
            boring.exists(b => n.startsWith(b)))
          val shown = (if (interesting.nonEmpty) interesting else nodes)
            .take(3).mkString("+")
          names.put(sc.stageInfo.stageId,
            if (shown.isEmpty) callsite else s"$callsite | $shown")
          ()
        }
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          if (te.taskInfo != null)
            tasks.add((te.stageId, te.taskInfo.duration))
        }
      }
      spark.sparkContext.addSparkListener(meter)
      def pct(xs: Array[Long], p: Double): Long =
        if (xs.isEmpty) 0L
        else xs((p * (xs.length - 1)).round.toInt)
      def measured(label: String, tbl: org.apache.spark.sql.DataFrame): Unit = {
        Thread.sleep(2000); meter.bytes.set(0L); meter.tasks.clear()
        val t0 = System.nanoTime()
        // fixed (4.0, 1.0) ON PURPOSE: the A/B's workload (mean nprobe)
        // must stay identical to the r9 sweep for arm comparability;
        // recall is not printed here, the fitted pair serves the
        // flagship sections above
        val r = BoundedSearch.search(tbl, model, traces, abQ, k,
          multiplier = 4.0f, stdM = 1.0f, forceDistributed = true)
        r.results.count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000) // listener bus drain (demo-grade)
        println(f"bounded dist $label ($nQ queries): $sec%.1fs = " +
          f"${sec * 1000 / nQ}%.2f ms/q, shuffle-write " +
          f"${meter.bytes.get / 1048576.0}%.0f MiB, mean nprobe " +
          f"${r.stats.map(_.nprobeUsed).sum.toDouble / r.stats.size}%.1f")
        // task-time distribution: stragglers show as max >> p95 on the
        // big scan stages with idle-core wall time (low utilization);
        // uniform slowdown (e.g. storage-eviction re-reads) instead
        // raises p50 with utilization intact
        import scala.jdk.CollectionConverters._
        val byStage = meter.tasks.asScala.toArray.groupBy(_._1)
        val all = byStage.values.flatten.map(_._2).toArray.sorted
        val coreSec = all.sum / 1000.0
        println(f"  tasks=${all.length} p50/p95/max = ${pct(all, 0.5)}/" +
          f"${pct(all, 0.95)}/${pct(all, 1.0)} ms, core-time " +
          f"$coreSec%.0fs = ${100 * coreSec / (sec * 32)}%.0f%% of 32 cores")
        byStage.toSeq
          .sortBy { case (_, ts) => -ts.map(_._2).sum }.take(5)
          .foreach { case (sid, ts) =>
            val ds = ts.map(_._2).sorted
            println(f"  costly stage $sid: ${ds.length} tasks p50/p95/max = " +
              f"${pct(ds, 0.5)}/${pct(ds, 0.95)}/${pct(ds, 1.0)} ms, " +
              f"sum ${ds.sum / 1000.0}%.0fs [${meter.names.getOrDefault(sid, "?")}]")
          }
      }
      // SCALE_AB=disk|cached|all (default all) selects arms; the cached
      // arm reads the table from the block manager instead of Parquet
      val arms = sys.env.getOrElse("SCALE_AB", "all")
      if (arms == "disk" || arms == "all")
        measured("PARTITIONED disk (cogroup)", ivf)
      if (arms == "cached" || arms == "all") {
        val memPlain = ivf.cache(); memPlain.count()
        measured("RESIDENT  mem  (cogroup)  ", memPlain)
        memPlain.unpersist()
      }
      abQ.unpersist()
      spark.sparkContext.removeSparkListener(meter)
    }

    if (fullRun) {
    // ---- HNSW at scale: built-once partitioned graph ----
    // graph build is the one inherently block-local stage (documented
    // contract); size nParts so a block is ~150k nodes regardless of n
    val nH2 = math.min(n, 2000000)
    val hnswBase = if (nH2 < n) baseDF.filter(col("id") < nH2) else baseDF
    val hnswParts = math.max(8, nH2 / 150000)
    t = System.nanoTime()
    val graph = graft.index.HNSW.buildGraph(hnswBase, nParts = hnswParts,
      m = 16, efConstruction = 64).cache()
    graph.count()
    println(f"HNSW build ($nH2 nodes, $hnswParts blocks): ${(System.nanoTime() - t) / 1e9}%.1fs")
    t = System.nanoTime()
    val hres = graft.index.HNSW.searchGraph(graph, queries, k, efSearch = 128)
    hres.count()
    val tHnsw = (System.nanoTime() - t) / 1e9
    val hExact = FlatSearch.knn(hnswBase, queries, k)
      .select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hGot = hres.select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hRecs = hExact.map { case (q, ids) =>
      (hGot.getOrElse(q, Set.empty) & ids).size.toDouble / k }.toSeq
    println(f"HNSW search efSearch=128 ($nq queries): ${tHnsw}%.2fs, " +
      f"recall mean ${hRecs.sum / hRecs.size}%.3f min ${hRecs.min}%.3f")
    graph.unpersist()

    // ---- dedup build at scale (near-dup LSH lives in LshScale: this
    // tight-cluster corpus is the banded join's degenerate case, and
    // the multi-section pipeline's shuffle residue crowds its disk) ----
    // every 100th vector gets an identical twin at id+n
    val planted = baseDF.filter(col("id") % 100 === 0)
      .select((col("id") + n).as("id"), col("vec"))
    val dedupIn = baseDF.select(col("id"), col("vec")).unionByName(planted)
    val nPlanted = planted.count()
    // dedup index build over the same planted-twin corpus: the build
    // shuffle is keyed on (list_no, xxhash64(vec)) — 8 B — not the raw
    // 256 B vector; timing documents the shuffle-shrink at scale
    t = System.nanoTime()
    val dedupIdx = graft.index.IVFDedup.build(dedupIn, model)
    val nUnique = dedupIdx.unique.count()
    val nInst = dedupIdx.instances.count()
    println(f"IVFDedup build (${n + nPlanted} rows, 8B hash shuffle key): " +
      f"${(System.nanoTime() - t) / 1e9}%.1fs, $nUnique unique + $nInst instances")
    } // fullRun: HNSW + dedup

    spark.stop()
  }
}
