package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.IVFModel
import graft.profile.ErrorProfile
import graft.profile.ErrorProfile.Trace

/** Auncel's core: error-bounded adaptive IVF search
  * (`IndexIVF::search_preassigned` tune block,
  * `Auncel/IndexIVF.cpp:504-637`) re-expressed as a staged-rounds Spark
  * controller (SURVEY §7.2):
  *
  *  - probes run in power-of-2 rounds (1, 2, 4, …, nlist/8), exactly the
  *    stages the traces are trained at;
  *  - after each round, per-query predicted recall = curNum/k from the
  *    geometric error profile (φ over boundary distances → trace lookup
  *    with σ margin);
  *  - a query stops once predicted ≥ required (or the nlist/8 hard cap,
  *    `IndexIVF.cpp:621-626`), then probes out to
  *    `stage × multiplier` lists (the calibration multiplier,
  *    `IndexIVF.cpp:616,623`);
  *  - stagnation rule: if the worst kept distance is unchanged across
  *    `required_recall × 12` consecutive probes, treat recall as 1
  *    (`IndexIVF.cpp:570-598`) — staged form: a round with an unchanged
  *    worst distance counts as that round's probe count.
  *
  * Scale shape: each round reads ONLY the newly probed lists (partition
  * pruning) and per-partition bounded heaps shuffle `parts × nq_active × k`
  * rows. The carried top-k (≤ k per query) lives in the [[Decider]]'s
  * driver arrays on the driver-decided rounds and in the [[CtrlD]] rows on
  * the fully-distributed path — nothing per-vector ever sits on the
  * driver.
  *
  * Two control paths, routed on one batch-size test in [[search]]:
  * every batch within the driver contract ([[FlatSearch.collectable]])
  * takes the driver-decided rounds ([[searchStagedDriver]]), larger
  * ones the fully-distributed rounds ([[searchDistributed]]). Both
  * merge each stage through [[mergeKeep]] and decide through
  * [[stageStep]].
  */
object BoundedSearch {

  /** Per-query outcome: the probe count actually used and the profile's
    * predicted recall at decision time. */
  final case class QueryStats(qid: Long, nprobeUsed: Int, predictedRecall: Float,
                              decidedAtStage: Int)

  final case class Result(results: DataFrame, stats: Seq[QueryStats])

  /** Per-query decision state of the staged rounds: the [[Decider]]'s
    * O(nq) driver arrays hold it on the driver-decided rounds, and each
    * [[CtrlD]] row carries it on the fully-distributed path; both
    * advance it through [[decideStep]]. */
  final case class Ctrl(qid: Long, require: Float, myNprobe: Int,
                        stoped: Int, preVal: Double, predicted: Float,
                        decidedStage: Int)

  /** The pure one-round termination transition (`IndexIVF.cpp:504-637`
    * tune block: stagnation bookkeeping + stop decision), shared
    * verbatim by the driver-side Decider and the distributed control
    * DataFrame so both paths produce identical decisions. Callers
    * invoke it only for still-active queries (myNprobe == 0). */
  def decideStep(st: Ctrl, j: Int, levels: Int, k: Int, multiplier: Float,
                 recallRaw: Float, nDists: Int, maxVal: Double): Ctrl = {
    val lo = if (j == 0) 0 else 1 << (j - 1)
    val hi = 1 << j
    var recall = recallRaw
    var stoped = st.stoped
    // stagnation heuristic on the worst kept distance
    if (j > 0 && maxVal == st.preVal) stoped += (hi - lo)
    else if (j > 0) stoped = 0
    if (stoped >= (st.require * 12).toInt && nDists >= k) recall = 1f
    val capped = j == levels - 1
    if (recall >= st.require || capped)
      st.copy(myNprobe = math.max(hi, (hi * multiplier).toInt),
        stoped = stoped, preVal = maxVal, predicted = recall,
        decidedStage = hi)
    else st.copy(stoped = stoped, preVal = maxVal)
  }

  /** Control row for the fully-distributed path: the query vector, its
    * full centroid ranking, boundary-distance window AND running top-k
    * (`topIds`/`topDists`, sorted ascending by (dist, id)) ride WITH
    * the per-query decision state, so no per-query structure ever
    * exists on the driver — and each round's merge + recall prediction
    * + decision is ONE cogroup against the round's scan output instead
    * of a window shuffle, a summaries aggregation and a join (r18:
    * a07's per-round stage stack measured mostly scheduling on 32-task
    * near-empty stages). */
  final case class CtrlD(qid: Long, vec: Array[Float], require: Float,
                         lists: Array[Int], dB: Array[Float], myNprobe: Int,
                         stoped: Int, preVal: Double, predicted: Float,
                         decidedStage: Int,
                         topIds: Array[Long], topDists: Array[Double])

  /** @param queries (qid, vec, required_recall); batches up to
    *                `graft.distributed.minQueries` are collected to the
    *                driver (the reference's own contract — its driver
    *                holds all queries in RAM), larger ones stay in a
    *                DataFrame end-to-end ([[searchDistributed]])
    * @param multiplier calibration multiplier (`hyperparameter.txt`)
    * @param stdM       σ-margin multiplier
    */
  def search(ivfData: DataFrame, model: IVFModel, traces: Array[Trace],
             queries: DataFrame, k: Int, multiplier: Float = 1.0f,
             stdM: Float = 1.0f, forceDistributed: Boolean = false): Result = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    if (forceDistributed) return searchDistributed(ivfData, model, traces,
      queries, k, multiplier, stdM)
    // one bounded collect both routes the batch and, when it fits, IS
    // the batch: a batch past the driver contract bails to the
    // DataFrame-resident path
    FlatSearch.collectable(queries
      .select(col("qid").cast("long"), col("vec"),
        col("required_recall").cast("float"))
      .as[(Long, Array[Float], Float)]) match {
      case Some(qRows) =>
        searchStagedDriver(ivfData, model, traces, qRows, k, multiplier, stdM)
      case None =>
        searchDistributed(ivfData, model, traces, queries, k, multiplier, stdM)
    }
  }

  /** Fully-distributed staged rounds for query batches past the
    * driver-collectable contract ([[FlatSearch.collectable]]): the
    * query vectors, centroid rankings, boundary windows and decision
    * state all live in one [[CtrlD]] Dataset; each round's probe set
    * is a flatMap over the active control rows, and the probed-list
    * scan is a LIST-KEYED COGROUP between the IVF table and the probe
    * rows (both shuffle on the 4-byte list_no key) with per-query
    * bounded heaps inside each list group. The driver's only per-query
    * moment is the final O(nq) stats collect, matching the reference's
    * own per-query result arrays.
    *
    * Decisions are identical to the driver-decided rounds by construction:
    * same [[IVFModel.rankCentroids]] coarse ranking, same
    * [[ErrorProfile.boundaryDistances]] window, same [[mergeKeep]] and
    * [[stageStep]] on the same cumulative top-k.
    *
    * Scale shape: per round the big side carries only the PROBED lists'
    * rows (partition/bucket-pruned), and the probe side carries
    * active × (hi−lo) rows of ~(d·4+16) bytes. On a list_no-BUCKETED
    * table ([[graft.index.IVFIndex.writeBucketed]]) the scan is a
    * bucket-local fused cogroup with NO data-side shuffle at all
    * ([[scanListsJoin]], plan-asserted by BoundedBucketSpec);
    * unbucketed, the cogroup shuffles nprobed/nlist of the corpus per
    * round — the price of not holding nq-sized maps anywhere. Skewed
    * query distributions (every query ranking the same lists) are
    * bounded by per-list SALTING in [[scanListsCogroup]], which also
    * serves as the bucketed path's skew fallback. */
  private def searchDistributed(ivfData: DataFrame, model: IVFModel,
      traces: Array[Trace], queries: DataFrame, k: Int,
      multiplier: Float, stdM: Float): Result = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val nlist = model.nlist
    val levels = traces.length
    val met = model.metric
    val bm = spark.sparkContext.broadcast(model)

    // bucketed fast path: on a list_no-bucketed table the per-round list
    // scan is a bucket-local fused cogroup — the data-side shuffle drops out
    // entirely (asserted by BoundedBucketSpec's plan inspection). The
    // salted cogroup remains the fallback for unbucketed tables, for
    // hot-list skew beyond the per-task probe bound, AND — per the
    // measured crossover — for rounds too small to amortize the fused
    // arm's coarser task granularity.
    val nBuckets = listNoBuckets(ivfData)
    // per-list sizes for the crossover guard — layout metadata
    // (IndexCache.listSizes memo: sidecar-seeded for IndexCache-built
    // frames, one groupBy job per table per session otherwise), so no
    // job runs per search call; only fused-eligible layouts ask. The
    // guard's probed-volume estimate is now EXACT (sum of the probed
    // lists' actual sizes, not probed-count × mean) — same crossover
    // constant, better estimate under list skew.
    val listSizes: Map[Long, Long] =
      if (nBuckets.isDefined) graft.index.IndexCache.listSizes(ivfData)
      else Map.empty
    def scanRound(p: org.apache.spark.sql.Dataset[(Int, Long, Array[Float])],
                  counts: Map[Int, Long]): DataFrame = {
      // the bucket-local kernel streams one list group at a time, so
      // its per-task peak is the largest single list's probe array
      // (qvec + heap per probe) — not the bucket's sum — which is why
      // its per-list bound is 8× the cogroup's per-task bound; the
      // avg-per-bucket check stays as a belt-and-braces guard. Beyond
      // either bound, the salted cogroup is the right tool (it can
      // split a hot list across tasks; a bucket-local scan cannot).
      // The third clause is the engine obeying its own measurements
      // (r9 scale sweep, encoded in GraftConf.fusedMinProbedRows): a
      // round whose scan volume (sum of the probed lists' sizes, from
      // index metadata) sits below the crossover routes to the salted cogroup
      // even on a fused-eligible layout — small bucketed corpora
      // otherwise paid ~60% on every bounded query for a layout choice
      // that only helps at serving scale.
      val joinOk = nBuckets.exists { nb =>
        counts.values.max <= maxProbesPerBucket &&
          counts.values.sum / nb <= maxProbesPerBucket &&
          counts.keysIterator.map(l => listSizes.getOrElse(l.toLong, 0L))
            .sum >= graft.GraftConf.fusedMinProbedRows
      }
      lastScanRoute.set(if (joinOk) "fused" else "cogroup")
      if (joinOk) scanListsJoin(ivfData, met, p, counts.keys.toSeq.sorted, k)
      else scanListsCogroup(ivfData, met, p, counts, k)
    }

    var ctrl: org.apache.spark.sql.Dataset[CtrlD] = queries
      .select(col("qid").cast("long"), col("vec"),
        col("required_recall").cast("float"))
      // the map below does O(nq × nlist × d) work (full centroid ranking
      // per query) — by far the heaviest narrow transform on this path —
      // and inherits the INPUT's partitioning. A query batch arriving as
      // few partitions (e.g. through a GlobalLimit, which collapses to
      // ONE) would serialize it: the r10 task-time instrumentation found
      // a single 263-s task at 20M/200k doing exactly this in every arm.
      // The repartition is O(nq × d) bytes — noise against the ranking
      // work it parallelizes — and per-qid decisions are order-
      // independent, so results are unchanged.
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, Array[Float], Float)]
      .map { case (qid, v0, req) =>
        val m = bm.value
        val v = if (m.metric == "ip") Kernels.l2Normalize(v0) else v0
        val r = m.rankCentroids(v)
        val dB = ErrorProfile.boundaryDistances(
          r.map(_._2), r.map(_._1), m.interdisAt, m.nlist)
        CtrlD(qid, v, req, r.map(_._1), dB, 0, 0, Double.NaN, 0f, 0,
          Array.emptyLongArray, Array.emptyDoubleArray)
      }.cache()

    // per-round probe-list histogram (empty-round check, Parquet
    // partition pruning, hot-list salt factors). Each round's map rides
    // the SAME action that materializes that round's control cache —
    // round 0's materializes the init — where this loop used to pay a
    // bare count() per round PLUS a separate histogram job: one action
    // per round instead of two. A lean list-only projection; counts are
    // identical to grouping the full (list, qid, vec) probe rows.
    def probeListCounts(c: org.apache.spark.sql.Dataset[CtrlD],
                        round: Int): Map[Int, Long] = {
      val lo = if (round == 0) 0 else 1 << (round - 1)
      val hi = 1 << round
      c.filter(_.myNprobe == 0)
        .flatMap(_.lists.slice(lo, hi).iterator)
        .groupByKey(identity).count().collect().toMap
    }
    var listCounts: Map[Int, Long] = probeListCounts(ctrl, 0)

    var j = 0
    // empty histogram ⟺ no active queries (decisions never reopen):
    // remaining rounds are no-ops — stop instead of paying a job each
    while (j < levels && listCounts.nonEmpty) {
      val lo = if (j == 0) 0 else 1 << (j - 1)
      val hi = 1 << j
      val probes = ctrl.filter(_.myNprobe == 0).flatMap { c =>
        c.lists.slice(lo, hi).iterator.map(l => (l, c.qid, c.vec))
      }
      locally {
        val newPartials = scanRound(probes, listCounts).as[(Long, Long, Double)]
        val bTrace = spark.sparkContext.broadcast(traces(j))
        val jj = j; val kk = k; val sm = stdM; val mult = multiplier
        val lv = levels
        val prevCtrl = ctrl
        // merge + recall prediction + decision in ONE cogroup on qid:
        // the running top-k lives in the control row, so the round's
        // only per-query state movement is the scan output — the old
        // shape's separate state cache (window shuffle to re-rank it,
        // sort_array summaries aggregation, left join back onto ctrl,
        // per-late-round eager localCheckpoint) is gone. The merge is
        // the Decider's own [[mergeKeep]], so both paths keep the same
        // top-k by construction; ids are unique per query across rounds
        // (each list is probed at most once — rank ranges are disjoint).
        ctrl = ctrl.groupByKey(_.qid)
          .cogroup(newPartials.groupByKey(_._1)) { (_, cIt, pIt) =>
            cIt.map { c =>
              val cand = pIt.toArray
              val (ids, dists) = BoundedSearch.mergeKeep(c.topIds, c.topDists,
                cand.map(_._2), cand.map(_._3), kk)
              if (c.myNprobe != 0) c.copy(topIds = ids, topDists = dists)
              else {
                val next = BoundedSearch.stageStep(
                  Ctrl(c.qid, c.require, c.myNprobe, c.stoped, c.preVal,
                    c.predicted, c.decidedStage),
                  dists, c.dB, bTrace.value, jj, lv, kk, mult, sm, met)
                c.copy(myNprobe = next.myNprobe, stoped = next.stoped,
                  preVal = next.preVal, predicted = next.predicted,
                  decidedStage = next.decidedStage,
                  topIds = ids, topDists = dists)
              }
            }
          }.cache()
        // ONE action: materializes the new control cache AND yields the
        // NEXT round's probe histogram — only then drop the previous
        // round's copy
        listCounts = probeListCounts(ctrl, j + 1)
        prevCtrl.unpersist()
      }
      j += 1
    }

    // per-query top-k rows for the finishing merge, exploded once from
    // the control rows (during the rounds they never leave them)
    var state: DataFrame = ctrl.flatMap { c =>
      c.topIds.indices.iterator.map(i => (c.qid, c.topIds(i), c.topDists(i)))
    }.toDF("qid", "id", "dist")

    // finishing pass: decisionStage → stage × multiplier, probe lists
    // straight out of each control row's own ranking
    val nl = nlist
    val finProbes = ctrl.flatMap { c =>
      val upto = math.min(c.myNprobe, nl)
      if (upto > c.decidedStage)
        c.lists.slice(c.decidedStage, upto).iterator.map(l => (l, c.qid, c.vec))
      else Iterator.empty
    }
    val finCounts = finProbes.groupByKey(_._1).count().collect().toMap
    if (finCounts.nonEmpty)
      state = state.unionByName(scanRound(finProbes, finCounts))
    // materialize through the checkpoint so the result no longer
    // depends on the cached control rows we are about to release
    val results = FlatSearch.mergeTopK(state, k).localCheckpoint(eager = true)

    val stats = ctrl
      .map(c => (c.qid, math.min(c.myNprobe, nl), c.predicted, c.decidedStage))
      .collect().sortBy(_._1)
      .map { case (qid, np, pred, ds0) => QueryStats(qid, np, pred, ds0) }
      .toSeq
    ctrl.unpersist()
    Result(results, stats)
  }

  /** Each (list, salt) cogroup task materializes its probe rows (query
    * vector + one TopK heap per probe); this caps how many probes one
    * task may hold. A hot list under a skewed query distribution —
    * every query ranking the same list first — would otherwise
    * concentrate ALL query vectors in a single executor task.
    * Override: the `graft.cogroup.maxProbes` system property
    * ([[graft.GraftConf.cogroupMaxProbes]]). */
  private def maxProbesPerTask: Int = graft.GraftConf.cogroupMaxProbes

  /** Per-list probe bound for the bucket-local path (see `scanRound`
    * in [[searchDistributed]]): list groups are consumed one at a time,
    * so a task's peak state is one list's probe array — fixed at 8×
    * the cogroup's per-task bound (~40 MB peak at d=64, k=10;
    * [[graft.GraftConf.joinMaxProbesPerBucket]]). */
  private def maxProbesPerBucket: Int = graft.GraftConf.joinMaxProbesPerBucket

  /** Test hook: which scan route ("fused" | "cogroup") the last
    * distributed round on this thread took — the router's crossover
    * guard is pinned by observing the decision at its real site
    * (BoundedBucketSpec's router tests) rather than re-deriving it. */
  private[graft] val lastScanRoute = new ThreadLocal[String]

  /** Salt sub-keys per list are capped so the key packing below stays
    * within the 24 bits reserved for the salt — at maxProbesPerTask's
    * default that is ~137 G probes on ONE list before the per-task
    * bound can no longer be honored; if it ever fires, it fires loudly
    * (log.warn below) instead of silently over-packing tasks. */
  private val MaxSaltFactor = 1 << 24

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** List-keyed cogroup scan: for each probed list, stream its vectors
    * against the (qid, qvec) probe rows for that list with per-query
    * bounded heaps ([[listGroupTopK]]) — the probe rows travel as a
    * shuffled DataFrame, never as a driver-built broadcast probe map.
    * Emits ≤ k rows per (list, query).
    *
    * Skew guard: per-list probe counts (≤ nlist scalars) are collected
    * first; a list with more than [[maxProbesPerTask]] probes is SALTED
    * — its probes split across `ceil(count / maxProbesPerTask)` sub-keys
    * by qid hash, and its data rows are replicated once per sub-key, so
    * each task holds a bounded probe set and still scans the full list.
    * Results are identical by construction (every probe sees every row
    * of its list exactly once); the cost is re-reading hot lists once
    * per salt — paid only where the skew actually is. */
  private def scanListsCogroup(ivfData: DataFrame, metric: String,
      probes: org.apache.spark.sql.Dataset[(Int, Long, Array[Float])],
      listCounts: Map[Int, Long], k: Int): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    // per-list probe counts (caller-computed, ≤ nlist entries) drive
    // Parquet partition pruning AND the hot-list salt factors
    val maxProbes = maxProbesPerTask
    val salts: Map[Int, Int] = listCounts.map { case (l, c) =>
      val want = (c + maxProbes - 1) / maxProbes
      if (want > MaxSaltFactor)
        log.warn(s"scanListsCogroup: salt factor for list $l clamped " +
          s"$want -> $MaxSaltFactor; tasks for this list exceed the " +
          s"$maxProbes-probe bound")
      l -> math.min(MaxSaltFactor.toLong, want).toInt
    }
    val bSalts = spark.sparkContext.broadcast(salts)
    def key(l: Int, s: Int): Long = (l.toLong << 24) | s.toLong
    val dataG = ivfData
      .filter(col("list_no").isin(listCounts.keys.toSeq.sorted: _*))
      .select(col("list_no").cast("int"), col("id").cast("long"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        val salts = bSalts.value
        it.flatMap { case (l, id, vec) =>
          (0 until salts.getOrElse(l, 1)).iterator.map(si => (key(l, si), id, vec))
        }
      }
      .groupByKey(_._1)
    val probeG = probes.mapPartitions { it =>
      val salts = bSalts.value
      it.map { case (l, qid, vec) =>
        (key(l, math.floorMod(qid, salts.getOrElse(l, 1).toLong).toInt), qid, vec)
      }
    }.groupByKey(_._1)
    dataG.cogroup(probeG) { (_, dataIt, probeIt) =>
      BoundedSearch.listGroupTopK(metric, k, dataIt, probeIt)
    }.toDF("qid", "id", "dist")
  }

  /** The list-group kernel of both distributed scan routes
    * ([[scanListsCogroup]], [[scanListsJoin]]): one (list, salt) group's
    * probes (qid, query vector) become the slots of [[IVFSearch.slotTopK]]
    * over ONE streamed pass of the list's rows; ≤ k (qid, id, dist) rows
    * out per probe. */
  private def listGroupTopK[K](metric: String, k: Int,
      dataIt: Iterator[(K, Long, Array[Float])],
      probeIt: Iterator[(K, Long, Array[Float])]): Iterator[(Long, Long, Double)] = {
    val ps = probeIt.toArray
    IVFSearch.allSlotsTopK[Array[Float]](dataIt.map(r => (r._2, r._3)),
      ps.length, k,
      () => (slot, _, vec) => Kernels.distance(metric, ps(slot)._3, vec))
      .map { case (slot, id, d) => (ps(slot)._2, id, d) }
  }

  /** If `df`'s data will come out of its source already hash-partitioned
    * on exactly `list_no` — a `bucketBy(list_no)` table scan, or a
    * memory-resident relation cached under a `repartition(n, list_no)`
    * distribution (the serving deployment: index shards held hot in
    * executor memory) — the partition count: the signal that
    * [[scanListsJoin]]'s data side needs no Exchange. A wrong answer
    * here cannot corrupt results — Catalyst's EnsureRequirements
    * re-inserts the Exchange if the distribution is not actually
    * satisfied; this only selects join vs cogroup. */
  private[graft] def listNoBuckets(df: DataFrame): Option[Int] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.bucketSpec
              .filter(_.bucketColumnNames
                .map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("list_no"))
              .map(_.numBuckets)
          case _ => None
        }
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cachedPlan.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
              if h.expressions.length == 1 && h.expressions.head.collectFirst {
                case a: org.apache.spark.sql.catalyst.expressions.Attribute
                    if a.name.toLowerCase(java.util.Locale.ROOT) == "list_no" => a
              }.isDefined =>
            Some(h.numPartitions)
          case _ => None
        }
    }.flatten.headOption

  /** Bucket-local twin of [[scanListsCogroup]] for list_no-bucketed
    * tables: probed lists are BUCKET-PRUNED out of the scan, and the
    * cogroup on the `list_no` COLUMN ([[RelationalGroupedDataset.as]]
    * keys by the real attribute, not a lambda-synthesized key) reuses
    * the scan's bucket partitioning — `HashPartitioning(list_no)`
    * satisfies the cogroup's ClusteredDistribution, so the probe side
    * (the small one) is the only Exchange, and both layouts' existing
    * sort-by-list_no satisfies the required ordering without a
    * per-round sort. Inside each list group runs the salted cogroup's
    * kernel, [[listGroupTopK]], emitting ≤ k rows per (list, query).
    *
    * History: the first version of this path was a sort-merge JOIN on
    * `list_no` feeding a codegen'd distance column into a per-partition
    * (qid → heap) map. It removed the same Exchange but paid ~3× the
    * cogroup's wall-clock at 10M/200k (r9 A/B,
    * `tools/evidence/r9_scale_ab_10m.log`): per-PAIR join plumbing —
    * SMJ iteration, projection, typed deserialization, per-pair hash
    * lookups over ~25 B pairs — against the cogroup kernel's per-ROW
    * deserialization and tight probes loop. This rewrite keeps the
    * Exchange-free plan and the fused kernel's per-pair cost.
    * Correctness does not ride on the partitioning being recognized:
    * EnsureRequirements re-adds the Exchange if the distribution is
    * not actually satisfied (plan-asserted by BoundedBucketSpec).
    *
    * Measured crossover (constant list size n/nlist = 9766, resident
    * arms; r10 POST-fix numbers — the r9 sweep's 10M-crossover reading
    * was distorted by the serialized control-build stage both arms
    * carried, see the `searchDistributed` repartition comment): the
    * salted cogroup wins up to and including the 20M point (fused
    * 1.29× slower there), the fused arm wins from the 40M point (0.73×,
    * 45% fewer shuffle bytes) — `tools/evidence/
    * r10_scale_ab_{20m100k,40m100k}.log`. The router ENFORCES that
    * crossover per round (`scanRound`'s
    * [[graft.GraftConf.fusedMinProbedRows]] guard): a bucketed/resident
    * layout is necessary but not sufficient — rounds whose estimated
    * scan volume sits below the crossover still take the salted
    * cogroup, so bucketing a small index costs nothing. Pre-bucket /
    * resident-distribute at serving scale; on a real cluster the
    * elided Exchange is network, which argues for lowering the
    * threshold there. */
  private[graft] def scanListsJoin(ivfData: DataFrame, metric: String,
      probes: org.apache.spark.sql.Dataset[(Int, Long, Array[Float])],
      probedLists: Seq[Int], k: Int): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val data = ivfData
      .filter(col("list_no").isin(probedLists: _*))
      .select(col("list_no").cast("int").as("list_no"),
        col("id").cast("long").as("id"), col("vec"))
    // CoGroup requires bit-identical key SCHEMAS (name, type,
    // nullability) on both sides. The data side's key must stay a bare
    // alias of the scanned column — wrapping it would break the
    // alias-aware partitioning propagation this whole path exists for —
    // so the probe side's key (tuple-encoded, non-nullable) adapts to
    // whatever nullability the data layout reports. list_no is never
    // actually null (it is an assigned cluster id), so both wrappers
    // are semantic no-ops.
    val probeKey =
      if (data.schema("list_no").nullable)
        // identity for non-null input, but analyzed as nullable
        // (when(lit(true), c) is folded back to non-nullable c by the
        // Spark 4 analyzer; the isNotNull guard is not)
        when(col("list_no").isNotNull, col("list_no"))
      else org.apache.spark.sql.graft.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("list_no"))))
    val dataG = data
      .groupBy(col("list_no"))
      .as[Int, (Int, Long, Array[Float])]
    val probeG = probes.toDF("list_no", "qid", "qvec")
      .select(probeKey.as("list_no"), col("qid"), col("qvec"))
      .groupBy(col("list_no"))
      .as[Int, (Int, Long, Array[Float])]
    dataG.cogroup(probeG) { (_, dataIt, probeIt) =>
      BoundedSearch.listGroupTopK(metric, k, dataIt, probeIt)
    }.toDF("qid", "id", "dist")
  }

  /** The per-stage termination decision (`IndexIVF.cpp:504-637`) of
    * the driver-decided rounds: holds the O(nq) control state and each
    * query's cumulative top-k, and advances them through [[decideStep]],
    * the transition the distributed path runs on executors. */
  private final class Decider(nq: Int, k: Int, metric: String,
      traces: Array[Trace], dBs: Array[Array[Float]], requires: Array[Float],
      multiplier: Float, stdM: Float, levels: Int) {
    val myNprobe = new Array[Int](nq)
    val stoped = new Array[Int](nq)
    val preVal = Array.fill(nq)(Double.NaN)
    val predicted = new Array[Float](nq)
    val decidedStage = new Array[Int](nq)
    /** Cumulative top-k per query, ascending by (dist, id). It stops
      * growing once the query leaves the active set — exactly the
      * `topIds`/`topDists` a [[CtrlD]] row carries for it on the
      * distributed path. */
    val topIds: Array[Array[Long]] = Array.fill(nq)(Array.emptyLongArray)
    val topDists: Array[Array[Double]] = Array.fill(nq)(Array.emptyDoubleArray)

    /** One stage step for query qi at stage 2^j: [[mergeKeep]] the
      * stage's new (id, dist) scan rows into its top-k, then
      * [[stageStep]] — the step the distributed path runs. A no-op once
      * the query has decided. */
    def advance(qi: Int, j: Int, candIds: Array[Long],
                candDists: Array[Double]): Unit =
      if (myNprobe(qi) == 0) {
        val (ids, dists) = mergeKeep(topIds(qi), topDists(qi), candIds,
          candDists, k)
        topIds(qi) = ids
        topDists(qi) = dists
        val next = BoundedSearch.stageStep(
          Ctrl(0L, requires(qi), myNprobe(qi), stoped(qi), preVal(qi),
            predicted(qi), decidedStage(qi)),
          dists, dBs(qi), traces(j), j, levels, k, multiplier, stdM, metric)
        myNprobe(qi) = next.myNprobe
        stoped(qi) = next.stoped
        preVal(qi) = next.preVal
        predicted(qi) = next.predicted
        decidedStage(qi) = next.decidedStage
      }
  }

  /** The one top-k merge of the staged rounds, shared by the [[Decider]]
    * and the distributed cogroup: the k smallest of the union of a
    * query's kept (ids, dists) and a stage's candidates, ascending under
    * the total order (dist, id) — `java.lang.Double.compare` on the
    * distance (so −0.0 sorts before 0.0), then the id. Neither side
    * needs to be sorted; equal (dist, id) pairs keep their input order,
    * the left side first. */
  private[graft] def mergeKeep(ids: Array[Long], dists: Array[Double],
      candIds: Array[Long], candDists: Array[Double],
      k: Int): (Array[Long], Array[Double]) = {
    val n = ids.length + candIds.length
    val allIds = new Array[Long](n)
    val allDists = new Array[Double](n)
    System.arraycopy(ids, 0, allIds, 0, ids.length)
    System.arraycopy(candIds, 0, allIds, ids.length, candIds.length)
    System.arraycopy(dists, 0, allDists, 0, dists.length)
    System.arraycopy(candDists, 0, allDists, dists.length, candDists.length)
    val order = Array.range(0, n).sortWith { (a, b) =>
      val c = java.lang.Double.compare(allDists(a), allDists(b))
      c < 0 || (c == 0 && allIds(a) < allIds(b))
    }
    val keep = math.min(k, n)
    (Array.tabulate(keep)(x => allIds(order(x))),
      Array.tabulate(keep)(x => allDists(order(x))))
  }

  /** One active query's stage step on its cumulative top-k distances
    * (ascending): [[predictedRecall]], then [[decideStep]]. An empty top-k
    * is evaluated only at the cap stage (j = levels − 1), where it decides
    * with predicted recall 0, so a query whose staged lists are all empty
    * still gets its finishing probes; before the cap it waits. Shared by
    * the [[Decider]] and the distributed cogroup. */
  private def stageStep(st: Ctrl, dists: Array[Double],
      dB: Array[Float], trace: Trace, j: Int, levels: Int, k: Int,
      multiplier: Float, stdM: Float, metric: String): Ctrl =
    if (dists.isEmpty && j < levels - 1) st
    else decideStep(st, j, levels, k, multiplier,
      predictedRecall(dists, dB, trace, j, k, stdM, metric), dists.length,
      if (dists.isEmpty) Double.NaN else dists(dists.length - 1))

  /** Pure per-query recall prediction — the executor-side piece of the
    * decision (the `IndexIVF.cpp:504-637` tune block minus the
    * stagnation rule, which needs cross-round driver state): arccos
    * for the IP/angle metric, then curNum/k from the trace. */
  def predictedRecall(dRaw: Array[Double], dB: Array[Float],
                      trace: Trace, j: Int, k: Int, stdM: Float,
                      metric: String): Float = {
    val dists =
      if (metric == "ip") dRaw.map(d => ErrorProfile.arcos((-d).toFloat))
      else dRaw.map(_.toFloat)
    if (dists.length < k) 0f
    else ErrorProfile.curNum(dists, dB, trace, j, k, stdM).toFloat / k
  }

  /** Driver-decided rounds for every driver-collectable batch
    * ([[FlatSearch.collectable]]): round j scans centroid ranks
    * (2^(j−1), 2^j] for still-active queries only, and the per-query
    * decision state lives in the [[Decider]]'s O(nq) driver arrays. Each
    * round is exactly ONE Spark action: the probed-list partial scan
    * merged to per-query round top-k (bounded collect of ≤ active × k
    * rows); the [[Decider.advance]] stage step runs on the driver. The
    * decided top-ks then become state rows, the finishing pass probes on
    * from each query's decision stage to stage × multiplier, and the
    * stats come straight out of the [[Decider]]. Decisions are
    * bit-identical to the distributed path by construction: same
    * rankings, same boundary windows, same [[mergeKeep]] and
    * [[stageStep]] on the same cumulative top-k — pinned by
    * BoundedSearchSpec's cross-path equivalence tests.
    * @param qRows (qid, vec, required_recall), collected */
  private def searchStagedDriver(ivfData: DataFrame, model: IVFModel,
      traces: Array[Trace], qRows: Array[(Long, Array[Float], Float)],
      k: Int, multiplier: Float, stdM: Float): Result = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val nlist = model.nlist
    val levels = traces.length
    val qVecs = qRows.sortBy(_._1).map { case (qid, v, r) =>
      (qid, if (model.metric == "ip") Kernels.l2Normalize(v) else v, r)
    }
    val qv = qVecs.map(v => (v._1, v._2))
    // rank only as deep as the ROUNDS need (decision cap nlist/8 plus
    // the boundary geometry's nlist/8 + 20 window). The finishing pass
    // can probe out to stage × multiplier — but only for the few
    // queries that cap out, so those re-rank deeper individually
    // (finishingProbeMap) instead of paying nq × full-depth rankings up
    // front (at 100k queries × nlist=1024 the full-depth form shipped
    // >1 GiB of rankings to the driver; the shallow form is ~4×
    // smaller and the deep re-rank touches only the capped tail)
    val shallowDepth = math.min(nlist, nlist / 8 + 20)
    val ranks = IVFSearch.rankTop(spark, model, qv, shallowDepth)
    val dBs = ranks.map { r =>
      ErrorProfile.boundaryDistances(r.map(_._2), r.map(_._1), model.interdisAt, nlist)
    }
    val decider = new Decider(qVecs.length, k, model.metric, traces, dBs,
      qVecs.map(_._3), multiplier, stdM, levels)
    val qScan = qv.map(_._2)
    var active: Seq[Int] = qVecs.indices
    var j = 0
    while (j < levels && active.nonEmpty) {
      val lo = if (j == 0) 0 else 1 << (j - 1)
      val hi = 1 << j
      val probeMap = IVFSearch.byList(active.flatMap { qi =>
        ranks(qi).slice(lo, hi).map { case (l, _) => (l, qi) }
      })
      // merge partials to per-query top-k INSIDE the job so the collect
      // is ≤ active × k rows whatever the round's fan-out; rows stay
      // keyed by query index (the scan's slot)
      val roundTopK = FlatSearch.mergeTopK(
        IVFSearch.scanVectors(ivfData, model.metric, qScan, probeMap, k)
          .toDF("qid", "id", "dist"), k)
        .select(col("qid"), col("id"), col("dist"))
        .as[(Int, Long, Double)].collect()
      val byQi = roundTopK.groupBy(_._1)
      active.foreach { qi =>
        val rows = byQi.getOrElse(qi, Array.empty[(Int, Long, Double)])
        decider.advance(qi, j, rows.map(_._2), rows.map(_._3))
      }
      active = active.filter(decider.myNprobe(_) == 0)
      j += 1
    }

    var state = qv.indices.flatMap { qi =>
      decider.topIds(qi).indices.map { x =>
        (qv(qi)._1, decider.topIds(qi)(x), decider.topDists(qi)(x))
      }
    }.toDF("qid", "id", "dist")
    val extraMap = finishingProbeMap(spark, model, qv, ranks, shallowDepth,
      qi => (decider.decidedStage(qi), math.min(decider.myNprobe(qi), nlist)))
    if (extraMap.nonEmpty)
      state = state.unionByName(IVFSearch.keyByQid(IVFSearch.scanVectors(
        ivfData, model.metric, qScan, extraMap, k), qv.map(_._1)))
    val stats = qv.indices.map { qi =>
      QueryStats(qv(qi)._1, math.min(decider.myNprobe(qi), nlist),
        decider.predicted(qi), decider.decidedStage(qi))
    }
    Result(FlatSearch.mergeTopK(state, k), stats)
  }

  /** Build the finishing-pass probe map from SHALLOW rankings: queries
    * whose probe target exceeds the shallow depth (the capped tail —
    * rare when the profile stops most queries early) re-rank deeper in
    * one small second pass, so the up-front coarse ranking never ships
    * nq × multiplier-depth rankings to the driver.
    * @param bounds qi → (decidedStage, probe target) */
  private def finishingProbeMap(spark: SparkSession, model: IVFModel,
      qVecs: Array[(Long, Array[Float])], ranks: Array[Array[(Int, Float)]],
      shallowDepth: Int, bounds: Int => (Int, Int)): Map[Int, Array[Int]] = {
    val nq = qVecs.length
    val deepIdx = (0 until nq).filter(qi => bounds(qi)._2 > shallowDepth)
    val deepRanks: Map[Int, Array[(Int, Float)]] =
      if (deepIdx.isEmpty) Map.empty
      else {
        val maxDeep = deepIdx.map(qi => bounds(qi)._2).max
        // rankTop aligns its result with input order, so the zip
        // aligns for any qid layout
        val dr = IVFSearch.rankTop(spark, model,
          deepIdx.map(qi => qVecs(qi)).toArray, maxDeep)
        deepIdx.zip(dr).toMap
      }
    IVFSearch.byList((0 until nq).flatMap { qi =>
      val (from, upto) = bounds(qi)
      if (upto > from)
        deepRanks.getOrElse(qi, ranks(qi)).slice(from, upto)
          .map { case (l, _) => (l, qi) }
      else Nil
    })
  }

  /** Latency-bounded mode (`Auncel/IndexIVF.cpp:545-549`,
    * `profile.cpp:229-244`): the wall-clock budget becomes a
    * deterministic per-query probe budget via a calibrated per-list cost
    * — reproducible, unlike in-executor clock checks — and the batch runs
    * as one per-query-nprobe search ([[IVFSearch.searchNprobes]]). */
  def timeSearch(ivfData: DataFrame, model: IVFModel, queries: DataFrame,
                 k: Int, costPerProbeMs: Double): Result = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col("qid").cast("long"), col("vec"), col("budget_ms").cast("double"))
      .as[(Long, Array[Float], Double)].collect().sortBy(_._1)
    val budgets = qRows.map { case (_, _, b) =>
      math.max(1, math.min(model.nlist,
        (b * 0.95 / costPerProbeMs).toInt))
    }
    val results = IVFSearch.searchNprobes(ivfData, model,
      qRows.map { case (qid, v, _) => (qid, v) }, k, budgets)
    val stats = qRows.indices.map { qi =>
      QueryStats(qRows(qi)._1, budgets(qi), -1f, budgets(qi))
    }
    Result(results, stats)
  }
}
