package graft.search

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.index.IVFModel
import graft.operators.TopK

/** Fixed-nprobe IVF top-k search — the Spark form of
  * `IndexIVF::search_preassigned` (`Auncel/IndexIVF.cpp:382-760`) without
  * the adaptive termination (that lives in [[BoundedSearch]]).
  *
  * Plan shape (scale-first):
  *  1. coarse quantization per query against the broadcast centroid
  *     matrix (nlist is small — `Auncel/eval/bound.cpp:220` uses 1024);
  *  2. the union of probed lists becomes `list_no IN (...)` → Parquet
  *     partition pruning, so only nprobe/nlist of the bytes are read;
  *  3. per-partition bounded top-k heaps per probing query (map-side
  *     combine), shuffling only `#parts × nq × k` rows;
  *  4. global merge = window rank (≡ `dist/reduce.cpp:98-119`).
  *
  * That DataFrame plan serves the one-shot searches ([[search]],
  * [[searchNprobes]]) and the code-index scans ([[probedTopK]]). The
  * repeated float scans of one table — the bounded search's driver rounds
  * and the profile capture — go through [[scanVectors]] instead, which
  * reads the table's resident lists from memory
  * ([[graft.index.IndexCache.residentLists]]) when they fit in storage
  * memory, and scores them list-major, four rows per kernel call.
  */
object IVFSearch {

  /** Coarse quantization for a (collected, metric-normalized) query
    * batch, returning only the top `top` ranked centroids per query,
    * ALIGNED WITH INPUT ORDER (`result(i)` ranks `q(i)` — every caller
    * indexes positionally, so both branches key on input position, not
    * qid; qids may be unsorted or sparse). Small batches rank on the
    * driver; past ~1M query×centroid distance computations the ranking
    * fans out to executors so the driver never does O(nq·nlist·d)
    * float work — the coarse step scales in the query dimension like
    * everything else. */
  def rankTop(spark: org.apache.spark.sql.SparkSession,
              model: IVFModel, q: Array[(Long, Array[Float])],
              top: Int): Array[Array[(Int, Float)]] = {
    val t = math.min(top, model.nlist)
    if (q.length.toLong * model.nlist < (1L << 20))
      q.map { case (_, v) => model.rankCentroids(v).take(t) }
    else {
      val bm = spark.sparkContext.broadcast(model)
      val slices = math.max(1, math.min(q.length, 256))
      spark.sparkContext.parallelize(q.toSeq.zipWithIndex, slices)
        .map { case ((_, v), i) => (i, bm.value.rankCentroids(v).take(t)) }
        .collect().sortBy(_._1).map(_._2)
    }
  }

  /** Per-pair scorer of [[slotTopK]]: (probe slot, list_no, payload) →
    * distance, NaN REJECTS the row. A dedicated single-method trait rather
    * than `Function3`, which Scala 2.13 does not specialize: the slot and
    * list number go in and the distance comes out unboxed on every scored
    * pair. */
  trait PairScore[-R] { def apply(slot: Int, listNo: Int, payload: R): Double }

  /** (list_no, id, vec) rows of a raw-vector IVF table. */
  private def vectorRows(df: DataFrame): Dataset[(Int, Long, Array[Float])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("list_no").cast("int"), col("id").cast("long"), col("vec"))
      .as[(Int, Long, Array[Float])]
  }

  /** @param ivfData (id LONG, vec ARRAY<FLOAT>, list_no INT) — ideally
    *                read from a `partitionBy("list_no")` Parquet table
    * @param queries (qid LONG, vec ARRAY<FLOAT>)
    * @return (qid, id, dist, rank)
    */
  def search(ivfData: DataFrame, model: IVFModel, queries: DataFrame,
             k: Int, nprobe: Int): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val q: Array[(Long, Array[Float])] = queries
      .select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    searchNprobes(ivfData, model, q, k, Array.fill(q.length)(nprobe))
  }

  /** Fixed-plan float IVF search in which query `q(i)` probes its own
    * `nprobes(i)` nearest lists — LAET's learned budgets,
    * [[BoundedSearch.timeSearch]]'s latency budgets; a uniform nprobe is
    * [[search]].
    * @param q (qid, vec) sorted by qid */
  def searchNprobes(ivfData: DataFrame, model: IVFModel,
                    q: Array[(Long, Array[Float])], k: Int,
                    nprobes: Array[Int]): DataFrame = {
    // the scan distance uses the SAME normalized vector the ranking
    // does for ip (scores are -dot of unit vectors there)
    val qScan = if (model.metric == "ip") q.map(v => Kernels.l2Normalize(v._2))
      else q.map(_._2)
    val bq = ivfData.sparkSession.sparkContext.broadcast(qScan)
    probedTopK[Array[Float]](ivfData, vectorRows, model, q, k, nprobes,
      vectorScore(model.metric, bq, 1))
  }

  /** Probed-list top-k search for every IVF payload — raw vectors
    * ([[searchNprobes]]) and the code-based indexes (binary Hamming,
    * spectral hash, IVFPQ ADC): metric-correct coarse ranking (rankTop
    * fan-out), query `q(i)` probing its `nprobes(i)` nearest lists
    * through [[scanProbed]] (slot = query index), global top-k merge.
    * @param q (qid, vec) — `mkScore` scores slot i against `q(i)` */
  def probedTopK[R](encoded: DataFrame,
                    toRows: DataFrame => Dataset[(Int, Long, R)],
                    model: IVFModel, q: Array[(Long, Array[Float])],
                    k: Int, nprobes: Array[Int],
                    mkScore: () => PairScore[R]): DataFrame = {
    val spark = encoded.sparkSession
    val np = nprobes.map(math.min(_, model.nlist))
    val qRank = q.map { case (qid, v) =>
      (qid, if (model.metric == "ip") Kernels.l2Normalize(v) else v)
    }
    val ranks = rankTop(spark, model, qRank, np.foldLeft(0)(math.max))
    val probeMap = byList(q.indices.flatMap { qi =>
      ranks(qi).iterator.take(np(qi)).map { case (l, _) => (l, qi) }
    })
    FlatSearch.mergeTopK(
      keyByQid(scanProbed(encoded, toRows, probeMap, k, mkScore), q.map(_._1)), k)
  }

  /** The probed-list scan kernel — the list loop of
    * `IndexIVF::search_preassigned` (`Auncel/IndexIVF.cpp:382-760`) as
    * ONE partition-pruned pass: only the probed lists are read
    * (`list_no IN (...)` → Parquet partition pruning), and each partition
    * runs [[slotTopK]] over them (map-side combine: ≤ k rows per slot per
    * partition leave the task). A slot is whatever the caller keys a heap
    * by: the query index for plain scans, one (query, first-probed stage)
    * pair for the error-profile capture
    * ([[graft.profile.ProfileTrainer]]). A NaN score rejects
    * the row (the polysemous Hamming filter inside the IVFPQ scan),
    * matching the reference's filtered list scan.
    * @param probeMap list_no → the slots probing that list
    * @return (slot, id, dist) partial rows, not yet merged across
    *         partitions */
  private def scanProbed[R](encoded: DataFrame,
      toRows: DataFrame => Dataset[(Int, Long, R)],
      probeMap: Map[Int, Array[Int]], k: Int,
      mkScore: () => PairScore[R]): Dataset[(Int, Long, Double)] = {
    val spark = encoded.sparkSession
    import spark.implicits._
    if (probeMap.isEmpty) return spark.emptyDataset[(Int, Long, Double)]
    val bp = spark.sparkContext.broadcast(probeMap)
    val nSlots = probeMap.valuesIterator.map(_.max).max + 1
    toRows(encoded.filter(col("list_no").isin(probeMap.keys.toSeq.sorted: _*)))
      .mapPartitions(it => slotTopK(it, bp.value, nSlots, k, mkScore))
  }

  /** The row-at-a-time top-k scan loop of every flat, Parquet probed-list
    * and list-group scan (`scan_one_list`, `Auncel/IndexIVF.cpp:439-475`;
    * flat `knn_L2sqr`, `utils.cpp:417-492`); a resident store is scored by
    * [[residentTopK]] instead. Each (list_no, id, payload)
    * row is scored against every slot probing its list; slot s keeps one
    * bounded [[TopK]], `heaps(s)`, allocated on first use. `mkScore` runs
    * once per call (per partition or list group): a scorer reads its
    * broadcasts once and may cache per-(slot, list) state, or per-row
    * state keyed by payload identity — a row meets all its slots before
    * the next row arrives. A NaN score rejects the row.
    * @param slotsOf list_no → the slots probing that list
    * @return ≤ k (slot, id, dist) rows per slot, slots 0 until nSlots */
  private[graft] def slotTopK[R](rows: Iterator[(Int, Long, R)],
      slotsOf: Map[Int, Array[Int]], nSlots: Int, k: Int,
      mkScore: () => PairScore[R]): Iterator[(Int, Long, Double)] = {
    if (nSlots == 0) return Iterator.empty
    val score = mkScore()
    val heaps = new Array[TopK](nSlots)
    var slots: Array[Int] = null
    var slotsList = 0
    while (rows.hasNext) {
      val row = rows.next()
      val listNo = row._1
      val id = row._2
      val payload = row._3
      // rows arrive grouped by list: one map lookup per run of a list
      if (slots == null || listNo != slotsList) {
        slots = slotsOf.getOrElse(listNo, Array.emptyIntArray)
        slotsList = listNo
      }
      var i = 0
      while (i < slots.length) {
        val slot = slots(i)
        val s = score(slot, listNo, payload)
        if (!java.lang.Double.isNaN(s)) {
          if (heaps(slot) == null) heaps(slot) = new TopK(k)
          heaps(slot).add(s, id)
        }
        i += 1
      }
    }
    heapRows(heaps)
  }

  /** The (slot, id, dist) rows of every non-null heap, ascending per slot. */
  private def heapRows(heaps: Array[TopK]): Iterator[(Int, Long, Double)] =
    Iterator.range(0, heaps.length).filter(heaps(_) != null).flatMap { slot =>
      heaps(slot).sorted.iterator.map { case (d, id) => (slot, id, d) }
    }

  /** [[slotTopK]]'s one-list case, the flat scan: every (id, payload) row
    * is scored against every one of `nSlots` slots. */
  private[graft] def allSlotsTopK[R](rows: Iterator[(Long, R)], nSlots: Int,
      k: Int, mkScore: () => PairScore[R]): Iterator[(Int, Long, Double)] =
    slotTopK[R](rows.map { case (id, p) => (0, id, p) },
      Map(0 -> Array.range(0, nSlots)), nSlots, k, mkScore)

  /** The float probed-list scan behind every driver-decided bounded-search
    * round, its finishing pass and the error-profile capture
    * ([[graft.profile.ProfileTrainer]]). When the table has RESIDENT lists
    * ([[graft.index.IndexCache.residentLists]]) it reads them through a
    * `PartitionPruningRDD`, so tasks run only for the store partitions
    * that hold a probed list and no Parquet is planned or decoded, and
    * scores them list-major ([[residentTopK]]); else it scans the table's
    * rows ([[scanProbed]]'s `list_no IN (…)` pass through [[slotTopK]]).
    * Both keep the same k smallest (dist, id) per slot. Slot s scores
    * `qVecs(s / slotsPerQuery)` (metric-normalized vectors), broadcast
    * once by the caller.
    * @param probeMap list_no → the slots probing that list
    * @return (slot, id, dist) partial rows, ≤ k per slot per partition */
  private[graft] def scanVectors(ivfData: DataFrame,
      lists: Option[graft.index.IndexCache.ResidentLists], metric: String,
      qVecs: Broadcast[Array[Array[Float]]], probeMap: Map[Int, Array[Int]],
      k: Int, slotsPerQuery: Int = 1): RDD[(Int, Long, Double)] = {
    val ip = Kernels.isIp(metric)
    lists match {
      case None => scanProbed[Array[Float]](ivfData, vectorRows, probeMap, k,
        vectorScore(metric, qVecs, slotsPerQuery)).rdd
      case Some(store) =>
        val sc = store.sparkContext
        if (probeMap.isEmpty) return sc.emptyRDD[(Int, Long, Double)]
        val part = store.partitioner.get
        val probed = probeMap.keySet.map(part.getPartition)
        val bp = sc.broadcast(probeMap)
        val nSlots = probeMap.valuesIterator.map(_.max).max + 1
        PartitionPruningRDD.create(store, probed.contains).mapPartitions { it =>
          residentTopK(it, bp.value, qVecs.value, slotsPerQuery, ip, nSlots, k)
        }
    }
  }

  /** The resident arm of [[scanVectors]], `scan_one_list`
    * (`Auncel/IndexIVF.cpp:439-475`) per probing slot: each probed list is
    * scored against one slot at a time, four rows per
    * [[Kernels.distances4]] call, and the distances feed the slot's
    * bounded [[TopK]] straight from the list's own arrays, with no
    * per-row tuple or per-pair closure. A NaN distance rejects the row, as
    * in [[slotTopK]]; the heaps keep the same k smallest (dist, id) in any
    * scoring order, so both arms agree row for row.
    * @param lists (list_no, (ids, vectors)) elements of one store partition
    * @return ≤ k (slot, id, dist) rows per slot */
  private def residentTopK(
      lists: Iterator[(Int, (Array[Long], Array[Array[Float]]))],
      slotsOf: Map[Int, Array[Int]], qs: Array[Array[Float]],
      slotsPerQuery: Int, ip: Boolean, nSlots: Int,
      k: Int): Iterator[(Int, Long, Double)] = {
    val heaps = new Array[TopK](nSlots)
    var dists = Array.emptyDoubleArray
    lists.foreach { case (l, (ids, vecs)) =>
      val slots = slotsOf.getOrElse(l, Array.emptyIntArray)
      if (dists.length < ids.length) dists = new Array[Double](ids.length)
      var i = 0
      while (i < slots.length) {
        val slot = slots(i)
        Kernels.distances(ip, qs(slot / slotsPerQuery), vecs, dists)
        var h = heaps(slot)
        var r = 0
        while (r < ids.length) {
          val s = dists(r)
          if (!java.lang.Double.isNaN(s)) {
            if (h == null) { h = new TopK(k); heaps(slot) = h }
            h.add(s, ids(r))
          }
          r += 1
        }
        i += 1
      }
    }
    heapRows(heaps)
  }

  private def vectorScore(metric: String, qVecs: Broadcast[Array[Array[Float]]],
      slotsPerQuery: Int): () => PairScore[Array[Float]] =
    () => {
      val qs = qVecs.value
      (slot, _, vec) => Kernels.distance(metric, qs(slot / slotsPerQuery), vec)
    }

  /** Re-key a plain scan's partial rows (slot = index into `qids`) as
    * (qid, id, dist). */
  private[graft] def keyByQid(partials: Dataset[(Int, Long, Double)],
                              qids: Array[Long]): DataFrame = {
    val spark = partials.sparkSession
    import spark.implicits._
    val bqids = spark.sparkContext.broadcast(qids)
    partials.mapPartitions { it =>
      val ids = bqids.value
      it.map { case (qi, id, d) => (ids(qi), id, d) }
    }.toDF("qid", "id", "dist")
  }

  /** list_no → the slots probing it, from (list_no, slot) pairs. */
  private[graft] def byList(pairs: Seq[(Int, Int)]): Map[Int, Array[Int]] =
    pairs.groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2).toArray) }

  /** IVF range search (`IndexIVF::range_search` semantics over probed
    * lists): all ids within `radius` among the nprobe nearest lists —
    * same partition-pruned scan, no heap (variable-size result). */
  def range(ivfData: DataFrame, model: IVFModel, queries: DataFrame,
            radius: Double, nprobe: Int): DataFrame = {
    val spark = ivfData.sparkSession
    import spark.implicits._
    val q: Array[(Long, Array[Float])] = queries
      .select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val np = math.min(nprobe, model.nlist)
    val qNorm = if (model.metric == "ip")
      q.map { case (qid, v) => (qid, Kernels.l2Normalize(v)) } else q
    val rks = rankTop(spark, model, qNorm, np)
    val probesByList: Map[Int, Array[(Long, Array[Float])]] = qNorm.indices
      .flatMap { i =>
        rks(i).map { case (l, _) => (l, qNorm(i)) }
      }.groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2).toArray) }
    val bq = spark.sparkContext.broadcast(probesByList)
    val m = model.metric
    ivfData
      .filter(col("list_no").isin(probesByList.keys.toSeq.sorted: _*))
      .select(col("list_no").cast("int"), col("id").cast("long"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .mapPartitions { it =>
        val pm = bq.value
        it.flatMap { case (listNo, id, vec) =>
          pm.get(listNo) match {
            case Some(qs) => qs.iterator.flatMap { case (qid, qv) =>
              val d = Kernels.distance(m, qv, vec)
              if (d < radius) Some((qid, id, d)) else None
            }
            case None => Iterator.empty
          }
        }
      }.toDF("qid", "id", "dist")
  }
}
