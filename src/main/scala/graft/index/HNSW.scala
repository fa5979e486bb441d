package graft.index

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.functions.Kernels
import graft.search.FlatSearch

/** HNSW, re-shaped for Spark (`Auncel/HNSW.cpp:409-747`,
  * `IndexHNSW.cpp` — the reference's graph index).
  *
  * The pointer-chasing build is inherently sequential, so the
  * Spark-native form is **partitioned HNSW**: rows are bucketed into
  * `nParts` deterministic blocks (`id % nParts`), each block builds a
  * local graph ONCE ([[buildGraph]]) whose adjacency is a persistable
  * DataFrame (write with [[writeGraph]], partitioned by block →
  * partition-pruned loads); [[searchGraph]] loads the adjacency and
  * beam-searches every query per block, and the global answer is the
  * usual partial-top-k merge. Build-once / search-many — the same
  * contract as the reference (`IndexHNSW.cpp` builds at add time, and
  * `write_index` persists the graph) and as our IVF table.
  *
  * Loading a block's adjacency into memory for search is the
  * graph-in-RAM contract of HNSW itself; `nParts` bounds the per-task
  * footprint. Level assignment is derived from a hash of the id (not
  * an RNG stream), so graphs are deterministic regardless of row
  * order or session.
  *
  * The Spark layer is generic in the point type, like [[LocalGraph]]:
  * one block builder ([[buildBlocks]], keyed by id-mod or by coarse
  * cell) and one block search ([[searchBlocks]], every block or the
  * probed ones) serve the float graph here and the binary-code graph
  * of [[BinaryHNSW]], which only supplies its Hamming distance and
  * the `sig` point column.
  */
object HNSW {

  /** In-memory single-partition HNSW graph, generic in the point type:
    * `P = Array[Float]` with squared L2 is the float index
    * (`IndexHNSW.cpp`); `P = Array[Long]` with per-word popcount
    * Hamming is the binary index (`IndexBinaryHNSW.cpp` — see
    * [[BinaryHNSW]]). All graph logic (level assignment, beam search,
    * heuristic neighbor selection, chain backstop) is metric-agnostic. */
  final class LocalGraph[P](dist2: (P, P) => Double, m: Int = 16,
                            efConstruction: Int = 64) {
    private val mL = 1.0 / math.log(m.toDouble)
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val vecs = scala.collection.mutable.ArrayBuffer.empty[P]
    private val levels = scala.collection.mutable.ArrayBuffer.empty[Int]
    // neighbors(node)(level) -> array buffer of node indices
    private val neighbors =
      scala.collection.mutable.ArrayBuffer.empty[Array[scala.collection.mutable.ArrayBuffer[Int]]]
    private var entryPoint = -1
    private var maxLevel = -1

    private def levelOf(id: Long): Int = {
      // deterministic "uniform" from a mixed hash of the id
      val h = {
        var x = id * 0x9E3779B97F4A7C15L
        x ^= (x >>> 32); x *= 0xBF58476D1CE4E5B9L; x ^= (x >>> 29); x
      }
      val u = ((h >>> 11).toDouble / (1L << 53).toDouble) max 1e-12
      math.min(12, (-math.log(u) * mL).toInt)
    }

    private def dist(a: Int, q: P): Double = dist2(vecs(a), q)

    /** Greedy beam search at one level; returns up to ef closest nodes. */
    private def searchLayer(q: P, entry: Int, ef: Int,
                            level: Int): Array[Int] = {
      val visited = scala.collection.mutable.HashSet(entry)
      val cand = scala.collection.mutable.PriorityQueue((-dist(entry, q), entry))(
        Ordering.by(_._1)) // max-heap on -dist = closest first
      val result = scala.collection.mutable.PriorityQueue((dist(entry, q), entry))(
        Ordering.by(_._1)) // max-heap on dist = worst first
      while (cand.nonEmpty) {
        val (negD, c) = cand.dequeue()
        if (-negD > result.head._1 && result.size >= ef) {
          cand.clear() // closest candidate already worse than worst kept
        } else {
          val ns = neighbors(c)(math.min(level, levels(c)))
          var i = 0
          while (i < ns.length) {
            val n = ns(i)
            if (!visited.contains(n)) {
              visited += n
              val dn = dist(n, q)
              if (result.size < ef || dn < result.head._1) {
                cand.enqueue((-dn, n))
                result.enqueue((dn, n))
                if (result.size > ef) result.dequeue()
              }
            }
            i += 1
          }
        }
      }
      result.dequeueAll.toArray.map(_._2).reverse // closest first
    }

    /** Heuristic neighbor selection (HNSW paper alg. 4, the reference's
      * `shrink_neighbor_list`): keep a candidate only if it is closer
      * to the target than to any already-kept neighbor — preserves
      * diverse/long-range edges, without which clustered data
      * fragments into disconnected islands. */
    private def select(q: P, cands: Array[Int], max: Int): Array[Int] = {
      val sorted = cands.distinct.sortBy(c => (dist(c, q), ids(c)))
      val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < sorted.length && kept.length < max) {
        val c = sorted(i)
        val dq = dist(c, q)
        var diverse = true
        var j = 0
        while (j < kept.length && diverse) {
          if (dist2(vecs(c), vecs(kept(j))) < dq) diverse = false
          j += 1
        }
        if (diverse) kept += c
        i += 1
      }
      // backfill with closest pruned if under-full (keepPrunedConnections)
      if (kept.length < max) {
        var i2 = 0
        while (i2 < sorted.length && kept.length < max) {
          if (!kept.contains(sorted(i2))) kept += sorted(i2)
          i2 += 1
        }
      }
      kept.toArray
    }

    def insert(id: Long, vec: P): Unit = {
      val node = ids.length
      val lvl = levelOf(id)
      ids += id; vecs += vec; levels += lvl
      neighbors += Array.fill(lvl + 1)(scala.collection.mutable.ArrayBuffer.empty[Int])
      if (entryPoint < 0) { entryPoint = node; maxLevel = lvl; return }

      var ep = entryPoint
      // greedy descent through upper levels
      var l = maxLevel
      while (l > lvl) {
        var improved = true
        while (improved) {
          improved = false
          val ns = neighbors(ep)(math.min(l, levels(ep)))
          var i = 0
          while (i < ns.length) {
            if (dist(ns(i), vec) < dist(ep, vec)) { ep = ns(i); improved = true }
            i += 1
          }
        }
        l -= 1
      }
      // connect at each level from min(lvl, maxLevel) down to 0
      l = math.min(lvl, maxLevel)
      while (l >= 0) {
        val cands = searchLayer(vec, ep, efConstruction, l)
        val maxConn = if (l == 0) 2 * m else m
        val chosen = select(vec, cands, maxConn)
        neighbors(node)(l) ++= chosen
        chosen.foreach { c =>
          val cl = math.min(l, levels(c))
          val cn = neighbors(c)(cl)
          cn += node
          if (cn.length > maxConn) {
            val kept = select(vecs(c), cn.toArray, maxConn)
            // never prune the insert-order chain edges (c±1) at level 0 —
            // they carry the block-connectivity guarantee below
            val chain =
              if (cl == 0)
                cn.filter(n => (n == c - 1 || n == c + 1) && !kept.contains(n)).distinct
              else Nil
            cn.clear(); cn ++= kept ++ chain
          }
        }
        if (cands.nonEmpty) ep = cands(0)
        l -= 1
      }
      // insert-order chain backstop: a bidirectional (node-1 ↔ node) edge
      // at level 0 guarantees the block's level-0 graph stays connected
      // even when heuristic pruning would fragment clustered data into
      // islands — which exhaustive-beam exactness (v14) depends on.
      if (node > 0) {
        val n0 = neighbors(node)(0)
        if (!n0.contains(node - 1)) n0 += (node - 1)
        val p0 = neighbors(node - 1)(0)
        if (!p0.contains(node)) p0 += node
      }
      if (lvl > maxLevel) { maxLevel = lvl; entryPoint = node }
    }

    def search(q: P, k: Int, efSearch: Int): Array[(Double, Long)] = {
      if (entryPoint < 0) return Array.empty
      var ep = entryPoint
      var l = maxLevel
      while (l > 0) {
        var improved = true
        while (improved) {
          improved = false
          val ns = neighbors(ep)(math.min(l, levels(ep)))
          var i = 0
          while (i < ns.length) {
            if (dist(ns(i), q) < dist(ep, q)) { ep = ns(i); improved = true }
            i += 1
          }
        }
        l -= 1
      }
      searchLayer(q, ep, math.max(efSearch, k), 0)
        .map(n => (dist(n, q), ids(n)))
        .sortBy { case (d, id) => (d, id) }.take(k)
    }

    /** Level-0 out-adjacency (node → neighbor node indices) — lets the
      * spec assert the chain-backstop connectivity invariant. */
    def level0Adjacency: Array[Array[Int]] =
      neighbors.map(_(0).toArray).toArray

    /** Adjacency dump: (part, node, id, vec, level, nbrs-per-level). */
    private[index] def exportRows(part: Int)
        : Iterator[(Int, Int, Long, P, Int, Array[Array[Int]])] =
      ids.indices.iterator.map { n =>
        (part, n, ids(n), vecs(n), levels(n), neighbors(n).map(_.toArray))
      }

    private[index] def loadRow(id: Long, vec: P, level: Int,
                               nbrs: Array[Array[Int]]): Unit = {
      ids += id; vecs += vec; levels += level
      neighbors += nbrs.map(a => scala.collection.mutable.ArrayBuffer.from(a))
    }

    private[index] def finishLoad(): Unit = if (ids.nonEmpty) {
      // the builder's entry point is the FIRST node that reached the
      // final max level (entry only changes on a strict level increase),
      // and node order follows the deterministic insert order — so this
      // derivation reproduces it exactly
      maxLevel = levels.max
      entryPoint = levels.indexOf(maxLevel)
    }
  }

  object LocalGraph {
    /** Rebuild a graph from persisted adjacency rows (node-index
      * order) — any point type + distance. */
    def fromAdjacency[P](dist2: (P, P) => Double,
                         rows: Array[(Int, Long, P, Int, Array[Array[Int]])])
        : LocalGraph[P] = {
      val g = new LocalGraph[P](dist2)
      rows.foreach { case (_, id, vec, level, nbrs) => g.loadRow(id, vec, level, nbrs) }
      g.finishLoad()
      g
    }
  }

  /** Build per-block graphs ONCE → adjacency DataFrame
    * (part, node, id, vec, level, nbrs). Blocks are `id % nParts`
    * (deterministic, independent of input partitioning); each build
    * task materializes one block — size that with `nParts`. */
  def buildGraph(base: DataFrame, nParts: Int = 8, m: Int = 16,
                 efConstruction: Int = 64): DataFrame = {
    val p = nParts.toLong
    buildBlocks[Array[Float]](base, "vec", Kernels.l2Sqr, m, efConstruction)(
      (id, _) => java.lang.Math.floorMod(id, p).toInt)
  }

  /** Graph blocks assigned by a COARSE QUANTIZER instead of id-mod:
    * each block holds one k-means cell, so blocks are spatially
    * coherent and [[searchGraphProbed]] can route a query to its
    * nearest b blocks (the IVF coarse-ranking idea applied to graph
    * partitions) instead of paying every block a beam search. Build
    * the model with [[IVFIndex.train]] at nlist = nParts. */
  def buildGraphClustered(base: DataFrame, model: IVFModel, m: Int = 16,
                          efConstruction: Int = 64): DataFrame = {
    val bm = base.sparkSession.sparkContext.broadcast(model)
    buildBlocks[Array[Float]](base, "vec", Kernels.l2Sqr, m, efConstruction)(
      (_, v) => bm.value.assignListNo(v))
  }

  /** The one block builder, generic in the point type: (id, point) rows
    * are grouped by `blockOf`, each block inserts its rows in id order
    * into one [[LocalGraph]] and dumps its adjacency as
    * (part, node, id, `pointCol`, level, nbrs). */
  private[index] def buildBlocks[P: TypeTag](rows: DataFrame, pointCol: String,
      dist2: (P, P) => Double, m: Int, efConstruction: Int)(
      blockOf: (Long, P) => Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("id").cast("long"), col(pointCol)).as[(Long, P)]
      .groupByKey { case (id, v) => blockOf(id, v) }
      .flatMapGroups { (part, it) =>
        val g = new LocalGraph[P](dist2, m, efConstruction)
        it.toArray.sortBy(_._1).foreach { case (id, v) => g.insert(id, v) }
        g.exportRows(part)
      }.toDF("part", "node", "id", pointCol, "level", "nbrs")
  }

  /** Persist adjacency partitioned by block: a search probing blocks is
    * a partition-pruned scan, mirroring the IVF table layout. Float and
    * binary graphs share it (the point column is `vec` or `sig`). */
  def writeGraph(graph: DataFrame, path: String): Unit =
    graph.repartition(col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(path)

  def readGraph(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Beam-search a persisted/cached graph: per block, load adjacency
    * (no rebuild) and answer the whole query batch; global top-k merge.
    * Approximation comes only from the beam (efSearch), not the
    * partitioning — every block answers. `efSearch >= block size` makes
    * the search exhaustive over each block → exact results. */
  def searchGraph(graph: DataFrame, queries: DataFrame, k: Int,
                  efSearch: Int = 64): DataFrame =
    searchBlocks[Array[Float]](graph, "vec", Kernels.l2Sqr,
      collectPoints[Array[Float]](queries, "vec"), k, efSearch, None)

  /** Probed-blocks beam search over a CLUSTERED graph
    * ([[buildGraphClustered]]): each query is routed to its
    * `nProbeBlocks` nearest blocks by coarse-centroid distance (the
    * same ranking the IVF search uses), the scan partition-prunes to
    * the probed blocks, and each block beam-searches only the queries
    * routed to it — work ∝ nq × b instead of nq × nParts (the
    * [[searchGraph]] all-blocks shape). Approximation now comes from
    * BOTH the beam and the routing; HNSWSpec pins the recall/work
    * trade on clustered data (≥0.85 at b = nParts/4), the efSearch
    * analog for the block dimension. */
  def searchGraphProbed(graph: DataFrame, model: IVFModel,
                        queries: DataFrame, k: Int, efSearch: Int = 64,
                        nProbeBlocks: Int = 2): DataFrame = {
    val q = collectPoints[Array[Float]](queries, "vec")
    val probeMap: Map[Int, Array[Int]] = q.indices.flatMap { qi =>
      model.rankCentroids(q(qi)._2).take(nProbeBlocks)
        .map { case (block, _) => (block, qi) }
    }.groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2).toArray) }
    searchBlocks[Array[Float]](graph, "vec", Kernels.l2Sqr, q, k, efSearch,
      Some(probeMap))
  }

  /** A query batch collected to the driver as (qid, point), qid order. */
  private[index] def collectPoints[P: TypeTag](queries: DataFrame,
      pointCol: String): Array[(Long, P)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col("qid").cast("long"), col(pointCol))
      .as[(Long, P)].collect().sortBy(_._1)
  }

  /** The one block search, generic in the point type: each block
    * reloads its adjacency in node order and beam-searches the queries
    * routed to it — every query when `probes` is None, else the query
    * indices `probes` maps the block to (unlisted blocks are
    * partition-pruned away) — then the global (dist, id) top-k merge. */
  private[index] def searchBlocks[P: TypeTag](graph: DataFrame, pointCol: String,
      dist2: (P, P) => Double, q: Array[(Long, P)], k: Int, efSearch: Int,
      probes: Option[Map[Int, Array[Int]]]): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(q)
    val bp = probes.map(spark.sparkContext.broadcast(_))
    val blocks = probes.fold(graph)(p =>
      graph.filter(col("part").isin(p.keys.toSeq.sorted: _*)))
    val partials = blocks
      .select(col("part").cast("int"), col("node").cast("int"),
        col("id").cast("long"), col(pointCol), col("level").cast("int"),
        col("nbrs"))
      .as[(Int, Int, Long, P, Int, Array[Array[Int]])]
      .groupByKey(_._1)
      .flatMapGroups { (part, it) =>
        val qs = bq.value
        val qis = bp.fold(qs.indices.toArray)(_.value.getOrElse(part, Array.empty))
        if (qis.isEmpty) Iterator.empty
        else {
          val g = LocalGraph.fromAdjacency[P](dist2,
            it.map { case (_, node, id, v, level, nbrs) => (node, id, v, level, nbrs) }
              .toArray.sortBy(_._1))
          qis.iterator.flatMap { qi =>
            g.search(qs(qi)._2, k, efSearch).iterator
              .map { case (d, id) => (qs(qi)._1, id, d) }
          }
        }
      }.toDF("qid", "id", "dist")
    FlatSearch.mergeTopK(partials, k)
  }

  /** Convenience one-shot: build (uncached) + search. Prefer
    * [[buildGraph]]/[[IndexCache.hnsw]] + [[searchGraph]] so the build
    * is paid once. */
  def knn(base: DataFrame, queries: DataFrame, k: Int, m: Int = 16,
          efConstruction: Int = 64, efSearch: Int = 64,
          nParts: Int = 8): DataFrame =
    searchGraph(buildGraph(base, nParts, m, efConstruction), queries, k, efSearch)
}
