package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** HNSW over binary codes (`Auncel/IndexBinaryHNSW.cpp`): the
  * partitioned graph layer of [[HNSW]] — its block builder and block
  * search are generic in the point type — instantiated at
  * `Array[Long]` packed signatures with per-word popcount Hamming
  * distance ([[BinaryHash.hammingWide]]). The adjacency carries
  * sig ARRAY<LONG> instead of vec ARRAY<FLOAT> and persists through
  * the float graph's own block-partitioned layout ([[HNSW]]).
  * Distances are integral, so ties are common: ranking is
  * (hamming, id), same as the flat wide scan — with efSearch ≥ block
  * size the beam is exhaustive and results equal
  * [[BinaryHash.knnHammingWide]].
  */
object BinaryHNSW {

  private val dist: (Array[Long], Array[Long]) => Double =
    (a, b) => BinaryHash.hammingWide(a, b).toDouble

  /** Build per-block graphs over (id, sig) rows — blocks are
    * `id % nParts`, deterministic like the float variant. */
  def buildGraph(sigs: DataFrame, nParts: Int = 8, m: Int = 16,
                 efConstruction: Int = 64): DataFrame = {
    val p = nParts.toLong
    HNSW.buildBlocks[Array[Long]](sigs, "sig", dist, m, efConstruction)(
      (id, _) => java.lang.Math.floorMod(id, p).toInt)
  }

  /** Beam-search a built/persisted binary graph with Hamming distance;
    * every block answers, global (dist, id) top-k merge. */
  def searchGraph(graph: DataFrame, querySigs: DataFrame, k: Int,
                  efSearch: Int = 64): DataFrame =
    HNSW.searchBlocks[Array[Long]](graph, "sig", dist,
      HNSW.collectPoints[Array[Long]](querySigs, "sig"), k, efSearch, None)

  /** Convenience: encode floats with a wide LSH model, build, search —
    * the `IndexBinaryFromFloat`-over-HNSW composition. */
  def knn(base: DataFrame, queries: DataFrame, model: BinaryHash.WideLSHModel,
          k: Int, nParts: Int = 8, m: Int = 16, efConstruction: Int = 64,
          efSearch: Int = 64): DataFrame = {
    val sigs = BinaryHash.encodeWide(base, model).select(col("id"), col("sig"))
    val qsigs = BinaryHash.encodeWide(queries, model, "vec")
      .select(col("qid"), col("sig"))
    searchGraph(buildGraph(sigs, nParts, m, efConstruction), qsigs, k, efSearch)
  }
}
