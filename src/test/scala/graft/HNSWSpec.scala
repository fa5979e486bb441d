package graft

import org.apache.spark.sql.functions._
import graft.index.HNSW
import graft.search.FlatSearch

class HNSWSpec extends SparkSpec {

  lazy val pool = clusteredVecs(3050, 24, nClusters = 24, seed = 121)
  lazy val base = pool.take(3000)
  lazy val baseDF = vecDF(base).repartition(6).cache()
  lazy val qs = pool.drop(3000)
  lazy val qDF = vecDF(qs, "qid")

  def recallVs(res: org.apache.spark.sql.DataFrame, k: Int): Double = {
    import spark.implicits._
    val got = res.select(col("qid"), col("id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    qs.zipWithIndex.map { case (q, qi) =>
      val want = bruteForce(base, q, k).map(_._2).toSet
      (got.getOrElse(qi.toLong, Set.empty) & want).size.toDouble / k
    }.sum / qs.length
  }

  test("local graph search matches brute force on a small set") {
    val g = new HNSW.LocalGraph[Array[Float]](graft.functions.Kernels.l2Sqr, m = 8, efConstruction = 48)
    val vs = randVecs(300, 8, seed = 122)
    vs.zipWithIndex.foreach { case (v, i) => g.insert(i.toLong, v) }
    val hits = qsFor(vs).map { q =>
      val got = g.search(q, 5, efSearch = 96).map(_._2).toSet
      val want = bruteForce(vs, q, 5).map(_._2).toSet
      (got & want).size.toDouble / 5
    }
    val mean = hits.sum / hits.length
    assert(mean > 0.9, s"local HNSW recall $mean")
  }

  private def qsFor(vs: Array[Array[Float]]) = vs.take(20)

  test("persisted graph schema: float and binary builds share one layout") {
    import org.apache.spark.sql.types._
    import graft.index.{BinaryHash, BinaryHNSW}
    // the on-disk adjacency layout (IndexCache's hnsw2 dirs, IndexIO's
    // saved graphs) must reload without re-keying: pin names and types
    def shape(g: org.apache.spark.sql.DataFrame) =
      g.schema.fields.map(f => (f.name, f.dataType)).toSeq
    def want(point: String, pointType: DataType) = Seq(
      "part" -> IntegerType, "node" -> IntegerType, "id" -> LongType,
      point -> pointType, "level" -> IntegerType,
      "nbrs" -> ArrayType(ArrayType(IntegerType, false), true))
    val small = vecDF(base.take(200))
    val floatVec = ArrayType(FloatType, false)
    assert(shape(HNSW.buildGraph(small, nParts = 2)) == want("vec", floatVec))
    val model = graft.index.IVFIndex.train(small, 2, seed = 42L)
    assert(shape(HNSW.buildGraphClustered(small, model)) == want("vec", floatVec))
    val lsh = BinaryHash.trainWide(d = 24, nbits = 128, seed = 3L)
    val sigs = BinaryHash.encodeWide(small, lsh).select(col("id"), col("sig"))
    assert(shape(BinaryHNSW.buildGraph(sigs, nParts = 2)) ==
      want("sig", ArrayType(LongType, false)))
  }

  test("distributed partitioned HNSW: high recall, deterministic") {
    val res = HNSW.knn(baseDF, qDF, k = 10, efSearch = 96)
    val r = recallVs(res, 10)
    assert(r > 0.85, s"partitioned HNSW recall $r")
    // determinism: same partitioning + hash-derived levels → same result
    import spark.implicits._
    val a = res.select(col("qid"), col("rank"), col("id"))
      .as[(Long, Int, Long)].collect().sorted
    val b = HNSW.knn(baseDF, qDF, k = 10, efSearch = 96)
      .select(col("qid"), col("rank"), col("id"))
      .as[(Long, Int, Long)].collect().sorted
    assert(a.sameElements(b))
  }

  test("probed-blocks search: recall ≥ 0.85 at b = nParts/4 on clustered data") {
    import spark.implicits._
    val nParts = 16
    val model = graft.index.IVFIndex.train(baseDF, nParts, seed = 42L)
    val graph = HNSW.buildGraphClustered(baseDF, model, m = 16,
      efConstruction = 64).cache()
    graph.count()

    // all-blocks over the clustered graph = the reference quality bar
    val full = HNSW.searchGraph(graph, qDF, k = 10, efSearch = 96)
    val rFull = recallVs(full, 10)
    // probed: each query pays b = nParts/4 = 4 beam searches, not 16
    val probed = HNSW.searchGraphProbed(graph, model, qDF, k = 10,
      efSearch = 96, nProbeBlocks = nParts / 4)
    val rProbed = recallVs(probed, 10)
    assert(rProbed >= 0.85, s"probed recall $rProbed (all-blocks $rFull)")
    // the block dimension behaves like efSearch: more blocks ≥ recall
    val probed8 = HNSW.searchGraphProbed(graph, model, qDF, k = 10,
      efSearch = 96, nProbeBlocks = nParts / 2)
    val r8 = recallVs(probed8, 10)
    assert(r8 >= rProbed - 0.02, s"b=8 recall $r8 < b=4 recall $rProbed")
    // probing every block recovers the all-blocks result exactly
    val all = HNSW.searchGraphProbed(graph, model, qDF, k = 10,
      efSearch = 96, nProbeBlocks = nParts)
      .select(col("qid"), col("rank"), col("id"))
      .as[(Long, Int, Long)].collect().sorted
    val want = full.select(col("qid"), col("rank"), col("id"))
      .as[(Long, Int, Long)].collect().sorted
    assert(all.sameElements(want))
    graph.unpersist()
  }

  test("level-0 graph stays connected on far-apart clustered data") {
    // two tight clusters 1000 apart — the shape most likely to fragment
    // under heuristic pruning; the insert-order chain backstop must keep
    // level 0 one component (exhaustive-beam exactness depends on it)
    val rng = new scala.util.Random(7)
    def cluster(center: Float, n: Int) = Array.fill(n)(
      Array.fill(12)(center + rng.nextGaussian().toFloat * 0.01f))
    val vs = cluster(0f, 150) ++ cluster(1000f, 150)
    val g = new HNSW.LocalGraph[Array[Float]](graft.functions.Kernels.l2Sqr, m = 4, efConstruction = 8)
    vs.zipWithIndex.foreach { case (v, i) => g.insert(i.toLong, v) }
    val adj = g.level0Adjacency
    // BFS over level-0 out-edges from node 0 must reach every node
    val seen = scala.collection.mutable.HashSet(0)
    val queue = scala.collection.mutable.Queue(0)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      adj(n).foreach { nb => if (seen.add(nb)) queue.enqueue(nb) }
    }
    assert(seen.size == vs.length, s"level-0 reachable ${seen.size}/${vs.length}")
    // and an exhaustive beam over the connected block is exact
    val q = vs(200)
    val got = g.search(q, 5, efSearch = vs.length).map(_._2)
    val want = bruteForce(vs, q, 5).map(_._2)
    assert(got.sameElements(want), s"${got.toSeq} != ${want.toSeq}")
  }

  test("efSearch trades recall for work") {
    val lo = recallVs(HNSW.knn(baseDF, qDF, k = 10, efSearch = 12), 10)
    val hi = recallVs(HNSW.knn(baseDF, qDF, k = 10, efSearch = 128), 10)
    assert(lo <= hi + 1e-9, s"recall($lo) ! <= recall($hi)")
    assert(hi > 0.9, s"efSearch=128 recall $hi")
  }
}
