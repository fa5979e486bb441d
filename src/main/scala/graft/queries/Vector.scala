package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.index.IVFIndex
import graft.search.{FlatSearch, IVFSearch}

/** Vector-search query inventory over the `embeddings` table
  * (vec_id LONG, embedding ARRAY<FLOAT>[64], label INT).
  *
  * Distances are summed left-to-right in double (see
  * [[graft.functions.Kernels]]), which the DuckDB oracles reproduce with
  * `list_sum(list_transform(range(1,65), ...))` — bit-identical, so the
  * driver's hash compare holds for float outputs too.
  */
object Vector {

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Oracle side-table directory for a dataset dir: leaf name for
    * readability plus a full-path hash so two dataset dirs sharing a
    * leaf (e.g. /a/sf0.01 and /b/sf0.01) can never read each other's
    * tables (same collision class IndexCache.diskPath guards against).
    * Used by BOTH the query-side writers and the SQL builders. */
  private[graft] def odir(dir: String): String = underRoot("graft_oracle", dir)

  /** Streaming staging root for a dataset dir — same leaf+full-path-hash
    * scheme as [[odir]], so two dataset dirs sharing a leaf name (or two
    * concurrent runs over different fixtures) can never stage into, or
    * delete, each other's stream directories. */
  private[graft] def sdir(dir: String): String = underRoot("graft_stream", dir)

  /** `<base>/<root>/<basename(dir)>_<fullPathHash>`, where base is the
    * parent of [[graft.index.IndexCache]]'s model root, so
    * `graft.model.dir` / `GRAFT_MODEL_DIR` moves the oracle and stream
    * roots along with the models (default base: /tmp). */
  private def underRoot(root: String, dir: String): String = {
    val h = f"${scala.util.hashing.MurmurHash3.stringHash(dir)}%08x"
    val base = Option(new java.io.File(graft.index.IndexCache.diskRoot)
      .getAbsoluteFile.getParent).getOrElse("/")
    s"$base/$root/${new java.io.File(dir).getName}_$h"
  }

  private def base(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"),
      col("label"))

  private def qs(s: SparkSession, dir: String, pred: String): DataFrame =
    emb(s, dir).filter(expr(pred))
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))

  // DuckDB fragment: exact squared-L2 between q.qv and b.embedding
  private val l2SqlFrag =
    "list_sum(list_transform(range(1, 65), i -> " +
      "(CAST(q.qv[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)) * " +
      "(CAST(q.qv[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))))"

  private val dotSqlFrag =
    "list_sum(list_transform(range(1, 65), i -> " +
      "CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"

  /** O1 — exact brute-force k-NN (flat scan): 8 queries, k=10, L2. */
  def v01KnnFlat(s: SparkSession, dir: String): DataFrame =
    FlatSearch.knn(base(s, dir), qs(s, dir, "vec_id < 8"), k = 10)
      .orderBy(col("qid"), col("rank"))

  /** Flat-knn oracle, parameterized on the query predicate — v01 and
    * s05 share one text by construction (s05's streaming sink is
    * bit-equal to the batch answer, so its oracle IS v01's). */
  private def knnFlatSql(pred: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE $pred),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  val v01Sql: String = knnFlatSql("vec_id < 8")

  /** Streaming vector-search serving (a REAL Structured Streaming run):
    * the query set is staged to parquet, read back as a file stream
    * admission-capped to 4 files per trigger (so AvailableNow genuinely
    * runs TWO micro-batches — the least that still proves real
    * micro-batching, each per-batch offset/commit cycle being pure
    * fixed cost), and each micro-batch is served by the
    * exact batch k-NN kernel via [[graft.streaming.EventStream.knnServe]].
    * Per-query results are independent of the micro-batching, so the
    * parquet sink's union equals the one-shot batch answer bit-exactly
    * — which is why a plain v01-style SQL oracle verifies a streaming
    * run. */
  def s05StreamKnn(s: SparkSession, dir: String): DataFrame = {
    val root = sdir(dir)
    val staged = s"$root/s05_queries.parquet"
    val outDir = s"$root/s05_out.parquet"
    qs(s, dir, "vec_id < 64").repartition(8)
      .write.mode("overwrite").parquet(staged)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    val schema = s.read.parquet(staged).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4").parquet(staged)
    val q = graft.streaming.EventStream.knnServe(stream, base(s, dir),
      k = 10, outDir)
    require(q.awaitTermination(300000),
      "s05 streaming query did not finish within 300s — partial sink")
    // the row exists to verify STREAMING serving — assert it actually
    // micro-batched (4-file admission over 8 staged files) so a future
    // staging change can't silently turn this into a one-batch run
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches >= 2,
      s"s05 ran in $dataBatches micro-batches (expected >= 2)")
    // per-batch sink dirs (the knnServe exactly-once contract)
    s.read.parquet(s"$outDir/batch-*").orderBy(col("qid"), col("rank"))
  }

  val s05Sql: String = knnFlatSql("vec_id < 64")

  /** O2 — k-NN restricted to an id subset (label = 3). */
  def v02KnnSubset(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    FlatSearch.knn(b.filter(col("label") === 3), qs(s, dir, "vec_id < 8"), k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  val v02Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b WHERE b.label = 3)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** O3 — range search: all neighbors within squared-L2 radius. */
  def v03Range(s: SparkSession, dir: String): DataFrame =
    FlatSearch.range(base(s, dir), qs(s, dir, "vec_id < 8"), radius = 1.5)
      .orderBy(col("qid"), col("id"))

  val v03Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8)
       |SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |FROM q CROSS JOIN embeddings b
       |WHERE $l2SqlFrag < 1.5
       |ORDER BY qid, id""".stripMargin

  /** Cosine top-k (inner-product family). Same partial-heap shape as
    * every other k-NN path: per-partition bounded heaps shuffle only
    * parts × nq × k rows — never the N × nq cross product — and the
    * window ranks just those partials. Query norms are precomputed
    * once; base norms once per row. */
  def v04CosineTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Kernels
    import graft.operators.TopK
    val k = 5
    val q = qs(s, dir, "vec_id >= 8 AND vec_id < 16")
      .select(col("qid").cast("long"), col("vec"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (qid, v) => (qid, v, Kernels.norm(v)) }
    val bq = s.sparkContext.broadcast(q)
    val partials = base(s, dir)
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qsv = bq.value
        val heaps = qsv.map(_ => new TopK(k))
        it.foreach { case (id, vec) =>
          val n = Kernels.norm(vec)
          var i = 0
          while (i < qsv.length) {
            val (qid, qv, qn) = qsv(i)
            if (qid != id) heaps(i).add(-(Kernels.dot(qv, vec) / (qn * n)), id)
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.sorted.iterator.map { case (negSim, id) => (qsv(i)._1, id, -negSim) }
        }
      }.toDF("qid", "id", "sim")
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    partials.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  val v04Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 8 AND vec_id < 16),
       |n AS (SELECT q.qid, b.vec_id AS id,
       |  $dotSqlFrag /
       |  (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS sim
       |  FROM q CROSS JOIN embeddings b WHERE q.qid <> b.vec_id)
       |SELECT qid, id, sim, rank FROM (
       |  SELECT qid, id, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank FROM n)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** O5 with nprobe = nlist — the IVF path degenerates to exact search,
    * so the brute-force SQL oracle applies: proves the IVF partition/
    * probe/merge machinery loses nothing. */
  def v05IvfExact(s: SparkSession, dir: String): DataFrame = {
    val (model, assigned) = graft.index.IndexCache.ivf(dir, base(s, dir), nlist = 16)
    IVFSearch.search(assigned, model, qs(s, dir, "vec_id >= 16 AND vec_id < 24"),
      k = 10, nprobe = 16)
      .orderBy(col("qid"), col("rank"))
  }

  val v05Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 16 AND vec_id < 24),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** Approximate IVF search (nprobe = 4 of 16). The trained
    * partitioning is data, not SQL — so the query persists its
    * (list_no, centroid) and (id, list_no) tables and the DuckDB
    * oracle replays probe → partition scan → top-k declaratively
    * against them (exactly the driver-checkable form of O4+O5). */
  def v06IvfProbe(s: SparkSession, dir: String): DataFrame = {
    val (model, assigned) = graft.index.IndexCache.ivf(dir, base(s, dir), nlist = 16)
    import s.implicits._
    val oracleDir = odir(dir)
    model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("list_no", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$oracleDir/v06_centroids.parquet")
    assigned.select(col("id"), col("list_no")).coalesce(1)
      .write.mode("overwrite").parquet(s"$oracleDir/v06_assign.parquet")
    IVFSearch.search(assigned, model, qs(s, dir, "vec_id < 8"), k = 10, nprobe = 4)
      .orderBy(col("qid"), col("rank"))
  }

  /** Probe ranking mirrors rankCentroids: float-cast coarse distance,
    * tie-break by list id; scan+top-k over the probed lists only. */
  def v06Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |cent AS (SELECT list_no, centroid FROM read_parquet('$od/v06_centroids.parquet/*.parquet')),
       |cd AS (SELECT q.qid, c.list_no,
       |  CAST(list_sum(list_transform(range(1, 65), i ->
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)) *
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)))) AS FLOAT) AS cdist
       |  FROM q CROSS JOIN cent c),
       |probes AS (SELECT qid, list_no FROM (
       |  SELECT qid, list_no, row_number() OVER (PARTITION BY qid ORDER BY cdist, list_no) AS rn FROM cd)
       |  WHERE rn <= 4),
       |asg AS (SELECT id, list_no FROM read_parquet('$od/v06_assign.parquet/*.parquet')),
       |cand AS (SELECT p.qid, a.id FROM probes p JOIN asg a ON p.list_no = a.list_no),
       |d AS (SELECT cand.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM cand JOIN q ON cand.qid = q.qid JOIN embeddings b ON b.vec_id = cand.id)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** Embedding near-duplicate pairs: top-20 most-similar distinct pairs
    * by cosine — the embedding-cosine near-dup detector.
    *
    * Exact, and distributed: block-partitioned pair enumeration
    * ([[graft.ops.EmbeddingDedup.exactPairTopK]]) — every task holds
    * exactly two row blocks with a bounded pair heap; no driver collect
    * and no full-collection broadcast. The thresholded 100 TB path (LSH
    * bands + rerank) is v15. */
  def v07NearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val b = emb(s, dir)
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
    graft.ops.EmbeddingDedup.exactPairTopK(b, k = 20, nBlocks = 8)
      .withColumnRenamed("cos", "sim")
  }

  val v07Sql: String =
    """SELECT x.vec_id AS a, y.vec_id AS b,
      |  list_sum(list_transform(range(1, 65), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) /
      |  (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)))) *
      |   sqrt(list_sum(list_transform(range(1, 65), i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))) AS sim
      |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
      |ORDER BY sim DESC, a, b LIMIT 20""".stripMargin

  /** The bucketed near-dup scale path end-to-end, oracle-checkable:
    * every vector gets a planted duplicate at id+1,000,000 with an
    * identical embedding, so the duplicate's 63-bit sign signature
    * agrees bit-for-bit with the original's → banded LSH finds every
    * planted pair with provable recall 1 (the exact-config trick); the
    * exact cosine rerank at 0.99 then rejects all other candidates
    * (the data's max original-pair cosine is ≈0.6). What the driver
    * verifies here is the same plan a 100 TB near-dup run uses:
    * signatures → band equi-join → id-distinct → rerank join. */
  def v15NeardupLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.index.BinaryHash
    val b = base(s, dir).select(col("id"), col("vec"))
    val planted = b.unionByName(
      b.select((col("id") + 1000000L).as("id"), col("vec")))
    val model = BinaryHash.train(d = 64, nbits = 63, seed = 7L)
    graft.ops.EmbeddingDedup.lshPairs(planted, model, threshold = 0.99)
      .orderBy(col("a"), col("b"))
  }

  val v15Sql: String =
    """WITH u AS (
      |  SELECT vec_id AS id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS id, embedding FROM embeddings),
      |p AS (SELECT x.id AS a, y.id AS b,
      |  list_sum(list_transform(range(1, 65), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) /
      |  (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)))) *
      |   sqrt(list_sum(list_transform(range(1, 65), i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))) AS cos
      |  FROM u x JOIN u y ON x.id < y.id)
      |SELECT a, b, cos FROM p WHERE cos >= 0.99 ORDER BY a, b""".stripMargin

  /** Semantic near-dup via coarse-cluster bucketing (SemDeDup): the
    * TRAINED-partition variant of the bucketed near-dup scale path —
    * v15 buckets by LSH sign-bit bands, v32 by the k-means lists an
    * ANN-indexed corpus already has, so semantic dedup costs one
    * within-list join over the existing layout. Planted identical
    * duplicates assign to identical lists (assignment is a
    * deterministic argmin), so recall on the planted pairs is 1 by
    * construction and the 0.99 exact-cosine filter rejects everything
    * else (the data's max original-pair cosine is ≈0.6). The trained
    * partition is data, not SQL — persisted as a side table; the
    * oracle replays the within-cluster enumeration + cosine against
    * it declaratively. */
  def v32SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir).select(col("id"), col("vec"))
    val planted = b.unionByName(
      b.select((col("id") + 1000000L).as("id"), col("vec")))
    // model+assignment cached per dataset dir (the v06 contract: the
    // cache key is the dir, staleness on in-place rewrite is the
    // documented IndexCache limitation) — warm runs skip retraining
    val (_, assigned) =
      graft.index.IndexCache.ivf(s"$dir|v32planted", planted, nlist = 8)
    assigned.select(col("id"), col("list_no")).coalesce(1)
      .write.mode("overwrite").parquet(s"${odir(dir)}/v32_assign.parquet")
    graft.ops.EmbeddingDedup.ivfPairs(assigned, threshold = 0.99)
      .orderBy(col("a"), col("b"))
  }

  def v32Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH u AS (
       |  SELECT vec_id AS id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS id, embedding FROM embeddings),
       |asg AS (SELECT id, list_no FROM read_parquet('$od/v32_assign.parquet/*.parquet')),
       |p AS (SELECT ax.id AS a, ay.id AS b,
       |  list_sum(list_transform(range(1, 65), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform(range(1, 65), i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))) AS cos
       |  FROM asg ax JOIN asg ay ON ax.list_no = ay.list_no AND ax.id < ay.id
       |  JOIN u x ON x.id = ax.id JOIN u y ON y.id = ay.id)
       |SELECT a, b, cos FROM p WHERE cos >= 0.99 ORDER BY a, b""".stripMargin
  }

  /** O5+PQ — IVFPQ with exact-rerank refinement, configured so the
    * candidate pool covers the collection (nprobe=nlist, kFactor·k ≥ N):
    * the ADC stage is exercised end-to-end and the refined result is
    * provably exact → brute-force SQL oracle applies. */
  def v08IvfpqRefine(s: SparkSession, dir: String): DataFrame = {
    import graft.index.IVFPQ
    val b = base(s, dir)
    val (model, assigned) = graft.index.IndexCache.ivf(dir, b, nlist = 16)
    val pq = IVFPQ.trainResidualPQ(assigned, model, m = 8, nbits = 4, seed = 42L) // small codebooks: refine restores exactness; training cost stays low
    val enc = IVFPQ.encode(assigned, model, pq)
    // use_precomputed_table fast path: the candidate stage pays an
    // M·ksub add per (query, probed list) instead of a residual-table
    // build; the exact rerank makes the final result identical either
    // way. kFactor scales with the corpus so kFactor·k ≥ N holds at
    // ANY sf — exact by construction, not just at the smallest corpus.
    val kFactor = math.max(50, math.ceil(b.count() / 10.0).toInt)
    IVFPQ.searchRefine(enc.drop("vec"), b, model, pq,
      qs(s, dir, "vec_id >= 24 AND vec_id < 32"), k = 10, nprobe = 16,
      kFactor = kFactor,
      precomputed = Some(IVFPQ.precomputeTable(model, pq)))
      .orderBy(col("qid"), col("rank"))
  }

  val v08Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 24 AND vec_id < 32),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** SQ8 scalar quantization: per-vector squared reconstruction error,
    * computed with double arithmetic + float-rounded decode in both
    * engines (the quantizer grid comes from per-dim min/max). */
  def v09Sq8Error(s: SparkSession, dir: String): DataFrame = {
    import graft.quantize.ScalarQuantizer
    val b = base(s, dir)
    val sq = ScalarQuantizer.train(b)
    val mins = sq.vmin.map(_.toDouble)
    // range in DOUBLE (the oracle subtracts doubles; float mx-mn differs in ulp)
    val diffs = Array.tabulate(sq.dim)(i => sq.vmax(i).toDouble - sq.vmin(i).toDouble)
    // fused scalar kernel, the v16 treatment: identical per-dim
    // arithmetic (incl. least/greatest NaN semantics), left-to-right
    // summation — bit-exact vs the oracle, without interpreted HOFs
    val errU = udf { (vec: Seq[Float]) =>
      var acc = 0.0
      var i = 0
      while (i < vec.length) {
        val x = vec(i).toDouble
        val t = math.floor((x - mins(i)) / diffs(i) * 255)
        val g = if (t.isNaN) Double.NaN else math.max(0.0, t)
        val code = if (g.isNaN) 255.0 else math.min(255.0, g)
        val dec = (mins(i) + (code + 0.5) / 255.0 * diffs(i)).toFloat.toDouble
        acc += (x - dec) * (x - dec)
        i += 1
      }
      acc
    }
    b.select(col("id").as("vec_id"), errU(col("vec")).as("sq_err"))
      .orderBy(col("vec_id"))
  }

  val v09Sql: String =
    """WITH dims AS (
      |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM (
      |    SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
      |           MAX(CAST(embedding[i] AS DOUBLE)) AS mx
      |    FROM embeddings, range(1, 65) t(i) GROUP BY i))
      |SELECT e.vec_id, list_sum(list_transform(list_transform(range(1, 65), i ->
      |  CAST(e.embedding[i] AS DOUBLE) -
      |    CAST(CAST(d.mns[i] + (LEAST(255.0, GREATEST(0.0,
      |      floor((CAST(e.embedding[i] AS DOUBLE) - d.mns[i]) / (d.mxs[i] - d.mns[i]) * 255)))
      |      + 0.5) / 255.0 * (d.mxs[i] - d.mns[i]) AS FLOAT) AS DOUBLE)
      |), y -> y * y)) AS sq_err
      |FROM embeddings e CROSS JOIN dims d ORDER BY e.vec_id""".stripMargin

  /** §2.3 scalar-codec family beyond SQ8: per-vector squared
    * reconstruction error of QT_4bit / QT_4bit_uniform / QT_6bit /
    * QT_8bit_uniform / QT_fp16 — the v09 pattern, one column per
    * codec. The fp16 grid is expressed identically in both engines:
    * scale by 2^(10−e) (e = clamped exponent), round half-even,
    * unscale, cast float. */
  def v16ScalarCodecs(s: SparkSession, dir: String): DataFrame = {
    import graft.quantize.ScalarQuantizer
    val b = base(s, dir)
    val sq = ScalarQuantizer.train(b) // per-dim min/max, shared by all grids
    val mins = sq.vmin.map(_.toDouble)
    val diffs = Array.tabulate(sq.dim)(i => sq.vmax(i).toDouble - sq.vmin(i).toDouble)
    val gMin = sq.vmin.min.toDouble
    val gDiff = sq.vmax.max.toDouble - gMin
    // Scalar-kernel twin of the higher-order formulation (the shingleU
    // precedent: interpreted HOF chains cost ~µs per row per codec —
    // here 5 codecs × 64 dims ran ~10× slower than one fused loop).
    // Arithmetic is kept IDENTICAL per dim, left-to-right summation
    // per codec, including Spark's least/greatest NaN semantics
    // (greatest propagates NaN, least then prefers the literal) and
    // bround's HALF_EVEN — math.rint, since binary ties are exactly
    // representable. The DuckDB oracle reproduces this bit-for-bit.
    def sqErr(x: Double, mn: Double, df: Double, st: Double): Double = {
      val t = math.floor((x - mn) / df * st)
      val g = if (t.isNaN) Double.NaN else math.max(0.0, t)
      val code = if (g.isNaN) st else math.min(st, g)
      val dec = (mn + (code + 0.5) / st * df).toFloat.toDouble
      (x - dec) * (x - dec)
    }
    def fp16Err(x: Double): Double =
      if (x == 0.0) 0.0
      else {
        val m = math.pow(2.0,
          10.0 - math.max(math.floor(math.log(math.abs(x)) / math.log(2.0)), -14.0))
        val dec = (math.rint(x * m) / m).toFloat.toDouble
        (x - dec) * (x - dec)
      }
    val errsU = udf { (vec: Seq[Float]) =>
      var sq4 = 0.0; var sq4u = 0.0; var sq6 = 0.0; var sq8u = 0.0; var f16 = 0.0
      var i = 0
      while (i < vec.length) {
        val x = vec(i).toDouble
        sq4 += sqErr(x, mins(i), diffs(i), 15.0)
        sq4u += sqErr(x, gMin, gDiff, 15.0)
        sq6 += sqErr(x, mins(i), diffs(i), 63.0)
        sq8u += sqErr(x, gMin, gDiff, 255.0)
        f16 += fp16Err(x)
        i += 1
      }
      (sq4, sq4u, sq6, sq8u, f16)
    }
    b.select(col("id").as("vec_id"), errsU(col("vec")).as("e"))
      .select(
        col("vec_id"),
        col("e._1").as("sq4_err"),
        col("e._2").as("sq4u_err"),
        col("e._3").as("sq6_err"),
        col("e._4").as("sq8u_err"),
        col("e._5").as("fp16_err"))
      .orderBy(col("vec_id"))
  }

  val v16Sql: String = {
    def perDim(steps: Int, alias: String) =
      s"""  list_sum(list_transform(list_transform(range(1, 65), i ->
         |    CAST(e.embedding[i] AS DOUBLE) -
         |      CAST(CAST(d.mns[i] + (LEAST($steps.0, GREATEST(0.0,
         |        floor((CAST(e.embedding[i] AS DOUBLE) - d.mns[i]) / (d.mxs[i] - d.mns[i]) * $steps)))
         |        + 0.5) / $steps.0 * (d.mxs[i] - d.mns[i]) AS FLOAT) AS DOUBLE)
         |  ), y -> y * y)) AS $alias""".stripMargin
    def global(steps: Int, alias: String) =
      s"""  list_sum(list_transform(list_transform(range(1, 65), i ->
         |    CAST(e.embedding[i] AS DOUBLE) -
         |      CAST(CAST(d.gmn + (LEAST($steps.0, GREATEST(0.0,
         |        floor((CAST(e.embedding[i] AS DOUBLE) - d.gmn) / (d.gmx - d.gmn) * $steps)))
         |        + 0.5) / $steps.0 * (d.gmx - d.gmn) AS FLOAT) AS DOUBLE)
         |  ), y -> y * y)) AS $alias""".stripMargin
    s"""WITH dims AS (
       |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs,
       |         MIN(mn) AS gmn, MAX(mx) AS gmx FROM (
       |    SELECT i, MIN(CAST(embedding[i] AS DOUBLE)) AS mn,
       |           MAX(CAST(embedding[i] AS DOUBLE)) AS mx
       |    FROM embeddings, range(1, 65) t(i) GROUP BY i))
       |SELECT e.vec_id,
       |${perDim(15, "sq4_err")},
       |${global(15, "sq4u_err")},
       |${perDim(63, "sq6_err")},
       |${global(255, "sq8u_err")},
       |  list_sum(list_transform(list_transform(range(1, 65), i ->
       |    CAST(e.embedding[i] AS DOUBLE) -
       |      CAST(CAST(CASE WHEN e.embedding[i] = 0 THEN 0
       |        ELSE round_even(CAST(e.embedding[i] AS DOUBLE) *
       |               power(2, 10 - GREATEST(floor(log2(abs(CAST(e.embedding[i] AS DOUBLE)))), -14)), 0)
       |             / power(2, 10 - GREATEST(floor(log2(abs(CAST(e.embedding[i] AS DOUBLE)))), -14))
       |        END AS FLOAT) AS DOUBLE)
       |  ), y -> y * y)) AS fp16_err
       |FROM embeddings e CROSS JOIN dims d ORDER BY e.vec_id""".stripMargin
  }

  /** §2.3 binary codes beyond 63 bits: 128-bit random-hyperplane
    * signatures in an ARRAY<LONG> column, Hamming k-NN via per-word
    * xor popcount. Signature tables are persisted as side tables so
    * the DuckDB oracle replays the scan + top-k (v06 pattern). */
  def v17HammingWide(s: SparkSession, dir: String): DataFrame = {
    import graft.index.BinaryHash
    val b = base(s, dir)
    val model = BinaryHash.trainWide(d = 64, nbits = 128, seed = 11L)
    val sigs = BinaryHash.encodeWide(b, model).select(col("id"), col("sig"))
    val qsigs = BinaryHash.encodeWide(
      qs(s, dir, "vec_id >= 80 AND vec_id < 88"), model)
      .select(col("qid"), col("sig"))
    val oracleDir = odir(dir)
    sigs.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v17_sigs.parquet")
    qsigs.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v17_qsigs.parquet")
    BinaryHash.knnHammingWide(sigs, qsigs, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  def v17Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH s AS (SELECT id, sig FROM read_parquet('$od/v17_sigs.parquet/*.parquet')),
       |q AS (SELECT qid, sig AS qsig FROM read_parquet('$od/v17_qsigs.parquet/*.parquet')),
       |d AS (SELECT q.qid, s.id,
       |  CAST(list_sum(list_transform(range(1, 3), w ->
       |    bit_count(xor(s.sig[w], q.qsig[w])))) AS DOUBLE) AS dist
       |  FROM q CROSS JOIN s)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** §2.3 — polysemous codes (`Auncel/PolysemousTraining.cpp`,
    * `IndexPQ.cpp` polysemous search): PQ codebooks annealed so code
    * Hamming distance tracks centroid distance; search Hamming-filters
    * every stored code against the query's own code (ht = 30 of 64),
    * then ranks survivors by reconstruction distance ‖q − decode(code)‖²
    * (≡ ADC — the per-subspace sums telescope). The oracle replays
    * filter → decode → rank in SQL over persisted code/codebook side
    * tables (the v06 playbook). */
  def v18Polysemous(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.quantize.{Polysemous, ProductQuantizer}
    val b = base(s, dir)
    val pq = graft.index.IndexCache.pq(s"$dir|poly_m8", s,
      Polysemous.train(ProductQuantizer.train(b, m = 8, seed = 42L)))
    val enc = graft.index.IndexCache.frame(s"$dir|poly_enc",
      ProductQuantizer.encode(b, pq).select(col("id"), col("code")))
    val oracleDir = odir(dir)
    val toInts = udf { c: Array[Byte] => c.map(_ & 0xff) }
    enc.select(col("id"), posexplode(toInts(col("code"))).as(Seq("sub", "code")))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v18_codes.parquet")
    val qRows = qs(s, dir, "vec_id < 8")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    qRows.flatMap { case (qid, v) =>
      pq.encode(v).zipWithIndex.map { case (c, sub) => (qid, sub, c & 0xff) }
    }.toSeq.toDF("qid", "sub", "qcode")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v18_qcodes.parquet")
    (for { sub <- 0 until pq.m; c <- 0 until pq.ksub }
      yield (sub, c, pq.codebooks(sub)(c)))
      .toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v18_books.parquet")
    Polysemous.knn(enc, pq, qs(s, dir, "vec_id < 8"), k = 10, ht = 30)
      .orderBy(col("qid"), col("rank"))
  }

  def v18Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT id, sub, code FROM read_parquet('$od/v18_codes.parquet/*.parquet')),
       |qc AS (SELECT qid, sub, qcode FROM read_parquet('$od/v18_qcodes.parquet/*.parquet')),
       |bk AS (SELECT sub, code, centroid FROM read_parquet('$od/v18_books.parquet/*.parquet')),
       |ham AS (SELECT qc.qid, c.id,
       |  SUM(bit_count(xor(CAST(c.code AS BIGINT), CAST(qc.qcode AS BIGINT)))) AS h
       |  FROM c JOIN qc ON c.sub = qc.sub GROUP BY 1, 2),
       |dec AS (SELECT c.id, flatten(list(bk.centroid ORDER BY c.sub)) AS dv
       |  FROM c JOIN bk ON bk.sub = c.sub AND bk.code = c.code GROUP BY c.id),
       |d AS (SELECT ham.qid, ham.id,
       |  list_sum(list_transform(range(1, 65), i ->
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(dec.dv[i] AS DOUBLE)) *
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(dec.dv[i] AS DOUBLE)))) AS dist
       |  FROM ham JOIN q ON q.qid = ham.qid JOIN dec ON dec.id = ham.id
       |  WHERE ham.h <= 30)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** §2.3 IVFPQR (`Auncel/IndexIVFPQR.cpp`) — two-level-PQ refine:
    * ADC candidates reranked by the code-only two-level reconstruction
    * distance. Exact config (nprobe = nlist, kFactor·k ≥ N): the
    * candidate pool is the whole collection, so the result is the
    * deterministic top-k by reconstruction distance — which the oracle
    * replays in SQL from the persisted reconstruction side table. */
  def v19IvfpqrKnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.index.IVFPQ
    val b = base(s, dir)
    val (model, assigned) = graft.index.IndexCache.ivf(dir, b, nlist = 16)
    val pq = graft.index.IndexCache.pq(s"$dir|pqr_l1_m8", s,
      IVFPQ.trainResidualPQ(assigned, model, m = 8, nbits = 4, seed = 42L))
    val rpq = graft.index.IndexCache.pq(s"$dir|pqr_l2_m8", s,
      IVFPQ.trainRefinePQ(IVFPQ.encode(assigned, model, pq), model, pq,
        m = 8, nbits = 4, seed = 43L))
    val encR = graft.index.IndexCache.frame(s"$dir|pqr_encR",
      IVFPQ.encodeRefine(IVFPQ.encode(assigned, model, pq), model, pq, rpq))
    val oracleDir = odir(dir)
    encR.select(col("id"), col("list_no").cast("int"), col("code"), col("rcode"))
      .as[(Long, Int, Array[Byte], Array[Byte])]
      .map { case (id, l, c, rc) =>
        (id, IVFPQ.reconstruct2(model, pq, rpq, l, c, rc))
      }.toDF("id", "rvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v19_recon.parquet")
    // kFactor·k ≥ N at any sf (the v08 reasoning): the candidate pool
    // is the whole corpus, so ranking by two-level reconstruction
    // distance equals the oracle's full ranking
    val kFactor = math.max(50, math.ceil(b.count() / 10.0).toInt)
    IVFPQ.searchPQR(encR.drop("vec"), model, pq, rpq,
      qs(s, dir, "vec_id >= 32 AND vec_id < 40"), k = 10, nprobe = 16,
      kFactor = kFactor)
      .orderBy(col("qid"), col("rank"))
  }

  def v19Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 32 AND vec_id < 40),
       |r AS (SELECT id, rvec FROM read_parquet('$od/v19_recon.parquet/*.parquet')),
       |d AS (SELECT q.qid, r.id,
       |  list_sum(list_transform(range(1, 65), i ->
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(r.rvec[i] AS DOUBLE)) *
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(r.rvec[i] AS DOUBLE)))) AS dist
       |  FROM q CROSS JOIN r)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** O9/O20 — sharded search: split the collection into 2 shards, exact
    * top-k per shard, global merge — must equal single-index search. */
  def v10ShardedKnn(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    val q = qs(s, dir, "vec_id >= 32 AND vec_id < 40")
    val shard0 = FlatSearch.knn(b.filter(pmod(col("id"), lit(2)) === 0), q, k = 10)
    val shard1 = FlatSearch.knn(b.filter(pmod(col("id"), lit(2)) === 1), q, k = 10)
    FlatSearch.mergeTopK(
      shard0.drop("rank").unionByName(shard1.drop("rank")), k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  val v10Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 32 AND vec_id < 40),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** O1, inner-product metric: top-k by dot product (dist = −dot,
    * mirroring the CMax→CMin heap flip). */
  def v11IpKnn(s: SparkSession, dir: String): DataFrame =
    FlatSearch.knn(base(s, dir), qs(s, dir, "vec_id >= 40 AND vec_id < 48"),
      k = 10, metric = "ip")
      .orderBy(col("qid"), col("rank"))

  val v11Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 40 AND vec_id < 48),
       |d AS (SELECT q.qid, b.vec_id AS id, -$dotSqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** O16+O1 — delete-by-selector then search: remove label=3 rows via
    * anti-join, k-NN over the survivors (deleted ids must never
    * surface). */
  def v12DeleteSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Management
    val b = base(s, dir)
    val deleted = Management.removeIds(b, b.filter(col("label") === 3).select(col("id")))
    FlatSearch.knn(deleted, qs(s, dir, "vec_id >= 48 AND vec_id < 56"), k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  val v12Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 48 AND vec_id < 56),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b WHERE b.label <> 3)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** Trained traces are cached beside the IVF model — searches pay
    * trace lookup, not profile training (the reference likewise
    * persists index + profile between phases, `eval/bound.cpp:265-268`). */
  private def cachedTraces(s: SparkSession, dir: String, nlist: Int = 16)
      : (graft.index.IVFModel, DataFrame, Array[graft.profile.ErrorProfile.Trace]) = {
    import graft.profile.ProfileTrainer
    import graft.search.FlatSearch
    val b = base(s, dir)
    val (model, assigned) = graft.index.IndexCache.ivf(dir, b, nlist = nlist)
    val traces = graft.index.IndexCache.profileTraces(s"$dir|$nlist|l2|profile", s, {
      val trainQ = qs(s, dir, "vec_id >= 100 AND vec_id < 200")
      val gt = FlatSearch.knn(b, trainQ, k = 10)
      ProfileTrainer.train(assigned, model, trainQ, gt, maxTopk = 10, bs = 50)
    })
    (model, assigned, traces)
  }

  /** Auncel's flagship operator end-to-end: train the error profile on
    * the collection, then run bounded-error adaptive search
    * (required recall 0.9) on an nlist-16 index (2 trace levels),
    * through the driver-decided rounds. Output includes per-query
    * nprobe_used. The adaptive DECISION isn't SQL-replayable, but the
    * result given the decision is: the persisted per-query probe counts
    * drive a DuckDB decision-replay oracle (hash-exact); the bound
    * guarantee itself is asserted in BoundedSearchSpec. */
  def a01BoundedSearch(s: SparkSession, dir: String): DataFrame =
    boundedReplayRow(s, dir, "a01", nlist = 16, forceDistributed = false)

  /** The a01 / a05 / a07 body: bounded search (required recall 0.9,
    * k = 10, calibration (4, 1)) of queries `vec_id < 32` on an
    * nlist-`nlist` index, each result row tagged with its query's
    * decided probe count.
    *
    * Decision-replay oracle (`Auncel/eval/bound.cpp:391-414` per-query
    * search then global verify): the adaptive DECISION isn't SQL, but
    * the result GIVEN the decision provably is — rounds cover centroid
    * ranks 0..decidedStage and the finishing pass decidedStage..
    * nprobe_used, so the output ≡ exact top-k over each query's top
    * nprobe_used ranked lists. Persist (centroids, assignment,
    * per-query nprobe_used) and let DuckDB replay rank → scan → top-k. */
  private def boundedReplayRow(s: SparkSession, dir: String, tag: String,
      nlist: Int, forceDistributed: Boolean): DataFrame = {
    import graft.search.BoundedSearch
    val (model, assigned, traces) = cachedTraces(s, dir, nlist)
    val evalQ = qs(s, dir, "vec_id < 32").withColumn("required_recall", lit(0.9f))
    val res = BoundedSearch.search(assigned, model, traces, evalQ, k = 10,
      multiplier = 4.0f, stdM = 1.0f, forceDistributed = forceDistributed)
    val statsDF = s.createDataFrame(res.stats)
      .select(col("qid").as("s_qid"), col("nprobeUsed").as("nprobe_used"))
    writeProbeReplayTables(s, tag, dir, model, assigned,
      statsDF.select(col("s_qid").as("qid"), col("nprobe_used")))
    res.results.join(broadcast(statsDF), col("qid") === col("s_qid"))
      .select(col("qid"), col("id"), col("dist"), col("rank"), col("nprobe_used"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Shared writer for decision-replay oracles: the IVF geometry
    * ((list_no, centroid), (id, list_no)) plus each query's decided
    * probe count. Written once per JVM per (resolved oracle dir, tag):
    * the tables are a function of the cached index and its
    * deterministic decisions, so a row's timed passes after the first
    * write nothing. The memo lives in [[graft.index.IndexCache.obj]],
    * so `IndexCache.clear()` resets it with the indexes it describes. */
  private def writeProbeReplayTables(s: SparkSession, tag: String,
      dir: String, model: graft.index.IVFModel, assigned: DataFrame,
      stats: => DataFrame): Unit = {
    import s.implicits._
    val oracleDir = odir(dir)
    graft.index.IndexCache.obj(s"probeReplay|$oracleDir|$tag") {
      model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("list_no", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$oracleDir/${tag}_centroids.parquet")
      assigned.select(col("id"), col("list_no")).coalesce(1)
        .write.mode("overwrite").parquet(s"$oracleDir/${tag}_assign.parquet")
      stats.coalesce(1)
        .write.mode("overwrite").parquet(s"$oracleDir/${tag}_stats.parquet")
      oracleDir
    }
  }

  /** Probe-replay SQL: rank centroids exactly as rankCentroids does
    * (float-cast coarse L2, tie-break by list id), probe each query's
    * first `nprobe_used` lists, exact scan + top-k over those lists.
    * `extraCols` carries decision columns (e.g. nprobe_used) into the
    * output when the Spark result includes them. */
  private def probeReplaySql(tag: String, dir: String, qPred: String,
      k: Int, extraCols: String = ""): String = {
    val od = odir(dir)
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE $qPred),
       |st AS (SELECT qid, nprobe_used FROM read_parquet('$od/${tag}_stats.parquet/*.parquet')),
       |cent AS (SELECT list_no, centroid FROM read_parquet('$od/${tag}_centroids.parquet/*.parquet')),
       |cd AS (SELECT q.qid, c.list_no,
       |  CAST(list_sum(list_transform(range(1, 65), i ->
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)) *
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)))) AS FLOAT) AS cdist
       |  FROM q CROSS JOIN cent c),
       |probes AS (SELECT r.qid, r.list_no FROM (
       |  SELECT qid, list_no, row_number() OVER (PARTITION BY qid ORDER BY cdist, list_no) AS rn FROM cd) r
       |  JOIN st ON r.qid = st.qid WHERE r.rn <= st.nprobe_used),
       |asg AS (SELECT id, list_no FROM read_parquet('$od/${tag}_assign.parquet/*.parquet')),
       |cand AS (SELECT p.qid, a.id FROM probes p JOIN asg a ON p.list_no = a.list_no),
       |d AS (SELECT cand.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM cand JOIN q ON cand.qid = q.qid JOIN embeddings b ON b.vec_id = cand.id)
       |SELECT t.qid, t.id, t.dist, t.rank$extraCols FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d) t
       |${if (extraCols.nonEmpty) "JOIN st ON t.qid = st.qid " else ""}WHERE t.rank <= $k ORDER BY t.qid, t.rank""".stripMargin
  }

  def a01Sql(dir: String): String =
    probeReplaySql("a01", dir, "vec_id < 32", k = 10,
      extraCols = ", st.nprobe_used")

  /** Bounded search in an exact-by-construction configuration (the
    * `eval/bound.cpp:400-414` acceptance trick): multiplier = nlist, so
    * whatever stage a query decides at, it probes out to
    * stage × nlist ≥ nlist lists — full probe, provably exact → the
    * brute-force SQL oracle checks the ENTIRE adaptive machinery
    * (staged rounds, profile decisions, finishing pass, merge). */
  def a03BoundedExact(s: SparkSession, dir: String): DataFrame = {
    import graft.search.BoundedSearch
    val (model, assigned, traces) = cachedTraces(s, dir)
    val evalQ = qs(s, dir, "vec_id >= 64 AND vec_id < 72")
      .withColumn("required_recall", lit(0.9f))
    val res = BoundedSearch.search(assigned, model, traces, evalQ, k = 10,
      multiplier = 16.0f, stdM = 1.0f)
    res.results.orderBy(col("qid"), col("rank"))
  }

  val a03Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 64 AND vec_id < 72),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** Latency-bounded search with budgets ≥ nlist × per-probe cost —
    * every budget resolves to a full probe, provably exact → oracle
    * checks the budget→probe-count plumbing end-to-end. */
  def a04LatencyExact(s: SparkSession, dir: String): DataFrame = {
    import graft.search.BoundedSearch
    val (model, assigned) = graft.index.IndexCache.ivf(dir, base(s, dir), nlist = 16)
    val q = qs(s, dir, "vec_id >= 72 AND vec_id < 80")
      .withColumn("budget_ms", lit(40.0)) // 40·0.95/1.0 = 38 ≥ nlist
    val res = BoundedSearch.timeSearch(assigned, model, q, k = 10,
      costPerProbeMs = 1.0)
    res.results.orderBy(col("qid"), col("rank"))
  }

  val a04Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 72 AND vec_id < 80),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** a01's 32 queries over the same embeddings on an nlist-128 index
    * (5 trace levels, the deep-schedule shape): like a01 (2 levels), the
    * batch routes to the DRIVER-DECIDED ROUNDS (`searchStagedDriver`) —
    * one RDD job per adaptive round over the table's resident lists,
    * decisions on the driver — the
    * path every batch up to 131,072 queries takes; this row exercises
    * its deeper schedule. Same decision-replay oracle as a01 (both
    * control paths share `mergeKeep` and `decideStep`, and the replay is
    * exact given each query's decided probe count).
    * The row keeps its `a05_bounded_lazy` inventory key, which the
    * Bench pins and oracle history are keyed by.
    * Ref: `Auncel/IndexIVF.cpp:504-637`. */
  def a05BoundedStaged(s: SparkSession, dir: String): DataFrame =
    boundedReplayRow(s, dir, "a05", nlist = 128, forceDistributed = false)

  def a05Sql(dir: String): String =
    probeReplaySql("a05", dir, "vec_id < 32", k = 10,
      extraCols = ", st.nprobe_used")

  /** a01 routed through the FULLY-DISTRIBUTED cogroup path
    * (`forceDistributed = true`): query vectors, centroid rankings,
    * boundary windows and decision state all live in the `CtrlD`
    * Dataset, and probed-list scans are list_no-keyed cogroups with
    * hot-list salting — the >131k-query configuration, where the
    * driver holds NO per-query structure. Until this row the path was
    * covered only by specs and the ScaleDemo rehearsal; the same
    * decision-replay oracle as a01/a05 proves it driver-side (both
    * control paths share `mergeKeep`, `decideStep` and the ranking
    * geometry, so the replayed probe counts are identical by
    * construction).
    * Ref: `Auncel/IndexIVF.cpp:504-637`. */
  def a07BoundedDist(s: SparkSession, dir: String): DataFrame =
    boundedReplayRow(s, dir, "a07", nlist = 16, forceDistributed = true)

  def a07Sql(dir: String): String =
    probeReplaySql("a07", dir, "vec_id < 32", k = 10,
      extraCols = ", st.nprobe_used")

  /** Bounded search under the INNER-PRODUCT metric in the exact-by-
    * construction configuration (a03's trick, multiplier = nlist): the
    * subtlest reference path — queries L2-normalized, profile in
    * arccos/angle space (`Auncel/IndexIVF.cpp:101-110`,
    * `IVF_pro.cpp:208-211`, the TEXT dataset config) — driver-verified
    * against a brute-force IP oracle. Base vectors are normalized too
    * (IP ≡ cosine, the reference's TEXT setup), so the oracle
    * reproduces both normalizations in float then ranks by −dot. */
  def a06BoundedIpExact(s: SparkSession, dir: String): DataFrame = {
    import graft.search.{BoundedSearch, FlatSearch}
    import graft.profile.ProfileTrainer
    import graft.functions.Kernels
    val normU = udf { v: Seq[Float] => Kernels.l2Normalize(v.toArray) }
    val bNorm = base(s, dir).select(col("id"), normU(col("vec")).as("vec"))
    // RAW base into the index: `IVFIndex.assign` L2-normalizes on
    // ingest for "ip" — pre-normalizing here would normalize TWICE,
    // and renormalizing an already-normalized float vector can flip a
    // low bit (observed once in 80 rows at sf0.1), drifting the stored
    // vectors off the oracle's single-normalized space. bNorm is still
    // what the gt scan below needs.
    val (model, assigned) =
      graft.index.IndexCache.ivf(s"$dir|ipraw", base(s, dir), nlist = 16,
        metric = "ip")
    val traces = graft.index.IndexCache.profileTraces(s"$dir|ipraw|16|profile", s, {
      val trainQ = qs(s, dir, "vec_id >= 100 AND vec_id < 200")
      // gt over externally-normalized copies of the same queries — the
      // trainer normalizes its own staged scans internally, so both
      // sides of the (φ, U) points live in the same normalized space
      val gt = FlatSearch.knn(bNorm,
        trainQ.select(col("qid"), normU(col("vec")).as("vec")), k = 10,
        metric = "ip")
      ProfileTrainer.train(assigned, model, trainQ, gt, maxTopk = 10, bs = 50)
    })
    val evalQ = qs(s, dir, "vec_id >= 80 AND vec_id < 88")
      .withColumn("required_recall", lit(0.9f))
    val res = BoundedSearch.search(assigned, model, traces, evalQ, k = 10,
      multiplier = 16.0f, stdM = 1.0f)
    res.results.orderBy(col("qid"), col("rank"))
  }

  /** Brute-force IP oracle with both sides L2-normalized exactly as
    * [[graft.functions.Kernels.l2Normalize]] does it: norm accumulated
    * left-to-right in double, each component divided in double then
    * cast to float — bit-identical, so the hash compare holds. */
  val a06Sql: String = {
    val normFrag = (e: String) =>
      s"sqrt(list_sum(list_transform(range(1, 65), i -> " +
        s"CAST($e[i] AS DOUBLE) * CAST($e[i] AS DOUBLE))))"
    s"""WITH qr AS (SELECT vec_id AS qid, embedding AS e,
       |  ${normFrag("embedding")} AS nrm
       |  FROM embeddings WHERE vec_id >= 80 AND vec_id < 88),
       |q AS (SELECT qid,
       |  list_transform(e, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT)) AS qv
       |  FROM qr),
       |br AS (SELECT vec_id, embedding AS e,
       |  ${normFrag("embedding")} AS nrm FROM embeddings),
       |bn AS (SELECT vec_id,
       |  list_transform(e, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT)) AS embedding
       |  FROM br),
       |d AS (SELECT q.qid, b.vec_id AS id, -$dotSqlFrag AS dist
       |      FROM q CROSS JOIN bn b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** O3 over the IVF table at full probe — partition-pruned range scan,
    * provably equal to the flat range (brute-force SQL oracle). */
  def v13IvfRange(s: SparkSession, dir: String): DataFrame = {
    val (model, assigned) = graft.index.IndexCache.ivf(dir, base(s, dir), nlist = 16)
    IVFSearch.range(assigned, model, qs(s, dir, "vec_id >= 56 AND vec_id < 64"),
      radius = 1.5, nprobe = 16)
      .orderBy(col("qid"), col("id"))
  }

  val v13Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 56 AND vec_id < 64)
       |SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |FROM q CROSS JOIN embeddings b
       |WHERE $l2SqlFrag < 1.5
       |ORDER BY qid, id""".stripMargin

  /** §2.4 — partitioned HNSW k-NN over the built-once cached adjacency
    * (build ≡ write_index, search ≡ load + beam). efSearch far exceeds
    * the block size, so each block's beam is exhaustive and the result
    * provably exact → brute-force SQL oracle checks the whole graph
    * machinery (build determinism, persistence, descent, beam, merge).
    * Approximate operating points (efSearch ≈ 64) are asserted for
    * recall in HNSWSpec. */
  def v14HnswKnn(s: SparkSession, dir: String): DataFrame = {
    val graph = graft.index.IndexCache.hnsw(dir, base(s, dir), nParts = 8)
    graft.index.HNSW.searchGraph(graph, qs(s, dir, "vec_id < 8"),
      k = 10, efSearch = 1 << 20)
      .orderBy(col("qid"), col("rank"))
  }

  val v14Sql: String = v01Sql // same query set, k, metric — exact config

  /** O7 — latency-bounded search: per-query probe budgets derived from
    * a calibrated per-list cost (rows-only; deterministic proxy for the
    * reference's wall-clock cutoff). */
  def a02LatencySearch(s: SparkSession, dir: String): DataFrame = {
    import graft.search.BoundedSearch
    val (model, assigned) = graft.index.IndexCache.ivf(dir, base(s, dir), nlist = 16)
    val q = qs(s, dir, "vec_id < 16")
      .withColumn("budget_ms", (col("qid") % 4 + 1) * lit(2.0)) // 2..8 ms
    val res = BoundedSearch.timeSearch(assigned, model, q, k = 10,
      costPerProbeMs = 1.0)
    // Decision-replay oracle: the budget→probe-count mapping is the
    // decision; given each query's nprobe_used the result is exactly
    // top-k over its top-ranked lists (same replay as a01).
    val statsDF = s.createDataFrame(res.stats)
      .select(col("qid"), col("nprobeUsed").as("nprobe_used"))
    writeProbeReplayTables(s, "a02", dir, model, assigned, statsDF)
    res.results.orderBy(col("qid"), col("rank"))
  }

  def a02Sql(dir: String): String =
    probeReplaySql("a02", dir, "vec_id < 16", k = 10)

  /** §2.5 IMI coarse quantizer (`MultiIndexQuantizer`,
    * `Auncel/IndexPQ.cpp:868-937`) at full probe: nlist = 2^(2·3) = 64
    * lists from two 8-centroid sub-quantizers; probing all of them makes
    * the search provably exact (brute-force oracle), while the probe
    * ranking, composite-label partitioning, and per-list scans are the
    * same machinery an approximate IMI run uses. */
  def v20ImiKnn(s: SparkSession, dir: String): DataFrame = {
    val (model, assigned) = graft.index.IndexCache.imi(dir, base(s, dir), nbits = 3)
    IVFSearch.search(assigned, model, qs(s, dir, "vec_id >= 88 AND vec_id < 96"),
      k = 10, nprobe = model.nlist)
      .orderBy(col("qid"), col("rank"))
  }

  val v20Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 88 AND vec_id < 96),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** §2.1 IndexIVFFlatDedup (`Auncel/IndexIVFFlat.cpp:233-410`): the
    * corpus plants an identical twin at vec_id+1000000 for every
    * vec_id % 7 == 0 row; the index stores each distinct vector once
    * (unique count == base count) and search expands duplicates at the
    * same distance. Full probe + the min-id representative invariant
    * make unique-top-k → expand provably equal to flat top-k over the
    * duplicated corpus (proof at [[graft.index.IVFDedup.search]]), so
    * the oracle is brute force over the same UNION ALL construction.
    * The coarse model is v05's cached one — FlatDedup trains on the
    * deduplicated set, which IS the base table here. */
  def v21IvfDedup(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    val (model, _) = graft.index.IndexCache.ivf(dir, b, nlist = 16)
    val corpus = b.select(col("id"), col("vec")).unionByName(
      b.filter(col("id") % 7 === 0)
        .select((col("id") + 1000000L).as("id"), col("vec")))
    val built = graft.index.IVFDedup.build(corpus, model)
    val idx = graft.index.IVFDedup.DedupIndex(
      graft.index.IndexCache.frame(s"$dir|dedup_unique", built.unique),
      graft.index.IndexCache.frame(s"$dir|dedup_inst", built.instances))
    graft.index.IVFDedup.search(idx, model,
      qs(s, dir, "vec_id >= 96 AND vec_id < 104"), k = 10, nprobe = 16)
      .orderBy(col("qid"), col("rank"))
  }

  val v21Sql: String =
    s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
       |           UNION ALL
       |           SELECT vec_id + 1000000, embedding FROM embeddings
       |           WHERE vec_id % 7 = 0),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id >= 96 AND vec_id < 104),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN c b)
       |SELECT qid, id, dist, rank FROM (
       |  SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** §2.3 — IVF spectral-hash encode (`Auncel/IndexIVFSpectralHash.h:
    * 30-75`, `binarize_with_freq`): d→nbit orthonormal rotation,
    * per-(list, bit) MEDIAN thresholds (trained distributedly via exact
    * percentile), interval-parity bits packed into a 48-bit word. The
    * oracle replays transform → threshold → parity in SQL over the
    * persisted rotation/threshold/assignment side tables (the v18
    * codebook playbook). period = 1 makes the interval frequency
    * exactly 2.0, so the float→double boundary math is engine-portable;
    * the float casts in the SQL reproduce the kernel's exact rounding
    * points (double dot → float transform → float threshold subtract). */
  def v22SpectralHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.index.SpectralHash
    val (model, assigned) = graft.index.IndexCache.ivf(dir, base(s, dir), nlist = 16)
    val sh = graft.index.IndexCache.obj(s"$dir|sh48_median") {
      val m = SpectralHash.train(assigned, model, nbit = 48, period = 1.0f,
        mode = "median", seed = 7L)
      // side tables are part of the trained artifact — write them once
      val oracleDir = odir(dir)
      m.rot.zipWithIndex.map { case (r, b) => (b, r) }.toSeq.toDF("bit", "rvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v22_rot.parquet")
      (for { l <- 0 until model.nlist; b <- 0 until m.nbit }
        yield (l, b, m.trained(l)(b)))
        .toDF("list_no", "bit", "m")
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/v22_th.parquet")
      assigned.select(col("id"), col("list_no")).coalesce(1)
        .write.mode("overwrite").parquet(s"$oracleDir/v22_asg.parquet")
      m
    }
    SpectralHash.encode(assigned, sh)
      .select(col("id"), col("list_no").cast("int").as("list_no"),
        element_at(col("sig"), 1).as("sig"))
      .orderBy(col("id"))
  }

  def v22Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH rot AS (SELECT bit, rvec FROM read_parquet('$od/v22_rot.parquet/*.parquet')),
       |th AS (SELECT list_no, bit, m FROM read_parquet('$od/v22_th.parquet/*.parquet')),
       |asg AS (SELECT id, list_no FROM read_parquet('$od/v22_asg.parquet/*.parquet')),
       |bv AS (SELECT asg.id, asg.list_no, e.embedding
       |  FROM asg JOIN embeddings e ON e.vec_id = asg.id),
       |xt AS (SELECT bv.id, bv.list_no, rot.bit,
       |  CAST(list_sum(list_transform(range(1, 65), i ->
       |    CAST(rot.rvec[i] AS DOUBLE) * CAST(bv.embedding[i] AS DOUBLE))) AS FLOAT) AS x
       |  FROM bv CROSS JOIN rot),
       |bits AS (SELECT xt.id, xt.list_no, xt.bit,
       |  CAST(floor(CAST(CAST(xt.x - th.m AS FLOAT) AS DOUBLE) * 2.0) AS BIGINT)
       |    & CAST(1 AS BIGINT) AS v
       |  FROM xt JOIN th ON th.list_no = xt.list_no AND th.bit = xt.bit)
       |SELECT id, CAST(list_no AS INT) AS list_no,
       |  CAST(SUM(CASE WHEN v = 1 THEN (CAST(1 AS BIGINT) << bit)
       |    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
       |FROM bits GROUP BY id, list_no ORDER BY id""".stripMargin
  }

  /** O22 + O17 — external-id remapping (`IndexIDMap`,
    * `MetaIndexes.h`) composed with reconstruction
    * (`IndexIVF::reconstruct`): k-NN results remap through a mapping
    * table, then each hit's vector is reconstructed through the
    * inverse map (first coordinate scalarized for the compare). */
  def v23RemapReconstruct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Management
    val b = base(s, dir)
    val res = FlatSearch.knn(b, qs(s, dir, "vec_id < 8"), k = 5)
    val mapping = b.select(col("id"), (col("id") * 131 + 7).as("ext_id"))
    val vecs = b.select((col("id") * 131 + 7).as("id"),
      element_at(col("vec"), 1).as("d1"))
    Management.idMap(res, mapping).join(vecs, Seq("id"))
      .select(col("qid"), col("id"), col("dist"), col("rank"), col("d1"))
      .orderBy(col("qid"), col("rank"))
  }

  val v23Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |d AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM q CROSS JOIN embeddings b),
       |r AS (SELECT qid, id, dist,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
       |SELECT r.qid, r.id * 131 + 7 AS id, r.dist, r.rank,
       |  CAST(e.embedding[1] AS FLOAT) AS d1
       |FROM r JOIN embeddings e ON e.vec_id = r.id
       |WHERE r.rank <= 5 ORDER BY qid, rank""".stripMargin

  /** O19 — sliding-window retention (`SlidingIndexWindow`,
    * `IVFlib.h:83-106`): ingest batches keyed by id, window keeps the
    * last w=3 of 8 — partition pruning does the drop when the table is
    * partitioned by batch_id. */
  def v24SlidingWindow(s: SparkSession, dir: String): DataFrame = {
    val batched = base(s, dir).withColumn("batch_id", pmod(col("id"), lit(8)))
    graft.operators.Management.slidingWindow(batched, currentBatch = 7, w = 3)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))
      .orderBy(col("batch_id"))
  }

  val v24Sql: String =
    """SELECT vec_id % 8 AS batch_id, COUNT(*) AS n,
      |  CAST(SUM(vec_id) AS BIGINT) AS sum_id
      |FROM embeddings WHERE (vec_id % 8) > 4
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** O18 — copy_subset_to selectors (id range, id mod —
    * `IndexIVF.cpp:1055-1113`) merged with `merge_from`'s add_id
    * offsetting. */
  def v25MergeSubset(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Management._
    val b = base(s, dir).select(col("id"), element_at(col("vec"), 1).as("d1"))
    mergeFrom(copySubsetIdRange(b, 0, 250), copySubsetIdMod(b, 4, 1),
      addId = 1000000L).orderBy(col("id"), col("d1"))
  }

  val v25Sql: String =
    """SELECT vec_id AS id, CAST(embedding[1] AS FLOAT) AS d1
      |FROM embeddings WHERE vec_id >= 0 AND vec_id < 250
      |UNION ALL
      |SELECT vec_id + 1000000 AS id, CAST(embedding[1] AS FLOAT) AS d1
      |FROM embeddings WHERE vec_id % 4 = 1
      |ORDER BY id, d1""".stripMargin

  /** O21 — replicated-search router (`IndexReplicas.h:21-74`): each
    * replica handles the round-robin 1/n slice of the query batch. */
  def v26ReplicaRoute(s: SparkSession, dir: String): DataFrame = {
    val parts = graft.operators.Management.routeReplicas(
      qs(s, dir, "vec_id < 32"), 3)
    parts.zipWithIndex.map { case (p, r) =>
      p.agg(count(lit(1)).as("n"), min(col("qid")).as("min_qid"),
          max(col("qid")).as("max_qid"))
        .withColumn("replica", lit(r))
    }.reduce(_ unionByName _)
      .select(col("replica"), col("n"), col("min_qid"), col("max_qid"))
      .orderBy(col("replica"))
  }

  val v26Sql: String =
    """SELECT CAST(vec_id % 3 AS INT) AS replica, COUNT(*) AS n,
      |  MIN(vec_id) AS min_qid, MAX(vec_id) AS max_qid
      |FROM embeddings WHERE vec_id < 32
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** O23 — vertical split across sub-dimensions (`IndexSplitVectors`,
    * `MetaIndexes.h`): d=64 vectors slice into 4×16 blocks; per-block
    * left-to-right double sums scalarize each block for the compare. */
  def v27SplitDims(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir).filter(col("id") < 8).select(col("id"), col("vec"))
    graft.operators.Management.splitDims(b, blocks = 4).zipWithIndex
      .map { case (df, blk) =>
        df.select(col("id"), lit(blk).as("block"),
          expr("aggregate(vec, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))")
            .as("bsum"))
      }.reduce(_ unionByName _)
      .orderBy(col("id"), col("block"))
  }

  val v27Sql: String = (0 until 4).map { blk =>
    s"""SELECT vec_id AS id, $blk AS block,
       |  list_sum(list_transform(range(${blk * 16 + 1}, ${blk * 16 + 17}), i ->
       |    CAST(embedding[i] AS DOUBLE))) AS bsum
       |FROM embeddings WHERE vec_id < 8""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY id, block")

  /** O13 — recall@k of a fixed-nprobe IVF search vs the exact scan
    * (`Auncel/profile.cpp:246-280`): both sides replayed in SQL — the
    * probe side through the persisted centroid/assignment tables
    * (v06 playbook), the exact side brute-force. */
  def v28RecallMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.search.IVFSearch
    val b = base(s, dir)
    val (model, assigned) = graft.index.IndexCache.ivf(dir, b, nlist = 16)
    val q = qs(s, dir, "vec_id < 16")
    val res = IVFSearch.search(assigned, model, q, k = 10, nprobe = 4)
    val gt = FlatSearch.knn(b, q, k = 10)
    writeProbeReplayTables(s, "v28", dir, model, assigned,
      (0L until 16L).map((_, 4)).toDF("qid", "nprobe_used"))
    graft.operators.Management.recallAtK(res, gt, k = 10)
      .orderBy(col("qid"))
  }

  def v28Sql(dir: String): String =
    s"""WITH pr AS (${probeReplaySql("v28", dir, "vec_id < 16", k = 10)}),
       |gtd AS (SELECT q.qid, b.vec_id AS id, $l2SqlFrag AS dist
       |  FROM (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 16) q
       |  CROSS JOIN embeddings b),
       |gt AS (SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank
       |  FROM gtd) WHERE rank <= 10)
       |SELECT pr.qid,
       |  CAST(SUM(CASE WHEN gt.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10.0 AS recall
       |FROM pr LEFT JOIN gt ON pr.qid = gt.qid AND pr.id = gt.id
       |GROUP BY pr.qid ORDER BY pr.qid""".stripMargin

  /** O14 — the reference's 12 committed calibration rows
    * (`Auncel/hyperparameter.txt:1-12` via `setparam`,
    * `IVF_pro.cpp:240-256`), driver-pinned against a VALUES oracle. */
  def v29Calibration(s: SparkSession, dir: String): DataFrame =
    graft.profile.Calibration.toDF(s)
      .select(col("figureId").as("figure_id"), col("multiplier"),
        col("stdM").as("std_m"))
      .orderBy(col("figure_id"))

  val v29Sql: String = {
    val rows = graft.profile.Calibration.reference.map { e =>
      s"(${e.figureId}, CAST(${e.multiplier} AS FLOAT), CAST(${e.stdM} AS FLOAT))"
    }.mkString(", ")
    s"""SELECT * FROM (VALUES $rows) t(figure_id, multiplier, std_m)
       |ORDER BY figure_id""".stripMargin
  }

  /** O11 — condensed upper-triangular inter-centroid matrix
    * (`fvec_inter_vecs`, `Auncel/IVF_pro.cpp:21-39`): every (i<j) pair
    * with the reference's `(2n−1−i)i/2 + j−1−i` indexing; the oracle
    * recomputes pairwise float L2 from the persisted centroids and the
    * index arithmetic in SQL. */
  def v30Interdis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (model, _) = graft.index.IndexCache.ivf(dir, base(s, dir), nlist = 16)
    model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("list_no", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"${odir(dir)}/v30_centroids.parquet")
    val n = model.nlist
    (for { i <- 0 until n; j <- i + 1 until n } yield {
      val idx = (2 * n - 1 - i) * i / 2 + j - 1 - i
      (i, j, idx, model.interdis(idx))
    }).toDF("i", "j", "idx", "dist").orderBy(col("idx"))
  }

  def v30Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH c AS (SELECT list_no, centroid
       |  FROM read_parquet('$od/v30_centroids.parquet/*.parquet')),
       |p AS (SELECT a.list_no AS i, b.list_no AS j,
       |  CAST(list_sum(list_transform(range(1, 65), k ->
       |    (CAST(a.centroid[k] AS DOUBLE) - CAST(b.centroid[k] AS DOUBLE)) *
       |    (CAST(a.centroid[k] AS DOUBLE) - CAST(b.centroid[k] AS DOUBLE)))) AS FLOAT) AS dist
       |  FROM c a JOIN c b ON a.list_no < b.list_no)
       |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       |  CAST((2 * 16 - 1 - i) * i // 2 + j - 1 - i AS INT) AS idx, dist
       |FROM p ORDER BY idx""".stripMargin
  }

  /** O12 — the error-profile trainer's staged-capture scan
    * (`Auncel/IndexIVF.cpp:640-673`): per (query, power-of-2 probe
    * stage) the partial top-k distance list, computed in ONE pass over
    * the probed lists. nlist=64 → 4 stages (nprobe 1/2/4/8 = nlist/8).
    * The oracle replays the whole capture in SQL from persisted
    * centroid/assignment side tables: rank lists per query (float
    * coarse L2, list-id tie-break — the a01 playbook), derive each
    * rank's first-probed stage j0 = ceil(log2(rank)), then per stage
    * the exact top-k over rows in lists with j0 ≤ stage. The scalar
    * (φ,U)/sort-and-batch tail of O12 is covered by ErrorProfileSpec
    * and exercised inside every a01/a05/a07 decision replay. */
  def v31StagedCapture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.profile.ProfileTrainer
    val b = base(s, dir)
    val (model, assigned) = graft.index.IndexCache.ivf(s"$dir|sc64", b, nlist = 64)
    val trainQ = qs(s, dir, "vec_id >= 100 AND vec_id < 132")
    val oracleDir = odir(dir)
    model.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("list_no", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$oracleDir/v31_centroids.parquet")
    assigned.select(col("id"), col("list_no")).coalesce(1)
      .write.mode("overwrite").parquet(s"$oracleDir/v31_assign.parquet")
    ProfileTrainer.stagedTopK(assigned, model, trainQ, maxTopk = 10)
      .select(col("qid"), col("stage"),
        posexplode(col("dists")).as(Seq("pos", "dist")))
      .select(col("qid"), col("stage"), (col("pos") + 1).as("rank"), col("dist"))
      .orderBy(col("qid"), col("stage"), col("rank"))
  }

  def v31Sql(dir: String): String = {
    val od = odir(dir)
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id >= 100 AND vec_id < 132),
       |cent AS (SELECT list_no, centroid
       |  FROM read_parquet('$od/v31_centroids.parquet/*.parquet')),
       |cd AS (SELECT q.qid, c.list_no,
       |  CAST(list_sum(list_transform(range(1, 65), i ->
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)) *
       |    (CAST(q.qv[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)))) AS FLOAT) AS cdist
       |  FROM q CROSS JOIN cent c),
       |ranked AS (SELECT qid, list_no,
       |  row_number() OVER (PARTITION BY qid ORDER BY cdist, list_no) AS rn FROM cd),
       |probes AS (SELECT qid, list_no,
       |  CASE WHEN rn = 1 THEN 0 WHEN rn <= 2 THEN 1 WHEN rn <= 4 THEN 2 ELSE 3 END AS j0
       |  FROM ranked WHERE rn <= 8),
       |asg AS (SELECT id, list_no FROM read_parquet('$od/v31_assign.parquet/*.parquet')),
       |cand AS (SELECT p.qid, p.j0, a.id FROM probes p JOIN asg a ON p.list_no = a.list_no),
       |d AS (SELECT cand.qid, cand.j0, b.vec_id AS id, $l2SqlFrag AS dist
       |      FROM cand JOIN q ON cand.qid = q.qid JOIN embeddings b ON b.vec_id = cand.id),
       |st AS (SELECT d.qid, d.id, d.dist, CAST(s.stage AS INT) AS stage
       |       FROM d JOIN (SELECT unnest(range(0, 4)) AS stage) s ON s.stage >= d.j0)
       |SELECT qid, stage, rank, dist FROM (
       |  SELECT qid, stage, dist,
       |    row_number() OVER (PARTITION BY qid, stage ORDER BY dist, id) AS rank
       |  FROM st) t
       |WHERE rank <= 10 ORDER BY qid, stage, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a01_bounded_search" -> a01BoundedSearch _,
    "a02_latency_search" -> a02LatencySearch _,
    "a03_bounded_exact" -> a03BoundedExact _,
    "a04_latency_exact" -> a04LatencyExact _,
    "a05_bounded_lazy" -> a05BoundedStaged _,
    "a06_bounded_ip_exact" -> a06BoundedIpExact _,
    "a07_bounded_dist" -> a07BoundedDist _,
    "v13_ivf_range" -> v13IvfRange _,
    "v14_hnsw_knn" -> v14HnswKnn _,
    "v08_ivfpq_refine" -> v08IvfpqRefine _,
    "v11_ip_knn" -> v11IpKnn _,
    "v12_delete_search" -> v12DeleteSearch _,
    "v09_sq8_error" -> v09Sq8Error _,
    "v10_sharded_knn" -> v10ShardedKnn _,
    "v01_knn_flat" -> v01KnnFlat _,
    "s05_stream_knn" -> s05StreamKnn _,
    "v02_knn_subset" -> v02KnnSubset _,
    "v03_range_search" -> v03Range _,
    "v04_cosine_topk" -> v04CosineTopK _,
    "v05_ivf_exact" -> v05IvfExact _,
    "v06_ivf_probe" -> v06IvfProbe _,
    "v07_neardup_pairs" -> v07NearDupPairs _,
    "v15_neardup_lsh" -> v15NeardupLsh _,
    "v32_semantic_dedup" -> v32SemanticDedup _,
    "v16_scalar_codecs" -> v16ScalarCodecs _,
    "v17_hamming_wide" -> v17HammingWide _,
    "v18_polysemous" -> v18Polysemous _,
    "v19_ivfpqr" -> v19IvfpqrKnn _,
    "v20_imi_knn" -> v20ImiKnn _,
    "v21_ivf_dedup" -> v21IvfDedup _,
    "v22_spectral_hash" -> v22SpectralHash _,
    "v23_remap_reconstruct" -> v23RemapReconstruct _,
    "v24_sliding_window" -> v24SlidingWindow _,
    "v25_merge_subset" -> v25MergeSubset _,
    "v26_replica_route" -> v26ReplicaRoute _,
    "v27_split_dims" -> v27SplitDims _,
    "v28_recall_metrics" -> v28RecallMetrics _,
    "v29_calibration" -> v29Calibration _,
    "v30_interdis" -> v30Interdis _,
    "v31_staged_capture" -> v31StagedCapture _)

  /** Side-table oracles (a01/a02/v06/v17/v18/v19) read
    * <base>/graft_oracle/<basename(dir)>_<fullPathHash> ([[odir]]; base is
    * the parent of the model root, /tmp by default) — derived from the
    * SAME dir the query ran with, so verifying at any scale factor (or
    * either of two dirs sharing a leaf name) reads that run's tables,
    * never a stale copy. */
  def oracles(dir: String): Map[String, String] = Map(
    "a01_bounded_search" -> a01Sql(dir),
    "a02_latency_search" -> a02Sql(dir),
    "a03_bounded_exact" -> a03Sql,
    "a04_latency_exact" -> a04Sql,
    "a05_bounded_lazy" -> a05Sql(dir),
    "a06_bounded_ip_exact" -> a06Sql,
    "a07_bounded_dist" -> a07Sql(dir),
    "v06_ivf_probe" -> v06Sql(dir),
    "v14_hnsw_knn" -> v14Sql,
    "v08_ivfpq_refine" -> v08Sql,
    "v13_ivf_range" -> v13Sql,
    "v11_ip_knn" -> v11Sql,
    "v12_delete_search" -> v12Sql,
    "v09_sq8_error" -> v09Sql,
    "v10_sharded_knn" -> v10Sql,
    "v01_knn_flat" -> v01Sql,
    "s05_stream_knn" -> s05Sql,
    "v02_knn_subset" -> v02Sql,
    "v03_range_search" -> v03Sql,
    "v04_cosine_topk" -> v04Sql,
    "v05_ivf_exact" -> v05Sql,
    "v07_neardup_pairs" -> v07Sql,
    "v15_neardup_lsh" -> v15Sql,
    "v32_semantic_dedup" -> v32Sql(dir),
    "v16_scalar_codecs" -> v16Sql,
    "v17_hamming_wide" -> v17Sql(dir),
    "v18_polysemous" -> v18Sql(dir),
    "v19_ivfpqr" -> v19Sql(dir),
    "v20_imi_knn" -> v20Sql,
    "v21_ivf_dedup" -> v21Sql,
    "v22_spectral_hash" -> v22Sql(dir),
    "v23_remap_reconstruct" -> v23Sql,
    "v24_sliding_window" -> v24Sql,
    "v25_merge_subset" -> v25Sql,
    "v26_replica_route" -> v26Sql,
    "v27_split_dims" -> v27Sql,
    "v28_recall_metrics" -> v28Sql(dir),
    "v29_calibration" -> v29Sql,
    "v30_interdis" -> v30Sql(dir),
    "v31_staged_capture" -> v31Sql(dir))
}
