package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Kernels, VectorFunctions}
import graft.index.BinaryHash
import graft.operators.TopK

/** Embedding-cosine near-duplicate detection, three regimes:
  *
  *  - [[exactPairs]]: all-pairs cosine ≥ threshold as one declarative
  *    join — the small-data / verification-oracle form;
  *  - [[exactPairTopK]]: exact top-k pairs via block-partitioned pair
  *    enumeration — rows are bucketed into B blocks, each of the
  *    B(B+1)/2 block-pairs is one bounded task holding exactly two
  *    blocks; no driver collect and no full-collection broadcast, so
  *    the O(N²) compute is spread over tasks with O(N/B·d) memory
  *    each (the classic distributed all-pairs layout);
  *  - [[lshPairs]]: the 100 TB thresholded path — random-hyperplane
  *    signatures, banded equi-join for candidates (near-identical
  *    vectors agree on most sign bits → share a band), exact cosine
  *    only on candidate id pairs. Cost: O(N·bands) + O(candidates),
  *    never O(N²).
  */
object EmbeddingDedup {

  def exactPairs(df: DataFrame, threshold: Double): DataFrame = {
    val a = df.select(col("id").as("a"), col("vec").as("va"))
    val b = df.select(col("id").as("b"), col("vec").as("vb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Semantic near-dup via coarse-cluster bucketing — the SemDeDup
    * shape (Abbas et al. 2023: k-means the embeddings, look for
    * duplicates only WITHIN a cluster): pairs sharing a trained IVF
    * list with exact cosine ≥ threshold. `assigned` is an
    * IVFIndex.assign output (`id`, `vec`, `list_no`).
    *
    * Scale shape: the pair enumeration is an equi-join on `list_no` —
    * per-cluster quadratic work sharded across executors, never
    * corpus-quadratic, with task cost bounded by the largest list
    * exactly as IVF probe cost is. A corpus that is already
    * IVF-indexed for ANN gets semantic dedup from its existing layout
    * for one within-list join — no signatures, no extra passes
    * (contrast [[lshPairs]], which buckets by sign-bit bands and
    * needs no trained model). Near-identical vectors assign to the
    * same list (assignment is a deterministic argmin over centroid
    * distances), so recall on true duplicates is governed by the
    * clustering only at the threshold margin.
    *
    * '''Oversized-list guard''' (`maxList`): k-means skew is real — a
    * 2M-row rehearsal measured max list 10.5× the mean, putting ~212M
    * pair cosines in ONE task; at 100 TB a degenerate semantic cluster
    * (boilerplate docs with near-identical, not bit-equal, embeddings)
    * makes that task quadratic in the cluster size. Lists larger than
    * `maxList` therefore do NOT take the all-pairs join: they are
    * recursively SUB-CLUSTERED — a spherical (cosine-metric) k-means
    * trained on a sample of the oversized rows refines each oversized
    * bucket into cells, up to `maxLevels` rounds, until every cell is
    * ≤ `maxList`; the all-pairs join then runs per CELL, so per-task
    * pair work is bounded by `maxList²/2` regardless of list skew.
    * This is hierarchical SemDeDup: refinement can only narrow a
    * bucket, so output pairs still share their original list, and the
    * recall semantics are the operator's own — near-dup pairs can
    * split only at cell margins, exactly as the top-level clustering
    * already allows at list margins. Sign-bit LSH banding was tried
    * and measured first: a DENSE list (the only kind that gets
    * oversized) shares most sign bits, so bands barely split it —
    * ~100M candidates and 2.6× the unguarded wall-clock at 2M;
    * sub-k-means splits by the same geometry that made the list and
    * costs a sample-sized train per level.
    *
    * Guarantees when the guard is active:
    *  - identical AND positively-scaled vectors co-assign at every
    *    level (spherical assignment is an argmax of `dot(v, c)` over
    *    unit centroids — scale-invariant in `v`, deterministic
    *    tie-break), so true twins keep recall 1.0 through any number
    *    of refinement rounds, whatever centroids the trainer finds;
    *  - cells still oversized after `maxLevels` rounds are DROPPED
    *    from pair enumeration with a logged count — except their
    *    bit-identical groups, which an `xxhash64(vec)`-keyed
    *    exact-dup pass still pairs (star-shaped: min-id
    *    representative → each duplicate, literal cos 1.0 — NaN-safe
    *    for all-zero vectors), so a dead embedding
    *    repeated 10⁵ times can neither blow up a task nor escape
    *    dedup.
    * When the guard is inactive (no list exceeds `maxList`, e.g.
    * every in-repo verify run) output is the EXACT within-list
    * enumeration, unchanged. Output ids are normalized to LONG on
    * BOTH paths, so the schema is stable across runs whatever the
    * data skew (a guard that flips types with skew would break
    * downstream joins/writers). The output is a subset of [[exactPairs]] under ANY
    * assignment either way (both paths end in the same exact-cosine
    * filter; property-pinned in DedupSpec — refinement cell keys are
    * `xxhash64(parent, sub)`, so a 2⁻⁶⁴ key collision can merge two
    * cells, which only ADDS candidates that must still pass the
    * exact filter). */
  def ivfPairs(assigned: DataFrame, threshold: Double,
               maxList: Int = 8192, maxLevels: Int = 4): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    // per-list sizes are INDEX METADATA, not a per-call audit: frames
    // assigned through IndexCache.ivf read the `_list_sizes` sidecar
    // the build persisted beside the centroids (zero jobs); ad-hoc
    // frames pay one groupBy job on first call per session (memoized
    // by plan). Staleness follows the standing IndexCache contract —
    // data rewritten in place under a live plan needs invalidate() —
    // and it matters here: an under-reading can leave the guard
    // inactive and send a skewed list into a quadratic task, so a
    // rewrite-without-invalidate voids the blowup protection. (The
    // sidecar itself is atomic-rename-written and trailer-verified, so
    // a torn FILE falls back to a fresh count.)
    val oversized: Array[(Long, Long)] =
      graft.index.IndexCache.listSizes(assigned)
        .iterator.filter(_._2 > maxList).toArray
    if (oversized.isEmpty)
      allPairsWithinLists(assigned, threshold)
        .select(col("a").cast("long"), col("b").cast("long"), col("cos"))
    else {
      log.warn(s"ivfPairs: ${oversized.length} oversized lists " +
        s"(sizes max ${oversized.map(_._2).max}, total " +
        s"${oversized.map(_._2).sum} rows, maxList=$maxList) take the " +
        "sub-k-means refinement; identical/scaled twins keep recall 1.0 " +
        "by scale-invariant spherical assignment")
      val keys = broadcast(oversized.map(_._1).toSeq.toDF("list_no"))
      val normal = assigned.join(keys, Seq("list_no"), "left_anti")
      val big = assigned.join(keys, Seq("list_no"), "left_semi")
      allPairsWithinLists(normal, threshold)
        .select(col("a").cast("long"), col("b").cast("long"), col("cos"))
        .unionByName(subSplitPairs(big, threshold, maxList, maxLevels))
    }
  }

  /** The unguarded within-list enumeration: one equi-join on `list_no`,
    * per-list quadratic, exact cosine. */
  private def allPairsWithinLists(assigned: DataFrame,
                                  threshold: Double): DataFrame = {
    val a = assigned.select(col("list_no"), col("id").as("a"), col("vec").as("va"))
    val b = assigned.select(col("list_no"), col("id").as("b"), col("vec").as("vb"))
    a.join(b, Seq("list_no"))
      .filter(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Oversized-list tail of [[ivfPairs]]: per-level spherical
    * sub-k-means refinement of oversized buckets until every cell is
    * ≤ `maxList`, then the same within-cell all-pairs join the normal
    * path uses. Cells still oversized after `maxLevels` rounds are
    * dropped-and-logged, minus their bit-identical groups: exact-dup
    * star pairs emitted with a LITERAL cos of 1.0, exactly as
    * [[exactDupPairs]] does — the candidates are already bit-exact
    * verified in-bucket, and routing them through [[rerank]]'s
    * dot/(‖a‖·‖b‖) would NaN-drop every pair of a duplicated
    * all-zero ("dead") embedding, breaking the cannot-escape-dedup
    * guarantee for exactly the degenerate rows it exists for.
    *
    * Driver-memory bound: the per-level oversized-cell key collect
    * holds at most `nlist` keys at level 0 and
    * `totalOverRows / maxList` keys per deeper level (a cell must
    * exceed `maxList` rows to appear) — small in any realistic run —
    * and is CAPPED regardless: when a level discovers more than
    * [[subSplitCollectCap]] oversized cells, the keys never come to
    * the driver at all; the level's anti/semi splits run as shuffle
    * joins against the aggregated key frame instead of a collected
    * broadcast (identical output, pinned in DedupSpec). Identical-
    * vector degeneracy never reaches either path's limit — identical
    * rows co-assign to ONE cell and the drop arm absorbs them. */
  private def subSplitPairs(big: DataFrame, threshold: Double,
                            maxList: Int, maxLevels: Int): DataFrame = {
    val spark = big.sparkSession
    import spark.implicits._
    var rest = big.select(col("list_no").cast("long").as("bucket"),
      col("id").cast("long"), col("vec"))
    var ready = List.empty[DataFrame]
    var dropped: Option[DataFrame] = None
    var level = 0
    var done = false
    while (!done) {
      val sizeAgg = rest.groupBy(col("bucket"))
        .agg(count(lit(1)).as("bsize"))
        .filter(col("bsize") > maxList)
      // one job either way: limit(cap+1) returns the FULL set iff it is
      // ≤ cap (the common case — broadcast path, exactly as before);
      // an overflowing set switches this level to the join fallback
      val head: Array[(Long, Long)] = sizeAgg
        .as[(Long, Long)].limit(subSplitCollectCap + 1).collect()
      if (head.isEmpty) {
        ready ::= rest
        done = true
      } else {
        val (overKeys, nOver, totalOver, maxCell) =
          if (head.length <= subSplitCollectCap)
            (broadcast(head.map(_._1).toSeq.toDF("bucket")),
              head.length.toLong, head.map(_._2).sum, head.map(_._2).max)
          else {
            // key set too large to collect: materialize the aggregate
            // once (reused by the stats job + both splits) and join
            val agg = checkpointed(sizeAgg)
            val st = agg.agg(count(lit(1)), sum(col("bsize")),
              max(col("bsize"))).as[(Long, Long, Long)].collect()(0)
            log.warn(s"ivfPairs sub-split level $level: ${st._1} oversized" +
              s" cells exceed the driver collect cap $subSplitCollectCap —" +
              " splitting via shuffle joins on the aggregated key frame")
            (agg.select(col("bucket")), st._1, st._2, st._3)
          }
        ready ::= rest.join(overKeys, Seq("bucket"), "left_anti")
        val cur = rest.join(overKeys, Seq("bucket"), "left_semi")
        if (level >= maxLevels) {
          log.warn(s"ivfPairs sub-split: $nOver cells still over " +
            s"maxList=$maxList after $maxLevels refinement rounds " +
            s"($totalOver rows, max cell $maxCell) " +
            "— dropping their pair enumeration; bit-identical groups " +
            "inside them still pair via the exact-dup pass")
          dropped = Some(cur)
          done = true
        } else {
          // ~2 cells per maxList of rows, ~100 sample rows per centroid.
          // k is CAPPED so one level's trainer stays bounded even when
          // the oversized mass is corpus-sized (a degenerate one-list
          // assignment would otherwise ask MLlib for millions of
          // centroids); the cap just shifts work to the next level —
          // 4096^maxLevels cells of headroom
          val k = math.max(2, math.min(4096,
            math.ceil(totalOver * 2.0 / maxList)).toInt)
          val fraction = math.min(1.0, 100.0 * k / totalOver)
          val sample =
            if (fraction >= 1.0) cur
            else cur.sample(withReplacement = false, fraction, seed = 7L + level)
          val model = graft.index.IVFIndex.train(sample, nlist = k,
            metric = "ip", seed = 11L + level)
          val bm = spark.sparkContext.broadcast(model)
          // raw (unnormalized) vec: spherical argmax is scale-invariant
          val subU = udf { a: Seq[Float] => bm.value.assignListNo(a.toArray) }
          // eager checkpoint: the next round reads `rest` three times
          // (size agg + both key joins) and per-level lineage would
          // otherwise re-run every prior assign per read
          rest = checkpointed(cur
            .withColumn("bucket", xxhash64(col("bucket"), subU(col("vec")))))
          level += 1
        }
      }
    }
    val cellPairs = allPairsWithinLists(
      ready.reduce(_ unionByName _).withColumnRenamed("bucket", "list_no"),
      threshold)
    dropped match {
      case None => cellPairs
      case Some(d) =>
        // identical vectors co-assign at every level, so a dropped
        // cell holds whole identical groups: star candidates keyed on
        // (cell, xxhash64(vec)) with a bit-exact in-bucket recheck
        val dupCand = d
          .withColumn("vh", xxhash64(col("vec")))
          .select(col("bucket"), col("vh"), col("id"), col("vec"))
          .as[(Long, Long, Long, Array[Float])]
          .groupByKey(t => (t._1, t._2))
          .flatMapGroups { (_: (Long, Long), it: Iterator[(Long, Long, Long, Array[Float])]) =>
            val groups = scala.collection.mutable.LinkedHashMap
              .empty[scala.collection.immutable.ArraySeq[Int],
                     scala.collection.mutable.ArrayBuffer[Long]]
            it.foreach { case (_, _, id, v) =>
              val key = scala.collection.immutable.ArraySeq
                .unsafeWrapArray(v.map(java.lang.Float.floatToRawIntBits))
              groups.getOrElseUpdate(key,
                scala.collection.mutable.ArrayBuffer.empty[Long]) += id
            }
            groups.valuesIterator.filter(_.length > 1).flatMap { ids =>
              val sorted = ids.sorted
              sorted.iterator.drop(1).map(dup => (sorted.head, dup))
            }
          }.toDF("a", "b")
        // literal 1.0, not rerank: bit-exact groups ARE cosine 1.0 by
        // definition, and the rerank cosine is NaN for all-zero vectors
        cellPairs.unionByName(dupCand.withColumn("cos", lit(1.0)))
    }
  }

  /** Exact top-k most-similar pairs by cosine, distributed: each task
    * sees two row blocks and keeps a bounded pair heap; the global merge
    * is a k-row sort. Ties break on (a, b) ascending. Ids must fit in
    * 32/31 bits (packed for the heap; checked).
    *
    * Shuffle volume is N×B rows; per-task memory two blocks — pick
    * `nBlocks` so a block (≈N/B vectors) fits an executor core.
    */
  def exactPairTopK(df: DataFrame, k: Int, nBlocks: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bCount = nBlocks
    val replicated = df.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        require(id >= 0 && id < (1L << 31), s"pair packing needs id < 2^31: $id")
        val blk = (id % bCount).toInt
        // one copy per block-pair task this row participates in
        (0 until bCount).iterator.map { o =>
          val lo = math.min(blk, o); val hi = math.max(blk, o)
          (lo * bCount + hi, blk, id, v)
        }
      }
    val partials = replicated
      .groupByKey(_._1)
      .flatMapGroups { (task: Int, it: Iterator[(Int, Int, Long, Array[Float])]) =>
        val i = task / bCount; val j = task % bCount
        // two bounded blocks (the memory contract of this operator)
        val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        it.foreach { case (_, blk, id, v) =>
          val row = (id, v, Kernels.norm(v))
          if (blk == i) left += row else right += row
        }
        val heap = new TopK(k) // key = -cos, id = (a << 32) | b
        def consider(x: (Long, Array[Float], Double), y: (Long, Array[Float], Double)): Unit = {
          val (a, b) = if (x._1 < y._1) (x, y) else (y, x)
          val cos = Kernels.dot(a._2, b._2) / (a._3 * b._3)
          heap.add(-cos, (a._1 << 32) | b._1)
        }
        if (i == j) {
          var p = 0
          while (p < left.length) {
            var q = p + 1
            while (q < left.length) { consider(left(p), left(q)); q += 1 }
            p += 1
          }
        } else {
          var p = 0
          while (p < left.length) {
            var q = 0
            while (q < right.length) { consider(left(p), right(q)); q += 1 }
            p += 1
          }
        }
        heap.sorted.iterator.map { case (negCos, packed) =>
          (packed >>> 32, packed & 0xffffffffL, -negCos)
        }
      }
      .toDF("a", "b", "cos")
    partials.orderBy(col("cos").desc, col("a"), col("b")).limit(k)
  }

  /** Exact-duplicate pairs — bit-identical vectors — via ONE shuffle
    * keyed on `xxhash64(vec)` (8 bytes) with a bit-exact in-bucket
    * recheck, the [[graft.index.IVFDedup]] build trick. This is the
    * production pre-pass in front of [[lshPairs]]: it guarantees
    * recall 1.0 on identical vectors REGARDLESS of local density, so
    * the banded join is free to cap its degenerate buckets (see the
    * `maxBucket` contract there).
    *
    * Emits STAR-shaped pairs — (min-id representative → each duplicate,
    * `a < b`, cos 1.0), the [[graft.index.IVFDedup]] instances-table
    * shape: a group of m duplicates costs m−1 rows, so a dead/zero
    * embedding repeated 10⁵+ times (common in real corpora) cannot
    * reintroduce the quadratic pair blowup the banded path's
    * `maxBucket` cap exists to prevent. The full within-group pair set
    * is the star's transitive closure if a caller ever needs it. Task
    * memory per hash bucket: one representative vector + an id buffer
    * per DISTINCT vector, never the bucket's full vector set. */
  def exactDupPairs(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id").cast("long"), col("vec"))
      .withColumn("vh", xxhash64(col("vec")))
      .as[(Long, Array[Float], Long)]
      .groupByKey(_._3)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Array[Float], Long)]) =>
        val groups = scala.collection.mutable.LinkedHashMap
          .empty[scala.collection.immutable.ArraySeq[Int],
                 scala.collection.mutable.ArrayBuffer[Long]]
        it.foreach { case (id, v, _) =>
          val key = scala.collection.immutable.ArraySeq
            .unsafeWrapArray(v.map(java.lang.Float.floatToRawIntBits))
          groups.getOrElseUpdate(key,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += id
        }
        groups.valuesIterator.filter(_.length > 1).flatMap { ids =>
          val sorted = ids.sorted
          val rep = sorted.head
          sorted.iterator.drop(1).map(dup => (rep, dup, 1.0))
        }
      }.toDF("a", "b", "cos")
  }

  /** @param nBands bands over the 63-bit signature; a candidate pair
    *               must agree exactly on ≥1 band (9 bits for 7 bands).
    *               More bands → higher recall at lower thresholds.
    * @param maxBucket band buckets larger than this are DROPPED from
    *               candidate generation. A bucket of size B costs B²
    *               join rows, so one degenerate key (all of a tight
    *               cluster sharing a band value) turns the banded plan
    *               into all-pairs — at 10M rows that is billions of
    *               candidates and a filled disk (observed, r5 scale
    *               rehearsal). An oversized bucket means the band
    *               carries no selectivity there anyway; pairs whose
    *               EVERY agreeing band is oversized lose their LSH
    *               candidacy — run [[exactDupPairs]] first for the
    *               identical-vector guarantee (the standard
    *               exact-pass-then-LSH pipeline).
    *
    * Only (band, key, id) rows travel through the candidate shuffle and
    * the distinct; vectors are re-joined once per surviving pair and
    * scored with the codegen'd cosine. */
  def lshPairs(df: DataFrame, model: BinaryHash.LSHModel, threshold: Double,
               nBands: Int = 7, maxBucket: Int = 8192): DataFrame = {
    // cache: each band branch and each of the tail's three consumers
    // (bucket-size agg, both join sides) would otherwise re-run the
    // signature projection — ~3·nBands encode passes of the corpus
    val sigs = BinaryHash.encode(df, model).select(col("id"), col("sig"))
      .cache()
    val width = 63 / nBands
    val mask = (1L << width) - 1
    val bands = (0 until nBands).map { b =>
      sigs.select(col("id"), lit(b).as("band"),
        shiftright(col("sig"), b * width).bitwiseAND(mask).as("key"))
    }.reduce(_ unionByName _)
    bandedPairs(df, bands, sigs, threshold, maxBucket, "lshPairs")
  }

  /** Banded near-dup over WIDE signatures (`BinaryHash.WideLSHModel`,
    * ARRAY<LONG>) — the 10M+-row form of [[lshPairs]]. The 63-bit model
    * caps bands at 9 bits = 512 keys: at 10M rows even uniform data
    * puts ~20k ids in every bucket and the banded join degenerates to
    * all-pairs (measured: >80 GB of candidate shuffle at 10M). Wide
    * bands (nbits/nBands, e.g. 128/4 = 32 bits → 4G-key space) keep
    * buckets at collision-survivor size, so candidates ∝ genuine
    * near-dup density. Identical vectors agree on every band by
    * construction; run [[exactDupPairs]] first anyway for the
    * density-independent guarantee.
    *
    * `bandBits = nbits / nBands` must divide 64 (16/32/64) so a band
    * never straddles signature words. */
  def lshPairsWide(df: DataFrame, model: BinaryHash.WideLSHModel,
                   threshold: Double, nBands: Int = 4,
                   maxBucket: Int = 8192): DataFrame = {
    val width = model.nbits / nBands
    require(width > 0 && 64 % width == 0,
      s"band width $width (=${model.nbits}/$nBands) must divide 64")
    val perWord = 64 / width
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sigs = BinaryHash.encodeWide(df, model).select(col("id"), col("sig"))
      .cache() // same 3·nBands re-encode reasoning as lshPairs
    val bands = (0 until nBands).map { b =>
      val word = b / perWord
      val off = (b % perWord) * width
      sigs.select(col("id"), lit(b).as("band"),
        shiftright(element_at(col("sig"), word + 1), off)
          .bitwiseAND(mask).as("key"))
    }.reduce(_ unionByName _)
    bandedPairs(df, bands, sigs, threshold, maxBucket, "lshPairsWide")
  }

  /** Shared banded tail: bucket-size filter → band equi-join →
    * id-distinct → exact-cosine rerank. The `maxBucket` drop is NOT
    * silent: oversized buckets (and the id rows inside them) are
    * counted and logged before candidate generation, so a run whose
    * recall semantics changed — pairs whose every agreeing band was
    * oversized lose LSH candidacy — says so in its log.
    *
    * Oversized buckets are FEW by construction (each holds > maxBucket
    * rows, so ≤ N·bands/maxBucket exist), so their keys collect to the
    * driver and the filter is a broadcast ANTI-join — cheaper than
    * shuffling the bands frame against its own bucket-size aggregate,
    * and the discovery job doubles as the logged count. */
  private def bandedPairs(df: DataFrame, bands: DataFrame,
                          sigs: DataFrame, threshold: Double, maxBucket: Int,
                          what: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // capped like subSplitPairs / PreparePipeline.fuzzyDropIds (one job
    // either way: limit(cap+1) returns the full set iff it is ≤ cap);
    // beyond the cap the keys never reach the driver — the drop filter
    // runs as a shuffle anti-join on the aggregated key frame
    val sizeAgg = bands
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > maxBucket)
    val oversized: Array[(Int, Long, Long)] = sizeAgg
      .select(col("band").cast("int"), col("key").cast("long"),
        col("bsize").cast("long"))
      .as[(Int, Long, Long)].limit(subSplitCollectCap + 1).collect()
    val kept = if (oversized.isEmpty) bands else {
      val keys =
        if (oversized.length <= subSplitCollectCap) {
          log.warn(s"$what: dropping ${oversized.length} oversized band " +
            s"buckets (${oversized.map(_._3).sum} id rows, " +
            s"maxBucket=$maxBucket) from candidate generation; pairs whose " +
            "every agreeing band is oversized lose LSH candidacy — run " +
            "exactDupPairs first for the identical-vector guarantee")
          broadcast(oversized.map { case (b, k2, _) => (b, k2) }.toSeq
            .toDF("band", "key"))
        } else {
          val agg = checkpointed(sizeAgg)
          val st = agg.agg(count(lit(1)), sum(col("bsize")))
            .as[(Long, Long)].collect()(0)
          log.warn(s"$what: ${st._1} oversized band buckets (${st._2} id " +
            s"rows, maxBucket=$maxBucket) exceed the driver collect cap " +
            s"$subSplitCollectCap — dropping them via a shuffle anti-join " +
            "on the aggregated key frame")
          agg.select(col("band"), col("key"))
        }
      bands.join(keys, Seq("band", "key"), "left_anti")
    }
    val x = kept.select(col("band"), col("key"), col("id").as("a"))
    val y = kept.select(col("band"), col("key"), col("id").as("b"))
    val cand = x.join(y, Seq("band", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    // materialize the (small) surviving-pair output, then RELEASE the
    // cached signature frame — long-lived sessions (bench's 3×3 passes,
    // repeated verify runs) otherwise accumulate a MEMORY_AND_DISK
    // entry per invocation until eviction pressure
    val out = checkpointed(rerank(df, cand, threshold))
    sigs.unpersist()
    out
  }

  /** Max oversized-cell/bucket keys [[subSplitPairs]] and
    * [[bandedPairs]] will collect/broadcast (~16 MB of driver longs at
    * the default); beyond it the split/drop runs via shuffle joins on
    * the aggregated key frame — identical output, no driver
    * materialization. Var (not a param): it is an engine memory knob,
    * not operator semantics; specs lower it to force the fallback
    * path. */
  private[graft] var subSplitCollectCap: Int = 1 << 20

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `df` materialized eagerly with its lineage cut: a reliable
    * `checkpoint()` when the SparkContext has a checkpoint dir, so an
    * executor loss does not lose the blocks, else `localCheckpoint`. */
  private def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(eager = true)

  /** Exact-cosine rescoring of candidate id pairs: vectors join in once
    * per surviving pair, scored with the codegen'd cosine. */
  private def rerank(df: DataFrame, cand: DataFrame,
                     threshold: Double): DataFrame = {
    val va = df.select(col("id").as("a"), col("vec").as("va"))
    val vb = df.select(col("id").as("b"), col("vec").as("vb"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}
