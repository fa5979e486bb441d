package graft.index

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.DataFrame

/** Session-lifetime cache of trained IVF models + assigned tables,
  * keyed by (source dir, nlist, metric, seed): an index is built once
  * and queried many times — re-training per query would charge k-means
  * to every search (the reference likewise persists indexes via
  * `write_index`, `Auncel/eval/bound.cpp:265-268`). */
object IndexCache {
  private val models = new ConcurrentHashMap[String, (IVFModel, DataFrame)]()
  private val graphs = new ConcurrentHashMap[String, DataFrame]()
  private val traces =
    new ConcurrentHashMap[String, Array[graft.profile.ErrorProfile.Trace]]()

  /** Disk layer under the session cache: trained models persist across
    * JVMs (the reference's eval likewise writes the index + profile
    * once and reloads per phase, `Auncel/eval/bound.cpp:265-268`), so
    * a fresh session pays model LOAD, not k-means/profile training.
    * Override with GRAFT_MODEL_DIR (or the graft.model.dir system
    * property, which wins — specs isolate a temp dir through it);
    * delete the directory to retrain. Its parent is also the base of
    * the oracle side-table and stream staging roots
    * (`graft.queries.Vector.odir` / `sdir`). */
  private[graft] def diskRoot: String =
    sys.props.get("graft.model.dir")
      .orElse(sys.env.get("GRAFT_MODEL_DIR"))
      .getOrElse("/tmp/graft_models")

  /** Sanitizing alone can collide ('a|b' vs 'a_b'); the raw-key hash
    * suffix keeps distinct cache keys on distinct disk directories. */
  private def diskPath(key: String): String = {
    val safe = key.replaceAll("[^A-Za-z0-9._-]", "_")
    val h = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(key))
    s"$diskRoot/$safe-$h"
  }

  private def onDisk(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").exists()

  def ivf(key: String, df: => DataFrame, nlist: Int, metric: String = "l2",
          seed: Long = 42L): (IVFModel, DataFrame) =
    models.computeIfAbsent(s"$key|$nlist|$metric|$seed", { _ =>
      val data = df
      val spark = data.sparkSession
      val path = diskPath(s"$key|$nlist|$metric|$seed|ivf")
      val loaded = onDisk(path)
      val model =
        if (loaded) IVFIndex.loadModel(path, spark)
        else {
          val m = IVFIndex.train(data, nlist, metric, seed)
          IVFIndex.saveModel(m, path, spark)
          m
        }
      val assigned = IVFIndex.assign(data, model).cache()
      countOrSeed(assigned, path, loaded)
      (model, assigned)
    })

  /** IMI coarse model (composite table form — a plain [[IVFModel]], so
    * the persistence and assignment layers are shared with [[ivf]]). */
  def imi(key: String, df: => DataFrame, nbits: Int,
          seed: Long = 42L): (IVFModel, DataFrame) =
    models.computeIfAbsent(s"$key|imi2x$nbits|$seed", { _ =>
      val data = df
      val spark = data.sparkSession
      val path = diskPath(s"$key|imi2x$nbits|$seed|ivf")
      val loaded = onDisk(path)
      val model =
        if (loaded) IVFIndex.loadModel(path, spark)
        else {
          val m = IMI.train(data, nbits, seed).toIVFModel
          IVFIndex.saveModel(m, path, spark)
          m
        }
      val assigned = IVFIndex.assign(data, model).cache()
      countOrSeed(assigned, path, loaded)
      (model, assigned)
    })

  /** The per-list sizes are LAYOUT metadata (they arm the semantic-dedup
    * oversized-list guard), so they persist beside the model. A reload
    * whose `_list_sizes` sidecar passes trailer verification SEEDS the
    * [[listSizes]] memo, so its first
    * [[graft.ops.EmbeddingDedup.ivfPairs]] call runs zero metadata jobs
    * before real work. Every other build or reload — a fresh build, a
    * directory without the sidecar, or one whose sidecar fails
    * verification — pays ONE `groupBy(list_no).count()` job (which also
    * materializes the cache) and writes the verified sidecar, so later
    * sessions seed for free. The underscore prefix keeps the parquet
    * reader from treating the sidecar as a data file (the `_SUCCESS`
    * convention). */
  private def countOrSeed(assigned: DataFrame, modelPath: String,
                          loaded: Boolean): Unit = {
    val sidecar = new java.io.File(modelPath, "_list_sizes")
    val persisted: Option[Map[Long, Long]] =
      if (loaded && sidecar.exists()) readSizesSidecar(sidecar.toPath)
      else None
    persisted match {
      case Some(m) => seedListSizes(assigned, m)
      case None => writeSizesSidecar(sidecar.toPath, listSizes(assigned))
    }
    // remember where this plan's sizes are persisted so invalidate() can
    // retire the sidecar along with the in-memory memo (plan kept for the
    // sameResult collision guard — a colliding hash must never delete
    // some OTHER model's sidecar)
    val plan = assigned.queryExecution.analyzed
    sizeSidecars.put(Integer.valueOf(plan.semanticHash()),
      (plan, sidecar.getPath))
    ()
  }

  /** `_list_sizes` sidecar format: one `list<TAB>size` line per list,
    * then a `#sum<TAB>nLists<TAB>totalRows` trailer the reader VERIFIES.
    * Writes go through [[writeAtomic]] (temp file + atomic rename), so a
    * crash mid-write can never leave a half-written file under the real
    * name; the trailer additionally catches any truncated pre-atomic /
    * externally-damaged file. A torn sizes file is not perf-only: an
    * under-reading would silently disable the
    * [[graft.ops.EmbeddingDedup.ivfPairs]] oversized-list guard — the
    * exact blowup the guard exists to prevent — so the reader falls back
    * to the count job (returning None) on ANY verification failure. */
  private def writeSizesSidecar(path: java.nio.file.Path,
                                m: Map[Long, Long]): Unit = {
    val body = m.iterator.map { case (l, c) => s"$l\t$c" }.mkString("\n")
    val trailer = s"#sum\t${m.size}\t${m.valuesIterator.sum}"
    writeAtomic(path, if (m.isEmpty) trailer else s"$body\n$trailer")
  }

  private def readSizesSidecar(
      path: java.nio.file.Path): Option[Map[Long, Long]] =
    scala.util.Try {
      val lines = java.nio.file.Files.readAllLines(path)
        .toArray(Array.empty[String]).iterator.filter(_.nonEmpty).toArray
      require(lines.nonEmpty && lines.last.startsWith("#sum\t"),
        "missing trailer")
      val Array(_, nStr, totStr) = lines.last.split('\t')
      val m = lines.iterator.take(lines.length - 1).map { ln =>
        val i = ln.indexOf('\t')
        (ln.substring(0, i).toLong, ln.substring(i + 1).toLong)
      }.toMap
      require(m.size == nStr.toLong && m.valuesIterator.sum == totStr.toLong,
        "trailer mismatch")
      m
    }.toOption

  /** Temp-file + atomic-rename write: the sidecar either has its old
    * content or its complete new content, never a torn prefix. Failures
    * are deliberately swallowed — sidecars are performance metadata; a
    * read-only model dir must degrade to the count job, never fail the
    * build (the reader's trailer check catches anything half-written by
    * other means). */
  private def writeAtomic(path: java.nio.file.Path, content: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    scala.util.Try {
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    ()
  }

  /** Built-once HNSW adjacency (see [[HNSW.buildGraph]]) — search jobs
    * pay beam search, never graph construction; disk-backed like the
    * IVF model. */
  def hnsw(key: String, df: => DataFrame, nParts: Int = 8, m: Int = 16,
           efConstruction: Int = 64): DataFrame =
    graphs.computeIfAbsent(s"$key|hnsw2|$nParts|$m|$efConstruction", { _ =>
      val data = df
      val spark = data.sparkSession
      // "hnsw2" = graph format v2 (level-0 chain-edge connectivity
      // backstop); keeps pre-backstop disk graphs from being reused
      val path = diskPath(s"$key|hnsw2|$nParts|$m|$efConstruction")
      if (!onDisk(path))
        HNSW.writeGraph(HNSW.buildGraph(data, nParts, m, efConstruction), path)
      val g = HNSW.readGraph(spark, path).cache()
      g.count()
      g
    })

  /** Trained error-profile traces are model artifacts exactly like the
    * centroids — bounded search pays trace lookup, not profile
    * training; disk-backed like the IVF model. */
  def profileTraces(key: String, spark: org.apache.spark.sql.SparkSession,
                    train: => Array[graft.profile.ErrorProfile.Trace])
      : Array[graft.profile.ErrorProfile.Trace] =
    traces.computeIfAbsent(key, { _ =>
      val path = diskPath(s"$key|traces")
      if (onDisk(path)) graft.profile.ProfileTrainer.loadTraces(path, spark)
      else {
        val t = train
        graft.profile.ProfileTrainer.saveTraces(t, path, spark)
        t
      }
    })

  /** Trained-once PQ codebooks (plain or polysemous-reordered) with the
    * same session + disk layering as the IVF model. */
  def pq(key: String, spark: org.apache.spark.sql.SparkSession,
         build: => graft.quantize.PQModel): graft.quantize.PQModel =
    pqModels.computeIfAbsent(key, { _ =>
      val path = diskPath(s"$key|pq")
      if (onDisk(path)) IndexIO.loadPQ(path, spark)
      else {
        val p = build
        IndexIO.savePQ(p, path, spark)
        p
      }
    })

  private val pqModels =
    new ConcurrentHashMap[String, graft.quantize.PQModel]()

  /** Disk-backed built-once DataFrame for model-like artifacts (e.g.
    * MinHash signature tables — trained-once corpus fingerprints, the
    * same contract as IVF centroids): a fresh JVM pays a parquet load,
    * not a re-shingle of the corpus. */
  def frameDisk(key: String, spark: org.apache.spark.sql.SparkSession,
                build: => DataFrame): DataFrame =
    frames.computeIfAbsent(s"$key|disk", { _ =>
      val path = diskPath(key)
      if (!onDisk(path)) build.write.mode("overwrite").parquet(path)
      val raw = spark.read.parquet(path)
      // a SMALL artifact packs into one or two scan splits (file-open
      // cost packing), and the cache inherits that: every later join or
      // aggregation over it ran near-serial (d04's shingle self-join
      // measured 4 tasks on 32 cores). Spread a narrow read across the
      // session's parallelism BEFORE caching; an artifact big enough to
      // read as ≥ defaultParallelism splits keeps its natural layout —
      // scale-adaptive, not a local constant. Rows are unchanged; every
      // consumer is order-independent (joins/aggregations).
      val par = spark.sparkContext.defaultParallelism
      val spread =
        if (raw.rdd.getNumPartitions < par) raw.repartition(par) else raw
      val df = spread.cache()
      df.count()
      df
    })

  /** Generic built-once cached DataFrame (e.g. LSH candidate sets
    * shared across the dedup pipeline's queries). */
  def frame(key: String, build: => DataFrame): DataFrame =
    frames.computeIfAbsent(key, { _ =>
      val df = build.cache()
      df.count()
      df
    })

  private val frames = new ConcurrentHashMap[String, DataFrame]()

  /** Session-memoized arbitrary model object (e.g. a trained
    * SpectralHash model): built once per (key) per JVM — the bench's
    * untimed build pass warms it like every other artifact. */
  def obj[T <: AnyRef](key: String)(build: => T): T =
    objects.computeIfAbsent(key, _ => build).asInstanceOf[T]

  private val objects = new ConcurrentHashMap[String, AnyRef]()

  /** Memoized per-list sizes of an assigned (`list_no`-carrying) frame,
    * keyed by the frame's ANALYZED plan (semantic equality, so re-reads
    * of the same parquet path share an entry; a hash collision only
    * re-counts — the sameResult re-check — it can never return a wrong
    * value). One `groupBy(list_no).count()` job per distinct table per
    * session; frames assigned through [[ivf]]/[[imi]] pay it at most once
    * per model directory — the build writes a `_list_sizes` sidecar
    * beside the model and reloads seed this memo from it. Consumer: the
    * semantic-dedup oversized-list guard
    * ([[graft.ops.EmbeddingDedup.ivfPairs]], which otherwise re-audited
    * the corpus per call). The map is nlist-sized (≤ ~10⁵ entries) —
    * driver-trivial.
    *
    * Contract: sizes are LAYOUT metadata, like every artifact in this
    * cache — rewriting the data under the same path in a live session
    * (re-ingest, delete-and-overwrite) requires [[invalidate]] or
    * [[clear]]`()`, exactly as it would for the cached model/assignment
    * entries above. */
  def listSizes(df: DataFrame): Map[Long, Long] = {
    val plan = df.queryExecution.analyzed
    val h = Integer.valueOf(plan.semanticHash())
    val cached = listSizeMemo.get(h)
    if (cached != null && cached._1.sameResult(plan)) cached._2
    else {
      listSizeComputes.incrementAndGet()
      import org.apache.spark.sql.functions.{col, count, lit}
      val m = df.groupBy(col("list_no"))
        .agg(count(lit(1)).as("lsize"))
        .select(col("list_no").cast("long"), col("lsize"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      listSizeMemo.put(h, (plan, m))
      m
    }
  }

  private[graft] def seedListSizes(df: DataFrame, m: Map[Long, Long]): Unit = {
    val plan = df.queryExecution.analyzed
    listSizeMemo.put(Integer.valueOf(plan.semanticHash()), (plan, m))
    ()
  }

  private val listSizeMemo = new ConcurrentHashMap[
    Integer, (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
              Map[Long, Long])]()

  /** Size JOBS actually run by [[listSizes]] — spec hook proving the
    * per-call audit job is gone on sidecar-seeded frames. */
  private[graft] val listSizeComputes =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The resident form of a raw-vector IVF table (`list_no`, `id`,
    * `vec`), Auncel's in-memory inverted lists (`ArrayInvertedLists`,
    * `InvertedLists.h:182`): one element per list — (list_no, its ids
    * ascending, their vectors) — hash-partitioned on list_no (list_no mod
    * `defaultParallelism`) and persisted MEMORY_AND_DISK, so a probed-list
    * scan ([[graft.search.IVFSearch.scanVectors]]) prunes to the
    * partitions holding its lists and pays no query planning, file listing
    * or per-row decode. Built by one shuffle job per table per session and
    * memoized like [[listSizes]] (analyzed plan, sameResult-guarded), plus
    * the frame's `inputFiles`: a plan-equal frame over different files —
    * the same path rewritten and read again — drops the old store and
    * builds a new one, so a rewrite never serves old rows.
    *
    * Memory: the vectors live deserialized, about n × (4·dim + 28) bytes
    * (50k × 64 is ~14 MB of heap). A store is built only if that estimate
    * fits the storage memory the block managers have free plus what the
    * other stores hold; the least recently used stores are unpersisted to
    * make room. A table too large for that gets None, and its scans read
    * the table's rows, so no store is built that the pool cannot hold. The
    * row count behind the estimate is memoized under the store's key, so
    * such a table is counted once, not on every call. A frame
    * that is itself cached (the `assigned` frame of [[ivf]]/[[imi]]) is
    * held twice. [[invalidate]] and [[clear]] unpersist stores. Each
    * decision logs one INFO line: a store reused, built (its bytes and the
    * pool), evicted (which store, its bytes) or declined (the estimate
    * against the pool, so the table's rows serve).
    * @param dim the vectors' dimension (the model's) */
  def residentLists(df: DataFrame, dim: Int): Option[ResidentLists] = {
    val plan = df.queryExecution.analyzed
    val h = Integer.valueOf(plan.semanticHash())
    val files = df.inputFiles.toSeq.sorted
    val old = residentMemo.get(h)
    if (old != null && old.plan.sameResult(plan) && old.files == files) {
      old.lastUse = residentClock.incrementAndGet()
      log.info(s"residentLists: reused store rdd ${old.lists.id} " +
        s"(${old.bytes} B)")
      Some(old.lists)
    } else {
      // a stale entry (or a colliding plan's) is dropped before the build,
      // so the map never holds a store that is unpersisted or stale
      if (old != null) dropResident(h, old)
      val bytes = rowCount(df, h, plan, files) * (4L * dim + 28)
      makeRoom(df.sparkSession.sparkContext, bytes).map { pool =>
        val store = new Resident(plan, files, buildResident(df), bytes)
        val raced = residentMemo.put(h, store)
        if (raced != null) raced.lists.unpersist()
        log.info(s"residentLists: built store rdd ${store.lists.id} " +
          s"($bytes B of a $pool B pool)")
        store.lists
      }
    }
  }

  /** `df.count()`, memoized by analyzed plan (sameResult-guarded) plus
    * `inputFiles`, the [[residentLists]] key. Not [[listSizes]]: that memo
    * is layout metadata with its own job counter, and a store's estimate
    * must not charge it. */
  private def rowCount(df: DataFrame, h: Integer,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      files: Seq[String]): Long = {
    val c = rowCounts.get(h)
    if (c != null && c._1.sameResult(plan) && c._2 == files) c._3
    else {
      val n = df.count()
      rowCounts.put(h, (plan, files, n))
      n
    }
  }

  private val rowCounts = new ConcurrentHashMap[Integer,
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Seq[String],
     Long)]()

  /** (list_no, (ids ascending, vectors)) under a list_no partitioner. */
  type ResidentLists =
    org.apache.spark.rdd.RDD[(Int, (Array[Long], Array[Array[Float]]))]

  private def buildResident(df: DataFrame): ResidentLists = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val lists = df.select(col("list_no").cast("int"), col("id").cast("long"),
        col("vec"))
      .as[(Int, Long, Array[Float])].rdd
      .map { case (l, id, v) => (l, (id, v)) }
      .groupByKey(new org.apache.spark.HashPartitioner(
        spark.sparkContext.defaultParallelism))
      .mapValues { rows =>
        val byId = rows.toArray.sortBy(_._1)
        (byId.map(_._1), byId.map(_._2))
      }
      .setName(ResidentName)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lists.count()
    lists
  }

  /** Unpersists least-recently-used stores until `bytes` more fit the
    * [[storePool]] and returns the pool; None, evicting nothing, when
    * `bytes` alone exceeds it. Builds run outside this lock, so two
    * concurrent builds can overshoot the pool by one store until the next
    * call evicts. */
  private def makeRoom(sc: org.apache.spark.SparkContext,
                       bytes: Long): Option[Long] = residentMemo.synchronized {
    import scala.jdk.CollectionConverters._
    def held = residentMemo.values.asScala.map(_.bytes).sum
    val pool = storePool(sc)
    if (bytes > pool) {
      log.info(s"residentLists: declined a store of $bytes B, over the " +
        s"$pool B pool; the table's rows serve its scans")
      None
    } else {
      var over = held + bytes > pool
      while (over) {
        val lru = residentMemo.entrySet.asScala.toSeq
        if (lru.isEmpty) over = false
        else {
          val e = lru.minBy(_.getValue.lastUse)
          log.info(s"residentLists: evicted store rdd " +
            s"${e.getValue.lists.id} (${e.getValue.bytes} B) to fit $bytes B " +
            s"in a $pool B pool")
          dropResident(e.getKey, e.getValue)
          over = held + bytes > pool
        }
      }
      Some(pool)
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Storage memory the stores may fill: what the block managers have
    * free plus what the memoized stores hold. Specs pin a smaller pool
    * to exercise eviction. */
  private[graft] var storePool: org.apache.spark.SparkContext => Long = { sc =>
    import scala.jdk.CollectionConverters._
    sc.getExecutorMemoryStatus.valuesIterator.map(_._2).sum +
      residentMemo.values.asScala.map(_.bytes).sum
  }

  /** Removes `store` if it is still the entry at `h`, then unpersists it. */
  private def dropResident(h: Integer, store: Resident): Unit =
    if (residentMemo.remove(h, store)) store.lists.unpersist(blocking = true)

  /** RDD name of every resident store (specs find them by it). */
  private[graft] val ResidentName = "graft.residentLists"

  private final class Resident(
      val plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      val files: Seq[String], val lists: ResidentLists, val bytes: Long) {
    @volatile var lastUse: Long = residentClock.incrementAndGet()
  }

  private val residentClock = new java.util.concurrent.atomic.AtomicLong(0)

  private val residentMemo = new ConcurrentHashMap[Integer, Resident]()

  /** Drop one memoized size map — the targeted form of [[clear]] for
    * when the corpus is rewritten under the same path mid-session
    * (re-ingest, delete-and-overwrite) and only the sizes must refresh.
    * If the sizes were persisted beside a saved model (the `_list_sizes`
    * sidecar), the sidecar is deleted too, so the recompute is not undone
    * by a later session re-seeding the stale value on reload. The MODEL
    * in that directory is equally stale after a corpus rewrite — a
    * cross-session fix for the index itself still means deleting the
    * model directory (retrain), which also removes the sidecar. The
    * frame's [[residentLists]] store is unpersisted and dropped too, with
    * its memoized row count. */
  def invalidate(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    val h = Integer.valueOf(plan.semanticHash())
    listSizeMemo.remove(h)
    rowCounts.remove(h)
    val store = residentMemo.get(h)
    if (store != null && store.plan.sameResult(plan)) dropResident(h, store)
    // sameResult guard: on a hash collision the stored entry may belong
    // to a DIFFERENT plan — deleting that plan's sidecar would orphan its
    // persisted sizes while leaving this plan's stale ones alive. Only
    // delete what provably matches, and evict with the atomic two-arg
    // remove so a concurrent countOrSeed registering a colliding plan
    // between the get and the remove cannot have ITS fresh entry evicted
    // (which would leave that sidecar un-invalidatable).
    val cached = sizeSidecars.get(h)
    if (cached != null && cached._1.sameResult(plan) &&
        sizeSidecars.remove(h, cached))
      scala.util.Try(java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(cached._2)))
    ()
  }

  /** The `_list_sizes` sidecar backing each persisted size map, by plan
    * hash (plan retained for the sameResult collision guard) — lets
    * [[invalidate]] retire the on-disk copy with the memo. */
  private val sizeSidecars = new ConcurrentHashMap[
    Integer, (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
              String)]()

  def clear(): Unit = {
    models.clear(); graphs.clear(); traces.clear(); frames.clear()
    pqModels.clear(); objects.clear(); sizeSidecars.clear()
    listSizeMemo.clear(); rowCounts.clear()
    residentMemo.forEach((h, store) => dropResident(h, store))
  }
}
