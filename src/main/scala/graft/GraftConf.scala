package graft

/** Central routing/bound thresholds for the search engine's path
  * selection, each overridable by a JVM system property so a cluster
  * operator can tune without recompiling (pass
  * `--conf spark.driver.extraJavaOptions=-Dgraft.…=…` on submit).
  *
  * These are read at USE time (not cached at class-load) so tests and
  * long-lived drivers can flip them between calls.
  *
  * | property | default | governs |
  * |---|---|---|
  * | `graft.distributed.minQueries` | 131072 | batch size beyond which queries stay in a DataFrame end-to-end (BoundedSearch's distributed rounds; FlatSearch / BinaryHash `crossTopK`); the one bounded collect is `FlatSearch.collectable` |
  * | `graft.cogroup.maxProbes` | 8192 | per-task probe bound of the salted cogroup scan; hot lists beyond it are salted across sub-keys. The fused bucket-local scan's per-LIST bound is fixed at 8× this (its tasks stream one list group at a time) |
  * | `graft.join.minProbedRows` | 28000000 | probed data rows per round (the sum of the probed lists' sizes, from index metadata) below which the fused bucket-local arm is skipped in favor of the salted cogroup — the measured post-fix crossover (see [[fusedMinProbedRows]]); 0 forces the fused arm wherever the layout allows it |
  * | `graft.stream.statePartitions` | max(8, cores/4) | state-store partition count pinned into stateful streaming queries' checkpoints at stream start ([[streamStatePartitions]]) |
  * | `graft.components.driverMaxEdges` | 2²¹ | largest edge set [[graft.ops.Components.connectedComponents]] resolves with the one-collect driver union-find arm; 0 disables the driver arm ([[componentsDriverMaxEdges]]) |
  * | `graft.prepare.materializeMaxBytes` | 4 GiB | largest corpus input (leaf parquet bytes) for which [[graft.ops.PreparePipeline]] materializes its dedup-chain intermediates once instead of re-scanning per consumer; 0 disables ([[prepareMaterializeMaxBytes]]) |
  */
object GraftConf {

  // Fail fast, naming the offending key: a malformed override (e.g.
  // -Dgraft.join.minProbedRows=28M) should abort at startup-adjacent
  // first use with a clear message, not surface as a bare
  // NumberFormatException deep inside a search round.
  private def parsed[T](key: String, raw: String, parse: String => T): T =
    try parse(raw.trim)
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"malformed system property $key='$raw' (expected an integer)")
    }

  private def intProp(key: String, default: => Int): Int =
    sys.props.get(key).map(parsed(key, _, _.toInt)).getOrElse(default)

  private def longProp(key: String, default: => Long): Long =
    sys.props.get(key).map(parsed(key, _, _.toLong)).getOrElse(default)

  /** Above this batch size the driver-decided paths' driver-held structures
    * (query vectors, centroid rankings, per-round broadcast probe maps
    * — all O(nq)) stop being "collectable"; the fully-distributed paths
    * keep the queries themselves in a DataFrame. Every bounded-search
    * batch up to it takes the driver-decided rounds, whose collect is
    * ≤ active × k rows per round (`tools/evidence/
    * staged_driver_ab_131k.log`: parity with an executor-side control
    * loop at 32k–131k queries). */
  def distributedMinQueries: Int =
    intProp("graft.distributed.minQueries", 131072)

  /** Each (list, salt) cogroup task materializes its probe rows (query
    * vector + one TopK heap per probe); this caps how many probes one
    * task may hold before the list is salted across sub-keys. */
  def cogroupMaxProbes: Int = intProp("graft.cogroup.maxProbes", 8192)

  /** Per-list probe bound for the fused bucket-local scan: list groups
    * are consumed one at a time, so a task's peak state is ONE list's
    * probe array — fixed at 8× the cogroup's per-task bound (~40 MB
    * peak at d=64, k=10); not a property of its own. */
  def joinMaxProbesPerBucket: Int = 8 * cogroupMaxProbes

  /** The measured crossover guard: the fused bucket-local arm only wins
    * once a round scans enough data rows to amortize its coarser task
    * granularity — below this estimate the salted cogroup's finer load
    * balancing wins even on a fused-eligible layout.
    *
    * Measurement history, because the default moved once already: the
    * r9 sweep put the crossover near 10M rows and this guard first
    * shipped at 5M. The r10 task-time instrumentation then found a
    * serialized control-build stage inflating BOTH arms of that sweep
    * (fixed in `searchDistributed`); re-measured post-fix at the same
    * configs, the cogroup wins 2.5M (1.49× fused), while the fused arm
    * clearly wins the 40M point (2.60 vs 3.56 ms/q, 45% fewer shuffle
    * bytes) — `tools/evidence/r10_scale_ab_{2m5,20m100k,20m_named,
    * 40m100k}.log`. The 20M point is PARITY: three quiet-host readings
    * of fused/cogroup wall-clock 1.29× / 1.02× / 0.99× (the third:
    * `r11_scale_ab_20m_third.log`), geometric mean 1.09× — the
    * crossover sits at-to-just-above 20M, and near it either route
    * costs ≤5% of the other while fused saves ~61% of shuffle bytes,
    * so a point threshold (no hysteresis) is the right shape: the
    * penalty surface is flat where the decision is uncertain. Default
    * = the geometric mean of the 20M/40M points. On a network-bound
    * cluster the fused arm's 45–78% shuffle-byte reduction argues for
    * LOWERING this; local wall-clock argues for nothing below ~20M. */
  def fusedMinProbedRows: Long =
    longProp("graft.join.minProbedRows", 28000000L)

  /** State-store partition count for the STATEFUL streaming queries —
    * the session's shuffle-partition setting at stream start, which
    * Spark pins in the query's checkpoint for its whole lifetime
    * ([[graft.streaming.EventStream.withStatePartitions]]).
    *
    * State partitions should track STATE size (live keys × bytes per
    * key / target partition size), not batch scan parallelism: every
    * micro-batch pays a per-partition state-store open + commit
    * (checkpoint delta write, fsync, rename) regardless of how little
    * state the partition holds. Measured on the s02/s03/s04 rows at
    * sf0.1/local[32]: with 32 state partitions the commit stages showed
    * ~1 s of blocked (non-CPU) time per task — 33.6 s summed task time
    * at 0.2 s CPU on s04 — and dropping to 8 partitions took the three
    * rows from 3.80/2.45/3.52 s to 2.24/1.57/2.00 s with identical
    * results (key-hash-partitioned state is partition-count-
    * independent). Default max(8, defaultParallelism/4): small
    * demo-sized state gets few, cheap commits; a production ingest
    * with real state volume sizes it UP via
    * `-Dgraft.stream.statePartitions` (the knob the checkpoint pin
    * makes a deploy-time choice anyway). */
  def streamStatePartitions(defaultParallelism: Int): Int =
    intProp("graft.stream.statePartitions",
      math.max(8, defaultParallelism / 4))

  /** Largest edge count [[graft.ops.Components.connectedComponents]]
    * may collect for its driver union-find arm (the BoundedSearch
    * `distributedMinQueries` contract applied to cluster resolution): a
    * near-dup candidate graph at or below this size resolves in ONE
    * collect-and-union-find job instead of O(log diameter) rounds of
    * join+aggregate+checkpoint (each round ~5 jobs; d08's loop at
    * sf0.1 measured 25+ jobs for a 60k-edge graph whose closure is
    * microseconds of driver CPU). Honest driver footprint at the
    * 2²¹ default: the typed collect holds one specialized (Long, Long)
    * tuple object per edge (~32 B with header/padding ≈ 64 MB
    * transient), and the union-find itself runs on primitive arrays —
    * a sorted long[] of distinct endpoints (≤ 32 MB) plus an int[]
    * parent table (≤ 16 MB); the boxed label rows for the
    * LocalTableScan dominate briefly at ~2 nodes per edge. Sized for a
    * driver with a few GiB of headroom; halve it for a small driver.
    * Labels are identical by definition: both arms produce
    * min-node-id-per-component. Above the cap the distributed
    * pointer-jumping loop runs unchanged — the 100 TB shape, where the
    * edge table is corpus-sized. 0 disables the driver arm (specs use
    * this to pin the distributed loop). */
  def componentsDriverMaxEdges: Int =
    intProp("graft.components.driverMaxEdges", 1 << 21)

  /** Largest corpus input — summed LEAF PARQUET bytes feeding the
    * frame, the cheap exact scale proxy; logical-plan size estimates
    * swing wildly across UDF/array projections — for which
    * [[graft.ops.PreparePipeline]] materializes its dedup-chain
    * intermediates (the post-gate deduped frame and the pre-packing
    * survivors projection) once instead of re-executing the
    * gate+dedup subtree per consumer. The d13 shape re-scans that
    * subtree ~6× (fuzzy signatures, near-dup anti-join, gram scan,
    * decontamination anti-join, packOffsets' range-sample + shuffle
    * write); at collectable sizes one `localCheckpoint` feeds them
    * all. Above the cap the re-scan is the RIGHT call — columnar
    * scans with pushdown are cheap at any scale, while persisting a
    * corpus-sized intermediate doubles cluster storage (the
    * documented PreparePipeline trade) — so the 100 TB shape is
    * unchanged. 0 disables materialization everywhere (plan audits
    * use this to keep the dedup joins visible). */
  def prepareMaterializeMaxBytes: Long =
    longProp("graft.prepare.materializeMaxBytes", 4L << 30)
}
