package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Partition widths and cache ownership for graft's operators.
  *
  * A small parquet file scans as ONE partition, so an operator doing
  * expensive per-row work (shingling, hashing, vector math) after such
  * a scan runs on one core while the rest idle — observed as a single
  * 600 s straggler task at sf0.1. `widen` repartitions up to the
  * cluster's default parallelism ONLY when the input has fewer
  * partitions than that; at 100 TB inputs already have thousands of
  * partitions and this is a no-op (no extra shuffle).
  *
  * Pass the operator's downstream key columns when it has any: a
  * round-robin `repartition(n)` provides no distribution anything
  * requires, so AQE's local-shuffle-read rewrites it into a map-local
  * read and the pipeline collapses back to one task (measured: the
  * 4-6 s single-task stage returns). A hash repartition on the
  * grouping/join key is a distribution the planner must preserve —
  * and the downstream aggregation reuses it, saving its own shuffle.
  *
  * Iterative operators go the other way: their per-round state is
  * small and must NOT run at the session width. Each loop takes one
  * [[LoopState]], which owns the one width rule (partitions from the
  * input's size, lifted once by the measured cache), the persists at
  * that width, the keyed repartitions and the eager lineage cut.
  *
  * Cache lifecycle: every persist() issued by graft operators (here
  * and in Dedup/Similarity self-join intermediates) is TRACKED in a
  * [[CacheScope]]. Scopes are PER THREAD (inherited by child threads):
  * two queries built on different threads never see — or drop — each
  * other's caches, so concurrent drivers can call [[release]] freely.
  * A caller that builds a plan on one thread and finishes its action
  * on another takes an explicit handle: [[newScope]] + [[inScope]],
  * then `scope.release()` when done.
  */
object Par {

  /** A set of persisted DataFrames owned by one logical caller.
    * `release()` unpersists exactly the blocks tracked here — never
    * another scope's.
    */
  final class CacheScope private[Par] () {
    private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private[Par] def add(df: DataFrame): Unit = tracked.add(df)
    /** Unpersist every DataFrame tracked in this scope (non-blocking). */
    def release(): Unit = {
      var d = tracked.poll()
      while (d != null) { d.unpersist(false); d = tracked.poll() }
    }
  }

  // Per-thread current scope; inherited so a task that forks worker
  // threads after building its plan still releases those caches.
  private val current = new InheritableThreadLocal[CacheScope] {
    override def initialValue(): CacheScope = new CacheScope
  }

  /** A fresh scope handle for cross-thread lifecycles. */
  def newScope(): CacheScope = new CacheScope

  /** Run `body` with `scope` as the current thread's scope (restores
    * the previous scope after). The caller owns `scope.release()`.
    */
  def inScope[T](scope: CacheScope)(body: => T): T = {
    val prev = current.get()
    current.set(scope)
    try body finally current.set(prev)
  }

  /** Build AND consume a query in one lexical block: runs `body` in a
    * fresh scope and releases that scope's caches on exit. Only use
    * when the Spark ACTION also happens inside `body` — a lazy plan
    * returned out of `scoped` would recompute its unpersisted
    * intermediates.
    */
  def scoped[T](body: => T): T = {
    val s = new CacheScope
    try inScope(s)(body) finally s.release()
  }

  /** Persist `df` and register it in the current thread's scope. All
    * graft-internal caching goes through here so callers own the
    * lifecycle.
    */
  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist()
    current.get().add(p)
    p
  }

  /** Unpersist every DataFrame graft operators cached in the CURRENT
    * thread's scope since its last release (non-blocking). Call after
    * the consuming action finishes. Other threads' caches are never
    * touched.
    */
  def release(): Unit = current.get().release()

  /** The width and lineage cut of one iterative operator's state —
    * the one owner every graft loop (the Graph operators,
    * [[graft.operators.Dedup.connectedComponents]]) builds its state
    * through, so the width rule below lives in one place.
    *
    * The width rule (r15, guide §2): `p = ceil(plan leaf bytes of
    * input / 64 MB)`, at least 1. An iterative operator whose per-round
    * state is a few MB otherwise inherits the session's shuffle width
    * (32 locally) — every round then schedules 32-task stages whose
    * cost is pure fixed overhead: profiled stacks during
    * graph_pagerank_fixed showed the executor threads in shuffle-file
    * open/mmap/delete and MemoryStore SizeEstimator walks, ~8 CPU-s per
    * round for a 5k-node graph (150k edges), and coalescing the state
    * to its size-derived width measured 9.5 s → 3.5 s for the
    * identical 10-round loop. The width derives from the INPUT size,
    * not the local core count: at 100 TB leafBytes/64 MB far exceeds
    * any upstream partition count and `coalesce(p)` degenerates to a
    * no-op, so cluster runs keep their parallelism; only genuinely tiny
    * state collapses. Unknown-size leaves (checkpointed RDDs) default
    * to Long.MaxValue in Catalyst and saturate the sum — again the
    * no-op, never an over-collapse.
    *
    * The leaf estimate can only UNDERestimate state built through a
    * join or explode blow-up (r15 ADVICE), so after the loop's first
    * action [[remeasure]] lifts `p` once to the cached frame's TRUE
    * materialized bytes. `reliable` picks the lineage cut: a
    * `localCheckpoint` pins blocks to their executors, so on a cluster
    * with dynamic allocation / spot nodes one lost executor kills the
    * run's lineage; there set a fault-tolerant
    * `sparkContext.setCheckpointDir` and pass `reliable = true` for
    * `checkpoint()` (same truncation, HDFS-backed blocks).
    */
  final class LoopState(input: DataFrame, reliable: Boolean) {
    private var p = statePartitions(input)
    private var measured = false
    // frames persist coalesced to the leaf estimate: only these can
    // need a re-cache once the width is measured
    private var narrowed = List.empty[DataFrame]

    /** The width keyed loops repartition their state to, fixed at the
      * leaf estimate and bounded by the session shuffle width: a keyed
      * repartition never needs more than any other shuffle gets. A
      * non-integer conf falls back to defaultParallelism.
      */
    private val keyWidth: Int = {
      val spark = input.sparkSession
      val sessionWidth = spark.conf.getOption("spark.sql.shuffle.partitions")
        .flatMap(v => scala.util.Try(v.toInt).toOption)
        .getOrElse(spark.sparkContext.defaultParallelism)
      math.max(1, math.min(p, sessionWidth))
    }

    def width: Int = p

    /** `df` coalesced to the loop width and persisted. */
    def persist(df: DataFrame): DataFrame = {
      val c = persistTracked(df.coalesce(p))
      narrowed ::= c
      c
    }

    /** `df` hash-partitioned on `keys` at [[keyWidth]]. */
    def keyed(df: DataFrame, keys: String*): DataFrame =
      df.repartition(keyWidth, keys.map(col): _*)

    /** An eager lineage cut at the loop width. */
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.coalesce(p).checkpoint(eager = true)
      else df.coalesce(p).localCheckpoint(eager = true)

    /** The single re-measure; only the first call acts, and only after
      * an action has materialized `cached`: `p = max(p, measured
      * partitions of cached)`. When [[persist]] coalesced `cached` to
      * the old width and it measures wider, returns a re-cache at the
      * lifted width — the one-time reshuffle beats a whole loop of
      * single-task rounds over a collapsed cache; otherwise `cached`.
      */
    def remeasure(cached: DataFrame): DataFrame =
      if (measured) cached
      else {
        measured = true
        val m = statePartitions(cached)
        if (m <= p) cached
        else {
          p = m
          if (narrowed.exists(_ eq cached)) persistTracked(cached.repartition(m)) else cached
        }
      }
  }

  /** ceil(plan leaf input bytes / 64 MB), at least 1 — the width rule
    * of [[LoopState]]. On a materialized cache the leaf is the
    * InMemoryRelation, whose stats carry the cached size.
    */
  private def statePartitions(df: DataFrame): Int = {
    val bytesPerPartition = 64L << 20
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes)
      .foldLeft(BigInt(0))(_ + _)
    val p = (leafBytes + bytesPerPartition - 1) / bytesPerPartition
    if (p > Int.MaxValue) Int.MaxValue else math.max(1, p.toInt)
  }

  def widen(df: DataFrame, keys: String*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd (InternalRow RDD) probes the partition count without the
    // extra deserializer stage df.rdd would add; the physical planning
    // it forces is of THIS input only (typically a bare scan) and is
    // cached on the QueryExecution.
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else {
      val r =
        if (keys.nonEmpty) df.repartition(target, keys.map(col): _*)
        else df.repartition(target)
      // persist() is the optimizer barrier that makes the widening
      // stick: without it Catalyst pushes downstream projections below
      // the exchange (to shrink shuffle payloads), so the expensive
      // per-row compute lands back in the single-partition map stage
      // (measured: 1-task, 3.6 s CPU). The cache only ever holds a
      // narrow input (widen fires only when the scan is narrow).
      persistTracked(r)
    }
  }
}
