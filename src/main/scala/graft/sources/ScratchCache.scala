package graft.sources

import org.apache.spark.sql.DataFrame

/** Persisted intermediate frames for query-path materialization
  * barriers (the IVF batch probe plan, iterative graph state —
  * subtrees that two downstream passes must read without executing
  * twice), stored as scratch entries of [[DriverMemo]].
  *
  * Why not `localCheckpoint()`: its blocks are stored NON-reliably on
  * the executors that computed them — under executor loss,
  * decommissioning, or dynamic allocation the lineage is gone and the
  * query FAILS with missing-checkpoint blocks, which contradicts a
  * 1000-executor deployment where churn is routine. It also runs a
  * Spark job eagerly at DataFrame CONSTRUCTION time.
  *
  * Why not bare `persist()`: Spark's CacheManager keeps a registered
  * entry (memory + disk blocks) alive until `unpersist()` — a serving
  * session issuing thousands of distinct queries would accumulate one
  * scratch entry per query, forever. Scratch entries are the memo's
  * only bounded kind (`spark.graft.scratch.cache.size`, default 64).
  * The default leaves headroom for the iterative graph loops, which
  * insert one (HITS: two) |V|-row state frame per round on top of
  * their shared edge frame — at a cap of 8 the edge frame (whose
  * recency never refreshes: it is USED by every round's plan but
  * materialize() is only CALLED on it once) was evicted mid-loop and
  * the edge build re-ran for the remaining rounds. A cap of 24 was
  * measured to thrash the index-family eval harness when it still ran
  * the single-query graph walks (each cached a per-graph adjacency
  * frame); 64 has not been re-measured against the nine families
  * left. Storage is MEMORY_AND_DISK, so lineage stays
  * RECOMPUTABLE — a lost block is recomputed from source, not a query
  * failure, and an evicted frame still referenced by an un-executed
  * caller plan simply recomputes.
  *
  * Keys are the frame's CANONICALIZED logical plan (structural
  * equality — auto-generated attribute ids normalized away), so a
  * repeated query reuses the still-warm scratch instead of
  * re-scanning — the win the reference gets from Streamlit's
  * st.cache_resource (reference app.py:63-102).
  */
object ScratchCache {

  /** Persist `df` (MEMORY_AND_DISK) as a bounded scratch entry and
    * return the cached frame. The first downstream action populates
    * the cache; every later pass over the returned frame reads the
    * stored rows. No eager job runs here.
    *
    * The key carries the OUTPUT FIELD NAMES alongside the
    * canonicalized plan: canonicalization normalizes aliases away, so
    * two structurally identical frames differing only in column names
    * would otherwise collide and the second caller's col("name")
    * references would fail with AnalysisException.
    */
  def materialize(df: DataFrame): DataFrame =
    DriverMemo.scratch(df.sparkSession,
        (df.queryExecution.analyzed.canonicalized, df.schema.fieldNames.toSeq)) {
      // Cap the CACHED partition fan-out by Catalyst's size estimate
      // (guide §2.2 "fewer, larger reduce partitions"): a plan that is
      // persisted is excluded from AQE's post-shuffle coalescing
      // (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
      // is false by default — flipping it globally re-plans every
      // cached-scan reuse and measurably regressed the driver-loop
      // harnesses), so without this every small cached state frame
      // keeps the full spark.sql.shuffle.partitions fan-out and every
      // downstream pass schedules that many near-empty tasks (measured
      // at sf0.1: 32-task jobs over ~10⁴-row iterative state; the
      // graph trio spent ~40% of wall in task scheduling). `coalesce`
      // only ever SHRINKS (n ≥ current partitions is a no-op), folds
      // into the final shuffle read (no extra exchange), and the
      // target derives from estimated bytes — big frames keep their
      // parallelism at scale, so this is scale-adaptive, not a
      // local-mode constant. Catalyst over-estimates (join products)
      // err toward MORE partitions — the safe direction.
      val target = {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val perPart = BigInt(32L << 20) // 32 MiB per cached partition
        val cores = df.sparkSession.sparkContext.defaultParallelism
        ((bytes + perPart - 1) / perPart).min(BigInt(cores * 4)).max(BigInt(1)).toInt
      }
      df.coalesce(target)
    }

  /** [[materialize]] behind a LogicalRDD plan barrier — for
    * ITERATIVE-LOOP state frames (PageRank ranks, HITS scores, label
    * propagation): every later round re-references the state, so an
    * uncut logical plan grows by one subtree per round and
    * Catalyst/AQE planning comes to dominate the loop (measured on
    * itemFlowHits: rounds 4+ spent ~2.4 s planning over ~10k rows).
    * The cut frame scans the SAME persisted blocks; under block loss
    * the underlying RDD lineage recomputes from source, so executor
    * churn still cannot fail the query — unlike localCheckpoint,
    * whose blocks are unrecoverable. The Row→InternalRow re-encode at
    * the barrier costs one narrow pass over the |state| rows.
    */
  def materializeCut(df: DataFrame): DataFrame =
    materialize(df.sparkSession.createDataFrame(df.rdd, df.schema))

  /** Test/ops hook: drop and unpersist every scratch entry. */
  def clear(): Unit = DriverMemo.clearScratch()

  /** Test hook: number of live scratch entries. */
  def size: Int = DriverMemo.scratchSize
}
