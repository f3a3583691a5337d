package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.TopK.byScore
import graft.sources.IndexStore

/** Graph-based batch kNN: a build-once neighbor GRAPH artifact (the
  * NSW construction of Malkov & Yashunin 2018) walked set-at-a-time
  * by [[graphKnnJoin]], the graph-family twin of the brute-force
  * [[VectorSearch.knnJoin]]. The variant is deliberately
  * deterministic so the whole join carries a hard SQL oracle (no RNG
  * level assignment, no insertion-order dependence):
  *
  *   - the graph is the exact top-`g` cosine neighbor list per node
  *     (ties on the 5-decimal-rounded score break to the lower id),
  *     persisted once per (corpus, g) via [[IndexStore]] like every
  *     other index artifact, plus reverse links and connectivity
  *     bridges ([[ensureGraph]]);
  *   - each query runs `hops` beam steps: the next frontier is the
  *     top-`beam` of frontier ∪ neighbors(frontier) by rounded
  *     query-cosine (ties → lower id). Keeping the frontier inside its
  *     own candidate set makes the frontier's best score
  *     non-decreasing, so the walk CONVERGES instead of oscillating;
  *   - the answer is an exact rerank of the VISITED set.
  *
  * Scale shape: the build takes its candidate pairs from the SAME
  * banded-LSH blocking as [[Dedup.embeddingNearDupLsh]] (adaptive
  * band width keeps bucket occupancy ~constant, so candidate volume
  * is linear in the corpus, never n²), verifies them with one exact
  * cosine pass, and keeps top-g per node via a bounded heap — the
  * NSW insert loop re-expressed as one deterministic bulk job.
  * [[appendToGraph]] is the incremental insert.
  *
  * Single-query graph walks (flat NSW, two-level HNSW) were retired:
  * exact flat search beat them on recall, latency and bytes read at
  * sf0.1 and at a ×16 tiling, member and non-member (BASELINE.md).
  */
object GraphAnn {

  /** The corpus's fingerprint-addressed graph path for (dir, g).
    * v4: the persisted edge set became symmetrized top-g plus
    * connectivity bridges (epochs `sym` and `bridge`, see
    * [[ensureGraph]]) — older artifacts must not be reused.
    */
  def indexPath(spark: SparkSession, dir: String, g: Int): String =
    IndexStore.indexPath(spark, "nsw_v4", s"$dir/embeddings.parquet", g.toString)

  /** Fixed min-label propagation depth for [[bridgeEdges]] — the
    * oracle unrolls exactly this many rounds, so it is a contract
    * constant, not a tuning knob.
    */
  val BridgeRounds = 4

  /** Build the top-g neighbor graph from LSH-blocked candidates:
    * (src, dst, score, rk) with score = round(cos, 5) and rk 1..g by
    * (score DESC, dst), candidates symmetrized from the banded-LSH
    * verified pairs (linear candidate volume — the 100 TB shape).
    *
    * Ranking shape (the r13 sf50 point's one heavy build, 727.9 s at
    * 1 M vectors): the raw scored collision stream folds through a
    * dedup-aware bounded heap ([[TopK.TopKAgg]] — duplicate
    * (src, dst) collisions carry identical rounded scores, so deduping
    * inside the buffer is exact) instead of the old
    * `.distinct()` + global ranking window. Map-side partials emit at
    * most g distinct ids per node per partition, so the shuffle
    * carries ~n·g slim rows where the old plan shuffled the ENTIRE
    * multi-band candidate stream twice (distinct, then window sort).
    * Same edges bit-for-bit — the per-node top-g by (score DESC, dst)
    * over the distinct pair set is unchanged, and the graph consumers'
    * oracles replay exactly that definition.
    */
  def buildGraph(spark: SparkSession, dir: String, g: Int): DataFrame = {
    import spark.implicits._
    val vp = Dedup.lshScoredPairs(spark, dir, nBands = 32,
      bitsPerBand = 6, bucketCap = 1000L)
    val sym = vp.select(col("a_id").as("src"), col("b_id").as("dst"), col("score"))
      .unionByName(vp.select(col("b_id").as("src"), col("a_id").as("dst"), col("score")))
      .select(col("src").as("q_id"), col("dst").as("n_id"), col("score"))
      .as[TopK.ScoredPair]
    sym.groupByKey(_.q_id)
      .agg(new TopK.TopKAgg(g).toColumn.name("top"))
      .flatMap { case (src, top) =>
        top.iterator.zipWithIndex.map { case ((s, dst), i) =>
          (src, dst, s, (i + 1).toLong) }
      }
      .toDF("src", "dst", "score", "rk")
  }

  /** The persisted graph, building it first if absent. Edges live
    * under `edges/epoch=base` so maintenance batches
    * ([[appendToGraph]]) commit as sibling epoch dirs with one atomic
    * rename — the [[Ivf.appendToIndex]] layout.
    *
    * Construction-time CONNECTIVITY (the r14 sf50 finding: a
    * component-disconnected corpus scored 0.0 recall for every query
    * outside the fixed entry's component — real HNSW guarantees
    * reachability at insertion, Malkov & Yashunin §4). Two extra
    * epochs close it:
    *
    *   - `epoch=sym`: the reverse of every top-g edge not already
    *     present forward, rk = 0 — bidirectional links, the same
    *     backlink convention [[appendToGraph]] already commits, so the
    *     walkable graph is undirected;
    *   - `epoch=bridge`: [[bridgeEdges]] — every node's
    *     [[BridgeRounds]]-hop-min label group has its representative
    *     (the label itself, a node ≤ BridgeRounds undirected hops from
    *     every member) linked BIDIRECTIONALLY to the global-min hub
    *     node. By construction every node is then reachable from the
    *     hub in ≤ BridgeRounds + 1 hops, so a fixed-entry walk can
    *     reach every component — including isolated nodes the LSH
    *     blocking never collided (they keep their own label and bridge
    *     directly).
    *
    * Each epoch derives from the PREVIOUS epoch's written parquet, so
    * the expensive LSH+heap build executes once, never re-runs per
    * derived epoch. Bridge count = #distinct labels: #components for
    * well-connected top-g graphs, degrading toward corpus size only
    * for pathological high-diameter graphs (a path graph), where the
    * hub degenerates into a high-degree node — the honest trade for a
    * reachability guarantee without an unbounded CC loop in the
    * replayable build.
    */
  def ensureGraph(spark: SparkSession, dir: String, g: Int): DataFrame = {
    val path = indexPath(spark, dir, g)
    IndexStore.publish(spark, path) { tmp =>
      buildGraph(spark, dir, g).repartition(1)
        .write.mode("overwrite").parquet(s"$tmp/edges/epoch=base")
      val base = spark.read.parquet(s"$tmp/edges/epoch=base")
        .select(col("src"), col("dst"), col("score"), col("rk"))
      base.select(col("dst").as("src"), col("src").as("dst"), col("score"))
        .join(base.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
        .withColumn("rk", lit(0L))
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/edges/epoch=sym")
      val sym = base.unionByName(spark.read.parquet(s"$tmp/edges/epoch=sym")
        .select(col("src"), col("dst"), col("score"), col("rk")))
      bridgeEdges(spark, dir, sym)
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/edges/epoch=bridge")
    }
    IndexStore.open(spark, s"$path/edges")
  }

  /** Connectivity bridge edges over the symmetrized edge set (see
    * [[ensureGraph]]): [[BridgeRounds]] fixed rounds of min-label
    * propagation (lab(n) ← min(lab(n), min over neighbors) — each
    * node's label converges to the minimum id within BridgeRounds
    * undirected hops), then every distinct label except the hub's own
    * becomes a representative linked to the global-min hub in both
    * directions, scored with the real rounded cosine so the artifact
    * stays score-complete. Fixed rounds — NOT loop-to-convergence —
    * because the oracle unrolls exactly BridgeRounds CTE steps; the
    * reachability guarantee (rep ≤ BridgeRounds hops from every group
    * member) holds for any round count. Already-present (src, dst)
    * pairs are anti-joined away so the artifact carries no duplicate
    * edges.
    *
    * Scale shape: each round is one keyed join + map-side min over
    * the slim (src, dst) edge list — the [[Dedup.connectedComponents]]
    * per-round cost with a FIXED round count instead of a
    * diameter-bounded loop; the hub embedding is a 1-row broadcast
    * and bridge scoring touches only representative rows.
    */
  private[operators] def bridgeEdges(spark: SparkSession, dir: String,
                                     symEdges: DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val se = symEdges.select(col("src"), col("dst"))
    var lab = emb.select(col("vec_id").as("node"), col("vec_id").as("lab"))
    for (_ <- 0 until BridgeRounds) {
      val nbrMin = se.join(lab.select(col("node").as("dst"), col("lab").as("nl")), "dst")
        .groupBy(col("src")).agg(min(col("nl")).as("nl"))
      lab = lab.join(nbrMin.select(col("src").as("node"), col("nl")), Seq("node"), "left")
        .select(col("node"), least(col("lab"), coalesce(col("nl"), col("lab"))).as("lab"))
    }
    val hub = emb.agg(min(col("vec_id"))).head.getLong(0)
    val reps = lab.select(col("lab")).distinct().where(col("lab") =!= hub)
    val h = broadcast(emb.where(col("vec_id") === hub)
      .select(col("embedding").as("hv"), l2norm(col("embedding")).as("hn")))
    val scored = emb.join(reps, col("vec_id") === col("lab"))
      .crossJoin(h)
      .select(col("vec_id").as("rep"),
        cosine5(col("embedding"), col("hv"), l2norm(col("embedding")), col("hn")).as("score"))
    scored.select(lit(hub).as("src"), col("rep").as("dst"), col("score"), lit(0L).as("rk"))
      .unionByName(scored.select(col("rep").as("src"), lit(hub).as("dst"),
        col("score"), lit(0L).as("rk")))
      .join(symEdges.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
      .select(col("src"), col("dst"), col("score"), col("rk"))
  }

  /** The searchable vector set: the base corpus plus every appended
    * batch (id-deduped — re-appending an id must not double it in a
    * rerank).
    */
  def vectors(spark: SparkSession, dir: String, g: Int): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val vdir = s"${indexPath(spark, dir, g)}/vectors"
    if (IndexStore.exists(spark, vdir))
      base.unionByName(IndexStore.open(spark, vdir)
        .select(col("vec_id"), col("label"), col("embedding")))
        .dropDuplicates("vec_id")
    else base
  }

  /** Incremental NSW insert — FAISS `index.add()` for the graph
    * family: each new vector gets its top-g list against the CURRENT
    * searchable set (one broadcast batch×corpus scan — volume ∝
    * batch, never corpus², the [[Dedup]] incremental shape), and each
    * of its edges also commits REVERSED as a backlink, which is what
    * makes the new node reachable by a beam entering from the old
    * graph (stock NSW's bidirectional insert). Both the edge batch
    * and the vector batch commit as atomic epoch dirs. Old nodes'
    * top-g lists are not re-trimmed — degrees grow with appends until
    * a rebuild, the standard graph-index maintenance trade (rebuild
    * cadence is policy, not an operator constraint).
    */
  def appendToGraph(spark: SparkSession, dir: String, g: Int,
                    newVectors: DataFrame): Unit = {
    val path = indexPath(spark, dir, g)
    ensureGraph(spark, dir, g)
    val ex = vectors(spark, dir, g).withColumn("nrm", l2norm(col("embedding")))
    val nv = newVectors
      .select(col("vec_id").as("n_vid"), col("embedding").as("n_emb"),
        l2norm(col("embedding")).as("n_nrm"))
    val newEdges = TopK.perKey(ex.join(broadcast(nv), col("vec_id") =!= col("n_vid"))
      .select(col("n_vid").as("src"), col("vec_id").as("dst"),
        cosine5(col("embedding"), col("n_emb"), col("nrm"), col("n_nrm")).as("score")),
      Seq(col("src")), g, "rk", byScore("dst"): _*)
    val back = newEdges.select(col("dst").as("src"), col("src").as("dst"),
      col("score"), lit(0L).as("rk"))
    val eStage = IndexStore.stageEpochPath(s"$path/edges", "add")
    newEdges.unionByName(back).repartition(1).write.parquet(eStage)
    IndexStore.commitEpoch(spark, s"$path/edges", eStage)
    val vStage = IndexStore.stageEpochPath(s"$path/vectors", "add")
    newVectors.select(col("vec_id"), col("label"), col("embedding"))
      .repartition(1).write.parquet(vStage)
    IndexStore.commitEpoch(spark, s"$path/vectors", vStage)
  }

  /** BATCH graph-ANN kNN join — the graph-family answer to the
    * nightly "top-k neighbors for every sampled query" job that
    * [[VectorSearch.knnJoin]] answers by brute force (measured 73.8×
    * for 100× rows at the sf10 scale point: cost = queries × corpus).
    * Every sampled query runs a beam descent over the persisted
    * neighbor lists, set-at-a-time: per hop, one keyed join expands
    * all frontiers and one window keeps each query's top-`beam` by
    * (score DESC, id) (WindowGroupLimit, partitioned by q_id — never
    * global). The output is each query's exact rerank over its
    * visited set, self excluded (fixed `hops` unrolled; a converged
    * frontier adds no visits).
    *
    * Seeds: one beam seeded {fixed entry, self}. The fixed entry is
    * the global lowest vec id, or the second-lowest for the query
    * that IS the lowest (a 2-row bounded driver read). Batch queries
    * are corpus members, and their true neighbors live in their own
    * graph component, so the self seed explores the right component
    * on a corpus whose copies share no edges (measured at the tiled
    * sf50 point: the fixed entry alone scored 0.0 recall for every
    * query outside its component).
    *
    * Scale shape: per hop the frontier is |Q|·beam rows, its
    * neighbor expansion ≤ |Q|·beam·(g+1); scoring is one keyed join
    * of that small frame against the cached corpus (AQE broadcasts
    * the frame side), so the whole walk costs hops bounded probe
    * scans instead of brute force's |Q| dot products per corpus row.
    * Each round's state materializes behind a LogicalRDD cut (the
    * iterative-loop convention) so the plan stays O(1) per hop.
    */
  def graphKnnJoin(spark: SparkSession, dir: String, queryMod: Int = 100,
                   k: Int = 10, g: Int = 8, hops: Int = 6,
                   beam: Int = 4): DataFrame = {
    val graph = graft.sources.ScratchCache.materialize(
      ensureGraph(spark, dir, g).select(col("src"), col("dst")))
    val e = graft.sources.ScratchCache.materialize(
      vectors(spark, dir, g)
        .select(col("vec_id"), col("label"), col("embedding"),
          l2norm(col("embedding")).as("nrm")))
    val qs = VectorSearch.querySample(e, queryMod)
    def scored(nodes: DataFrame): DataFrame = nodes
      .join(e.select(col("vec_id").as("v"), col("embedding"), col("nrm")), "v")
      .join(broadcast(qs), "q_id")
      .select(col("q_id"), col("v"),
        cosine5(col("embedding"), col("qv"), col("nrm"), col("qn")).as("s"))
    // bounded driver read: the two lowest corpus ids
    val low2 = e.select(col("vec_id")).orderBy(col("vec_id")).limit(2)
      .collect().map(_.getLong(0))
    require(low2.length == 2, s"graph kNN join needs >= 2 vectors in $dir")
    val seeds = qs.select(col("q_id"),
        when(col("q_id") === low2(0), low2(1)).otherwise(low2(0)).as("v"))
      .unionByName(qs.select(col("q_id"), col("q_id").as("v")))
    var frontier = graft.sources.ScratchCache.materializeCut(scored(seeds))
    var visited = frontier
    for (_ <- 0 until hops) {
      val u = frontier.select(col("q_id"), col("v"))
        .unionByName(frontier.select(col("q_id"), col("v"))
          .join(graph.withColumnRenamed("src", "v"), "v")
          .select(col("q_id"), col("dst").as("v")))
        .distinct()
      val us = graft.sources.ScratchCache.materializeCut(scored(u))
      visited = visited.unionByName(us)
      frontier = TopK.perKey(us, Seq(col("q_id")), beam, "rk", byScore("v", "s"): _*)
        .select(col("q_id"), col("v"), col("s"))
    }
    TopK.perKey(visited.where(col("v") =!= col("q_id")).dropDuplicates("q_id", "v"),
      Seq(col("q_id")), k, "rk", byScore("v", "s"): _*)
      .select(col("q_id"), col("v").as("n_id"), col("s").as("score"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }
}
