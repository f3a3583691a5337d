package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.TopK.byScore
import graft.sources.IndexStore

/** Graph-based approximate nearest-neighbor search — the NSW/HNSW
  * index family (Malkov & Yashunin 2018) the quantization families
  * ([[Ivf]], [[Lsh]], [[Quantized]]) don't cover: a build-once
  * neighbor GRAPH artifact plus a greedy best-first descent at query
  * time. The engine's variant is deliberately deterministic so the
  * whole search carries a hard SQL oracle (no RNG level assignment,
  * no insertion-order dependence — the two things that make stock
  * HNSW non-replayable):
  *
  *   - the graph is the exact top-`g` cosine neighbor list per node
  *     (ties on the 5-decimal-rounded score break to the lower id),
  *     persisted once per (corpus, g) via [[IndexStore]] like every
  *     other index artifact;
  *   - search enters at the lowest vec id and runs `hops` beam steps
  *     (NSW ef-search): the next frontier is the top-`beam` of
  *     frontier ∪ neighbors(frontier) by rounded query-cosine (ties →
  *     lower id). Keeping the frontier inside its own candidate set
  *     makes the frontier's best score non-decreasing, so the walk
  *     CONVERGES instead of oscillating;
  *   - the answer is an exact rerank of the VISITED set (entry +
  *     every neighbor list inspected) — standard beam-search output.
  *
  * Scale shape: the build takes its candidate pairs from the SAME
  * banded-LSH blocking as [[Dedup.embeddingNearDupLsh]] (adaptive
  * band width keeps bucket occupancy ~constant, so candidate volume
  * is linear in the corpus, never n²), verifies them with one exact
  * cosine pass, and keeps top-g per node via a per-src
  * WindowGroupLimit — the NSW insert loop re-expressed as one
  * deterministic bulk job. The persisted graph then adds reverse
  * links and connectivity bridges ([[ensureGraph]]) so every node —
  * including isolated ones the LSH blocking never collided — is
  * reachable from the global-min hub in a bounded hop count, the
  * construction-time reachability real HNSW gets from its insert
  * loop (Malkov & Yashunin §4). The walk itself is driver-side probe
  * PLANNING over O(beam·g)-row lookups (the [[Ivf.rankCells]]
  * precedent — FAISS also walks its graph in the coordinator); the
  * final rerank is a distributed scan of the ≤ 1+hops·beam·g visited
  * ids.
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
    * dedup-aware bounded heap ([[TopK.TopKDistinctAgg]] — duplicate
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
      .agg(new TopK.TopKDistinctAgg(g).toColumn.name("top"))
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

  /** The walk's score for a candidate vector against `qv`: the rounded
    * cosine the SQL rerank computes, bit for bit (driver twins
    * [[dotLocal]], [[cosineLocal]], [[r5]]), so the greedy decisions
    * match the SQL replay.
    */
  private def queryCosine(qv: Array[Float]): Array[Float] => Double = {
    val qd = qv.map(_.toDouble)
    val qn = math.sqrt(dotLocal(qd, qd))
    v => {
      val vd = v.map(_.toDouble)
      r5(cosineLocal(dotLocal(qd, vd), math.sqrt(dotLocal(vd, vd)), qn))
    }
  }

  /** The driver-side beam descent both [[graphTopK]] and [[hnswTopK]]
    * run: `hops` rounds of "next frontier = top-`beam` of frontier ∪
    * neighbors(frontier) by rounded query-cosine (ties → lower id)",
    * early-exiting once the frontier is stable (equivalent to running
    * the fixed round count — a stable frontier adds no new visits, so
    * the SQL replay unrolls a constant `hops`). Returns every visited
    * (id, score).
    */
  private def beamWalk(graph: DataFrame, emb: DataFrame,
                       qcos: Array[Float] => Double,
                       entries: Seq[(Long, Double)], hops: Int,
                       beam: Int): Seq[(Long, Double)] = {
    // serving-path warm state (guide §1.2 — remove repeated work;
    // §2.4 — remove shuffles outright): ONE cached (src → neighbor id
    // + embedding) lookup frame per (graph, emb) plan pair, so each
    // hop is a single cached-scan FILTER job — the previous shape ran
    // a join + distinct per hop (a broadcast build and an exchange
    // per hop, ~2 jobs + their Catalyst/AQE planning). The ScratchCache
    // key is the canonicalized plan, so all walks over the same
    // (dir, g) artifact — single-query, HNSW's two layers, repeated
    // calls in an eval loop — share one entry. At scale the frame is
    // the gxdim-denormalized serving adjacency (n·g slim rows,
    // partition-prunable by src) — storage traded for hop latency,
    // the standard serving-index move.
    val nbrEmb = graft.sources.ScratchCache.materialize(
      graph.select(col("src"), col("dst"))
        .join(emb.select(col("vec_id").as("dst"), col("embedding")), "dst")
        .select(col("src"), col("dst"), col("embedding")))
    var frontier = entries.distinctBy(_._1).toVector
    val visited = scala.collection.mutable.LinkedHashMap(frontier: _*)
    var hop = 0
    var converged = false
    while (hop < hops && !converged) {
      // one O(beam·g)-row lookup: the frontier's neighbor lists with
      // their embeddings. Dedup happens HERE on the bounded driver
      // set (the old per-hop `.distinct()` exchange), and
      // already-visited ids are skipped outright: they can never
      // re-enter the frontier — the beam is monotone (next = top-beam
      // of frontier ∪ news, and every current frontier member stays a
      // candidate, so anything once ranked below a full beam stays
      // below it forever) — and their scores are already in `visited`.
      val seen = scala.collection.mutable.HashSet.empty[Long]
      val nbrs = nbrEmb.where(col("src").isin(frontier.map(_._1): _*))
        .select(col("dst"), col("embedding")).collect()
        .iterator
        .filter(r => !visited.contains(r.getLong(0)) && seen.add(r.getLong(0)))
        .map(r => (r.getLong(0), qcos(r.getSeq[Float](1).toArray)))
        .toVector
      visited ++= nbrs
      val next = (frontier ++ nbrs).distinctBy(_._1)
        .sortBy { case (id, s) => (-s, id) }.take(beam)
      converged = next.map(_._1).toSet == frontier.map(_._1).toSet
      frontier = next
      hop += 1
    }
    visited.toSeq
  }

  /** ONE bounded driver read for a walk's seed metadata — the query
    * row (when `queryId` is set), the `nLow` lowest corpus ids with
    * `exclude` applied, and the lowest promoted id (when `promoted`) —
    * where the previous shape ran one job per lookup (qv collect +
    * min() agg + embedding head = 3-5 jobs per single-query call,
    * measured 30-80 ms each at sf0.1). Tags tell the legs apart; each
    * leg is limit-bounded so the collect stays O(1).
    */
  private def seedLookup(emb: DataFrame, queryId: Option[Long],
                         exclude: Option[Long], nLow: Int,
                         promoted: Boolean):
      (Option[Array[Float]], Seq[(Long, Array[Float])], Option[(Long, Array[Float])]) = {
    def excl(df: DataFrame) =
      exclude.map(x => df.where(col("vec_id") =!= x)).getOrElse(df)
    val base = emb.select(col("vec_id"), col("embedding"))
    var legs = excl(base).orderBy(col("vec_id")).limit(nLow)
      .select(lit("low").as("leg"), col("vec_id"), col("embedding"))
    queryId.foreach { q =>
      legs = legs.unionByName(base.where(col("vec_id") === q)
        .select(lit("q").as("leg"), col("vec_id"), col("embedding")))
    }
    if (promoted)
      legs = legs.unionByName(
        excl(base).where(isPromoted(col("vec_id"))).orderBy(col("vec_id")).limit(1)
          .select(lit("promo").as("leg"), col("vec_id"), col("embedding")))
    val rows = legs.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val qv = rows.collectFirst { case ("q", _, e) => e }
    val low = rows.collect { case ("low", id, e) => (id, e) }.sortBy(_._1).toSeq
    val promo = rows.collectFirst { case ("promo", id, e) => (id, e) }
    (qv, low, promo)
  }

  /** Exact distributed rerank of a visited set against the query.
    * `exclude` is the member query's own id (a non-member caller
    * vector excludes nothing).
    */
  private def rerank(emb: DataFrame, exclude: Option[Long],
                     qv: Array[Float], visited: Seq[Long], k: Int): DataFrame = {
    val qd = qv.map(_.toDouble)
    TopK.ranked(emb.where(col("vec_id").isin(visited: _*))
      .where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id").as("n_id"), cosine5(col("embedding"), typedlit(qv),
        l2norm(col("embedding")), lit(math.sqrt(dotLocal(qd, qd)))).as("score")),
      k, "rk", byScore("n_id"): _*)
      .orderBy(col("rk"))
  }

  /** Beam graph descent + exact rerank of the visited set. */
  def graphTopK(spark: SparkSession, dir: String, queryId: Long,
                g: Int = 8, hops: Int = 6, beam: Int = 4,
                k: Int = 10): DataFrame = {
    val graph = ensureGraph(spark, dir, g)
    val emb = vectors(spark, dir, g)
    // one bounded seed lookup (query row + lowest non-query id) where
    // this path previously ran three driver jobs — see [[seedLookup]]
    val (qvOpt, low, _) = seedLookup(emb, Some(queryId), Some(queryId),
      nLow = 1, promoted = false)
    val qv = qvOpt.getOrElse(throw memberNotFound(dir, queryId))
    val qcos = queryCosine(qv)
    val (entry, entryEmb) = low.head
    val entryScore = qcos(entryEmb)
    // the query is a corpus MEMBER (by-id search, the reference's
    // search_by_product_id semantics), so its own node seeds the walk
    // beside the fixed entry: on a corpus whose neighbor graph has
    // disconnected components (measured at the tiled 1 M-vector scale
    // point: recall 0.0 for every query outside the entry's
    // component) the self seed explores the query's own component —
    // the walk stays one beam, and the rerank still excludes self
    val visited = beamWalk(graph, emb, qcos,
      Seq((entry, entryScore), (queryId, qcos(qv))), hops, beam)
    rerank(emb, Some(queryId), qv, visited.map(_._1), k)
  }

  /** NON-member graph search — the reference's free-text serving shape
    * (app.py:169-188: `model.encode(query)` then search; the typed
    * query is NOT a corpus row, so no self seed exists): the walk
    * enters at the global-min hub, whose connectivity bridges
    * ([[ensureGraph]]) put every component within one hop, and the
    * rerank excludes nothing. This is the case the r14 sf50 point
    * measured collapsing to 0.0 recall before the bridge construction
    * — the member-query self seed never covered it.
    */
  def graphTopKVec(spark: SparkSession, dir: String, qv: Array[Float],
                   g: Int = 8, hops: Int = 6, beam: Int = 4,
                   k: Int = 10): DataFrame = {
    val graph = ensureGraph(spark, dir, g)
    val emb = vectors(spark, dir, g)
    val qcos = queryCosine(qv)
    // one bounded seed lookup (lowest corpus id + its embedding) —
    // previously two driver jobs
    val (_, low, _) = seedLookup(emb, None, None, nLow = 1, promoted = false)
    val (entry, entryEmb) = low.head
    val entryScore = qcos(entryEmb)
    val visited = beamWalk(graph, emb, qcos, Seq((entry, entryScore)), hops, beam)
    rerank(emb, None, qv, visited.map(_._1), k)
  }

  /** BATCH graph-ANN kNN join — the graph-family answer to the
    * nightly "top-k neighbors for every sampled query" job that
    * [[VectorSearch.knnJoin]] answers by brute force (measured 73.8×
    * for 100× rows at the sf10 scale point: cost = queries × corpus).
    * Here EVERY query advances through the SAME beam descent
    * [[graphTopK]] runs one-at-a-time, but as set-at-a-time DataFrame
    * rounds: per hop, one keyed join expands all frontiers through
    * the persisted neighbor lists and one window keeps each query's
    * top-`beam` (WindowGroupLimit, partitioned by q_id — never
    * global). The output is each query's exact rerank over its
    * visited set — row-identical to running [[graphTopK]] per query
    * (fixed `hops` unrolled; a converged frontier adds no visits).
    *
    * Entry mirrors the single-query convention: the global lowest
    * vec id, or the second-lowest for the query that IS the lowest
    * (a 2-row bounded driver read).
    *
    * Scale shape: per hop the frontier is |Q|·beam rows, its
    * neighbor expansion ≤ |Q|·beam·(g+1); scoring is one keyed join
    * of that small frame against the cached corpus (AQE broadcasts
    * the frame side), so the whole walk costs hops bounded probe
    * scans instead of brute force's |Q| dot products per corpus row.
    * Each round's state materializes behind a LogicalRDD cut (the
    * iterative-loop convention) so the plan stays O(1) per hop.
    */
  /** `entrySelf`: seed each query's walk at its OWN node IN ADDITION
    * to the global-lowest entry. Batch queries are corpus members by
    * construction, and their true neighbors live in their own graph
    * COMPONENT — on a corpus with disconnected components (measured at
    * the tiled sf50 point: decorrelated copies share no LSH collisions
    * → no cross-copy edges, and the single-entry walk scored 0.0
    * recall for every query outside the entry's component) the
    * fixed-entry walk cannot cross, while the self seed explores
    * exactly the right component. The fixed seed is kept alongside
    * (a weakly-connected self node would otherwise strand the walk —
    * measured: node 0's own neighborhood missed its rank-3 exact
    * neighbor at sf0.001). GT mode
    * ([[VectorSearch.recallGroundTruth]]) sets it and walks the two
    * seeds as INDEPENDENT beams whose visited sets union (monotone ⊇
    * each walk); serving (entrySelf=false) folds both seeds into ONE
    * beam — matching [[graphTopK]] so batch ≡ single stays
    * row-identical, and exactly what the `ann_graph_knn_join` /
    * `ann_graph_topk` oracles replay (dual-seeded `f0`/`bf0` CTEs).
    * The one-beam fold is non-monotone (the self cluster can evict
    * the fixed-entry path — see the walkFrom comment); the serving
    * recall it trades vs GT's two-walk union is recorded in
    * BASELINE.md, not assumed away.
    */
  def graphKnnJoin(spark: SparkSession, dir: String, queryMod: Int = 100,
                   k: Int = 10, g: Int = 8, hops: Int = 6,
                   beam: Int = 4, entrySelf: Boolean = false): DataFrame = {
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
    val fixedSeed = qs.select(col("q_id"),
      when(col("q_id") === low2(0), low2(1)).otherwise(low2(0)).as("v"))
    // one beam walk from one seed set → its visited set. entrySelf
    // runs TWO INDEPENDENT walks and unions the visited sets (below):
    // folding both seeds into one beam is NOT monotone — the self
    // cluster's high scores evict the fixed-entry path from the
    // shared beam (measured: one-beam dual seeding LOST query 0's
    // rank-3 exact neighbor that the fixed-entry walk alone found),
    // while a union of independent walks is ⊇ each walk by
    // construction.
    def walkFrom(seed: DataFrame): DataFrame = {
      var frontier = graft.sources.ScratchCache.materializeCut(scored(seed))
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
      visited
    }
    val selfSeed = qs.select(col("q_id"), col("q_id").as("v"))
    val visited =
      if (entrySelf)
        walkFrom(fixedSeed).unionByName(walkFrom(selfSeed))
      else
        // serving: ONE beam seeded {fixed entry, self} — batch queries
        // are corpus members, and the single-query walk (graphTopK)
        // seeds the same pair, keeping batch ≡ single row-identical
        walkFrom(fixedSeed.unionByName(selfSeed))
    TopK.perKey(visited.where(col("v") =!= col("q_id")).dropDuplicates("q_id", "v"),
      Seq(col("q_id")), k, "rk", byScore("v", "s"): _*)
      .select(col("q_id"), col("v").as("n_id"), col("s").as("score"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Deterministic level-1 promotion — HNSW's geometric level draw
    * (Malkov & Yashunin 2018 §4: node level ~ floor(-ln(U)·mL))
    * re-expressed as a pure id-hash so membership is reproducible and
    * growth-stable: promoted iff u32(md5('hnsw:'||id)) % levelMod = 0
    * (~1/levelMod of the corpus, the 1/M expectation at M=4).
    */
  private[operators] def isPromoted(c: org.apache.spark.sql.Column,
                                    levelMod: Int = 4): org.apache.spark.sql.Column =
    conv(substring(md5(concat(lit("hnsw:"), c.cast("string"))), 1, 8), 16, 10)
      .cast("long") % levelMod === 0

  /** The persisted LEVEL-1 graph: the same banded-LSH-blocked top-g
    * construction as [[buildGraph]], restricted to promoted×promoted
    * pairs — upper-layer candidate volume stays linear exactly like
    * the base layer's.
    */
  def ensureLevel1(spark: SparkSession, dir: String, g: Int): DataFrame = {
    val path = IndexStore.indexPath(
      spark, "nsw_l1_v1", s"$dir/embeddings.parquet", g.toString)
    IndexStore.publish(spark, path) { tmp =>
      import spark.implicits._
      // same dedup-aware heap ranking as buildGraph (see there), over
      // the promoted×promoted restriction of the raw collision stream
      val vp = Dedup.lshScoredPairs(spark, dir, nBands = 32,
        bitsPerBand = 6, bucketCap = 1000L)
        .where(isPromoted(col("a_id")) && isPromoted(col("b_id")))
      vp.select(col("a_id").as("src"), col("b_id").as("dst"), col("score"))
        .unionByName(vp.select(col("b_id").as("src"), col("a_id").as("dst"), col("score")))
        .select(col("src").as("q_id"), col("dst").as("n_id"), col("score"))
        .as[TopK.ScoredPair]
        .groupByKey(_.q_id)
        .agg(new TopK.TopKDistinctAgg(g).toColumn.name("top"))
        .flatMap { case (src, top) =>
          top.iterator.zipWithIndex.map { case ((s, dst), i) =>
            (src, dst, s, (i + 1).toLong) }
        }
        .toDF("src", "dst", "score", "rk")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/edges/epoch=base")
    }
    IndexStore.open(spark, s"$path/edges")
  }

  /** Two-level hierarchical NSW search — the true-HNSW topology over
    * the same deterministic machinery as [[graphTopK]] (Malkov &
    * Yashunin 2018 §4 with 2 layers): a coarse beam descent over the
    * promoted-node level-1 graph finds a NEAR entry point, and the
    * base-layer walk starts THERE instead of at the global lowest id
    * — at scale, the upper layer replaces O(diameter) base hops with
    * O(diameter/levelMod) coarse hops, exactly why HNSW's hierarchy
    * exists. Both walks' visited sets feed one exact rerank, so the
    * hierarchy can only ADD candidates over the level-1 walk alone.
    *
    * Determinism: promotion is an id hash ([[isPromoted]]), both
    * walks are the [[beamWalk]] greedy with rounded scores and
    * lower-id ties, so the whole search — entries, both frontiers,
    * the final top-k — replays in SQL. Falls back to the base entry
    * when no promoted node exists besides the query (tiny corpora).
    */
  def hnswTopK(spark: SparkSession, dir: String, queryId: Long,
               g: Int = 8, k: Int = 10): DataFrame = {
    val graph0 = ensureGraph(spark, dir, g)
    val graph1 = ensureLevel1(spark, dir, g)
    val emb = vectors(spark, dir, g)
    // one bounded seed lookup (query row + lowest non-query id +
    // lowest promoted non-query id) — previously up to five driver
    // jobs per call (qv collect, two min() aggs, two embedding heads)
    val (qvOpt, low, promo) = seedLookup(emb, Some(queryId), Some(queryId),
      nLow = 1, promoted = true)
    val qv = qvOpt.getOrElse(throw memberNotFound(dir, queryId))
    val qcos = queryCosine(qv)
    val visited1 = promo match {
      case None => Seq.empty[(Long, Double)]
      case Some((e1, e1Emb)) =>
        beamWalk(graph1, emb, qcos, Seq((e1, qcos(e1Emb))), hops = 4, beam = 2)
    }
    // base-layer entry: the best node the coarse layer found (the
    // HNSW layer hand-off), falling back to the global lowest id
    val entry0 =
      if (visited1.nonEmpty) visited1.minBy { case (id, s) => (-s, id) }
      else { val (e0, e0Emb) = low.head; (e0, qcos(e0Emb)) }
    // base walk seeds: the coarse hand-off AND the query's own node
    // (member-query self seed — see graphTopK)
    val visited0 = beamWalk(graph0, emb, qcos,
      Seq(entry0, (queryId, qcos(qv))), hops = 6, beam = 4)
    rerank(emb, Some(queryId), qv, (visited1 ++ visited0).map(_._1).distinct, k)
  }

  /** NON-member hierarchical search ([[graphTopKVec]]'s 2-level twin):
    * the coarse promoted-layer descent picks the base hand-off as in
    * [[hnswTopK]], and the base walk seeds {hand-off, global-min hub}
    * — the hub seed replaces the member query's self seed, because the
    * connectivity bridges hang off the hub and a caller-supplied
    * vector has no node of its own to explore from.
    */
  def hnswTopKVec(spark: SparkSession, dir: String, qv: Array[Float],
                  g: Int = 8, k: Int = 10): DataFrame = {
    val graph0 = ensureGraph(spark, dir, g)
    val graph1 = ensureLevel1(spark, dir, g)
    val emb = vectors(spark, dir, g)
    val qcos = queryCosine(qv)
    // one bounded seed lookup (hub + lowest promoted id) — previously
    // up to four driver jobs per call
    val (_, low, promo) = seedLookup(emb, None, None, nLow = 1, promoted = true)
    val (hub, hubEmb) = low.head
    val hubScore = qcos(hubEmb)
    val visited1 = promo match {
      case None => Seq.empty[(Long, Double)]
      case Some((e1, e1Emb)) =>
        beamWalk(graph1, emb, qcos, Seq((e1, qcos(e1Emb))), hops = 4, beam = 2)
    }
    val entry0 =
      if (visited1.nonEmpty) visited1.minBy { case (id, s) => (-s, id) }
      else (hub, hubScore)
    val visited0 = beamWalk(graph0, emb, qcos,
      Seq(entry0, (hub, hubScore)), hops = 6, beam = 4)
    rerank(emb, None, qv, (visited1 ++ visited0).map(_._1).distinct, k)
  }
}
