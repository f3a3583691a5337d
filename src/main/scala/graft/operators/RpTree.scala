package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.sources.ScratchCache

/** Random-projection-tree ANN — the Annoy family (Spotify's
  * `annoy`: a forest of trees whose internal nodes split on the
  * hyperplane between two sampled member points; ANN candidates are
  * the union of the query's leaf across trees, then an exact rerank).
  * The one industry index family the engine's bake-off
  * ([[Ivf.familyEval]]) didn't cover next to FAISS's flat / IVF / PQ
  * / SQ / binary lineup and the NSW/HNSW walks — the reference's ANN
  * comparison panel (app.py:360-440) is exactly the table a user
  * would consult to pick between these.
  *
  * Determinism contract (what makes the build hard-oracle-able):
  *  - Per (tree, node), the two split anchors are the two
  *    lowest-md5('annoy:t:node:vec_id') members (Annoy samples them
  *    randomly; the hash IS the sample, replayable in SQL). A
  *    single-member node degenerates to anchor_a = anchor_b → a zero
  *    plane that routes its one member right — no special case.
  *  - The split plane is the elementwise double difference a − b;
  *    the threshold is the plane's dot with the midpoint, evaluated
  *    as (plane·a + plane·b) / 2 — every dot the same left-to-right
  *    double fold as [[graft.functions.VectorFunctions.dotd]]
  *    (DuckDB `list_dot_product` parity, the cos5 precedent).
  *  - Routing compares exact doubles (proj ≥ thr → right), so the
  *    leaf assignment is bit-identical across engines.
  *
  * Scale shape: the build is `depth` rounds, each ONE member⋈plane
  * equi-join on (tree, node) plus a (tree, node)-partitioned
  * rank-2 window for the anchors; the plane table is ≤ nTrees·2^ℓ
  * rows per level (bounded — the broadcast side). Leaf membership is
  * a (tree, leaf)-keyed table — at 100 TB it persists partitioned by
  * (tree, leaf) so a query's nTrees leaf probes are partition-pruned
  * reads, exactly the [[Ivf]] literal-cell-id discipline. Candidate
  * volume per query = leaf occupancy × trees ≈ n·nTrees/2^depth,
  * tunable the same way Annoy tunes n_trees/search_k.
  */
object RpTree {

  /** Leaf assignments (tree, vec_id, leaf) and the per-level plane
    * tables, built level by level. Every level's membership and plane
    * frame is ScratchCache-materialized: the plan stays linear in
    * depth, and the query path below re-joins the SAME cached plane
    * frames (so a batch of queries shares one build — the
    * [[Ivf.ensureIndex]] reuse shape without the on-disk artifact).
    */
  private[graft] def build(spark: SparkSession, dir: String, nTrees: Int,
                           depth: Int): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    require(nTrees >= 1 && nTrees <= 16, s"nTrees must be in [1,16]: $nTrees")
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8]: $depth")
    val emb = ScratchCache.materialize(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
    val trees = (0 until nTrees).map(_.toLong).toDF("t")
    var m = ScratchCache.materialize(
      emb.select(col("vec_id")).crossJoin(broadcast(trees))
        .select(col("t"), col("vec_id"), lit(0L).as("node")))
    val planes = (0 until depth).map { _ =>
      val ab = TopK.perKey(m, Seq(col("t"), col("node")), 2, "rk",
          md5(concat(lit("annoy:"), col("t").cast("string"), lit(":"),
            col("node").cast("string"), lit(":"), col("vec_id").cast("string"))),
          col("vec_id"))
        .groupBy(col("t"), col("node"))
        .agg(max(when(col("rk") === 1, col("vec_id"))).as("aid"),
          coalesce(max(when(col("rk") === 2, col("vec_id"))),
            max(when(col("rk") === 1, col("vec_id")))).as("bid"))
      val pl = ScratchCache.materialize(ab
        .join(emb.select(col("vec_id").as("aid"), col("embedding").as("ea")), Seq("aid"))
        .join(emb.select(col("vec_id").as("bid"), col("embedding").as("eb")), Seq("bid"))
        .select(col("t"), col("node"),
          zip_with(col("ea"), col("eb"),
            (x, y) => x.cast("double") - y.cast("double")).as("plane"),
          col("ea"), col("eb"))
        .select(col("t"), col("node"), col("plane"),
          ((dotd(col("plane"), col("ea")) + dotd(col("plane"), col("eb"))) / 2.0)
            .as("thr")))
      m = ScratchCache.materialize(m
        .join(emb, Seq("vec_id"))
        .join(broadcast(pl), Seq("t", "node"))
        .select(col("t"), col("vec_id"),
          (col("node") * 2 + when(dotd(col("plane"), col("embedding")) >= col("thr"),
            lit(1L)).otherwise(lit(0L))).as("node")))
      pl
    }
    (m, planes)
  }

  /** Canonical artifact path for the persisted forest. */
  def indexPath(spark: SparkSession, dir: String, nTrees: Int, depth: Int): String =
    graft.sources.IndexStore.indexPath(spark, "rptree_v1",
      s"$dir/embeddings.parquet", s"${nTrees}_$depth")

  /** The BUILD-ONCE persisted forest — leaf assignments under
    * `leaves/` (t, vec_id, node) and every level's planes under
    * `planes/` (lvl, t, node, plane, thr) — published atomically per
    * (corpus fingerprint, nTrees, depth) like the [[Ivf]]/[[Lsh]]/
    * [[Quantized]] artifacts (guide §1.2: the build is not per-call
    * work). Before this the serving path re-CONSTRUCTED the whole
    * ScratchCache build per call — ~2+2·depth Catalyst plans analyzed
    * per query, measured as the dominant per-call cost (familyEval's
    * rptree row: 1.5 s/call at sf0.1 while probe+rerank is ~0.3 s) —
    * and a cache-cleared session re-executed the un-materialized
    * build DAG with its exponential level-reference blow-up. At
    * 100 TB the leaf table is what the scaladoc above always
    * promised: a (tree, leaf)-keyed persisted table whose nTrees
    * probes are partition-pruned reads. Doubles round-trip parquet
    * exactly, so the replayed routing/thresholds are bit-identical to
    * the in-memory build's. `path` is the caller's resolved
    * [[indexPath]].
    */
  private def ensureIndex(spark: SparkSession, dir: String, nTrees: Int, depth: Int,
                          path: String): (DataFrame, DataFrame) = {
    graft.sources.IndexStore.publish(spark, path) { tmp =>
      val (leaves, planes) = build(spark, dir, nTrees, depth)
      leaves.repartition(1).write.mode("overwrite").parquet(s"$tmp/leaves")
      planes.zipWithIndex.map { case (pl, l) =>
        pl.select(lit(l).as("lvl"), col("t"), col("node"), col("plane"), col("thr"))
      }.reduce(_ unionByName _)
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/planes")
    }
    (graft.sources.IndexStore.open(spark, s"$path/leaves"),
      graft.sources.IndexStore.open(spark, s"$path/planes"))
  }

  /** Annoy-style top-k for a corpus query vector: the query routes
    * down every tree on the DRIVER over the collected plane tables
    * (≤ nTrees·(2^depth − 1) rows — bounded driver state, the
    * [[Ivf]] centroid precedent; [[graft.functions.VectorFunctions.dotLocal]]
    * reproduces the in-plan fold bit-for-bit), so the probe is a
    * LITERAL (tree, leaf) list the leaf scan filters on —
    * partition-prunable at scale, and no per-query routing joins on
    * the cluster. Candidates are the union of the probed leaves'
    * members, exactly reranked by [[TopK.ranked]].
    */
  def rpTreeTopK(spark: SparkSession, dir: String, queryId: Long,
                 nTrees: Int = 4, depth: Int = 3, k: Int = 10): DataFrame =
    rpTreeTopKCore(spark, dir, memberVector(spark, dir, queryId), Some(queryId),
      nTrees, depth, k)

  /** [[rpTreeTopK]] for a CALLER-SUPPLIED query vector (non-member
    * serving): same driver routing down every tree, no self-exclusion.
    */
  def rpTreeTopKVec(spark: SparkSession, dir: String, qv: Array[Float],
                    nTrees: Int = 4, depth: Int = 3, k: Int = 10): DataFrame =
    rpTreeTopKCore(spark, dir, qv, None, nTrees, depth, k)

  private def rpTreeTopKCore(spark: SparkSession, dir: String, qv: Array[Float],
                             exclude: Option[Long], nTrees: Int, depth: Int,
                             k: Int): DataFrame = {
    import spark.implicits._
    val path = indexPath(spark, dir, nTrees, depth)
    val (leaves, planesDf) = ensureIndex(spark, dir, nTrees, depth, path)
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = typedlit(qv)
    // (t, node) -> (plane, thr) per level; ≤ nTrees·2^l rows at level l.
    // Collected ONCE per artifact path (corpus fingerprint, nTrees,
    // depth) via DriverMemo — the tables are a deterministic pure
    // function of the corpus (hash-sampled anchors), bounded driver state (≤
    // nTrees·(2^depth − 1) rows), and the per-call driver routing
    // re-reads them on every query; the single miss is ONE collect of
    // the persisted plane table.
    val planeMaps: Seq[Map[(Long, Long), (Array[Double], Double)]] =
      graft.sources.DriverMemo.memo(spark, s"$path/planes#rows") {
        val all = planesDf.collect()
        (0 until depth).map { l =>
          all.filter(_.getInt(0) == l).map { r =>
            (r.getLong(1), r.getLong(2)) ->
              ((r.getSeq[Double](3).toArray, r.getDouble(4)))
          }.toMap
        }
      }
    val qd = qv.map(_.toDouble)
    val qLeaves: Seq[(Long, Long)] = (0 until nTrees).map { t =>
      var node = 0L
      planeMaps.foreach { pm =>
        val (plane, thr) = pm((t.toLong, node))
        node = node * 2 + (if (dotLocal(plane, qd) >= thr) 1L else 0L)
      }
      (t.toLong, node)
    }
    val probe = qLeaves.map { case (t, n) =>
      col("t") === t && col("node") === n }.reduce(_ || _)
    val cand = leaves.where(probe)
      .where(exclude.map(col("vec_id") =!= _).getOrElse(lit(true)))
      .select(col("vec_id")).distinct()
    TopK.ranked(cand.join(emb, Seq("vec_id"))
      .select(col("vec_id").as("n_id"),
        cosine5(col("embedding"), q, l2norm(col("embedding")), l2norm(q)).as("score")),
      k, "rk", TopK.byScore("n_id"): _*)
      .orderBy(col("rk"))
  }
}
