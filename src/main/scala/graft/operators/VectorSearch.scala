package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.TopK.byScore

/** Exact (flat) vector search operators — the reference's core surface.
  *
  * Design for scale: the query side is always tiny. One query vector —
  * a caller's, or a member's looked up once by [[memberVector]] — ships
  * as a plan literal; a sampled batch is `broadcast()`. The corpus is
  * scanned once with no shuffle. Every cut and rank goes through
  * [[TopK]].
  */
object VectorSearch {

  /** Item-to-item search (reference app.py:221-241
    * `search_by_product_id`): the member's stored embedding, looked up
    * once on the driver ([[memberVector]]; an absent id fails with
    * [[memberNotFound]]), scored against every OTHER corpus row passing
    * `filter` by the same cosine scan a typed query gets
    * ([[topKVec]], app.py:173-188), top-k.
    */
  def topK(spark: SparkSession, dir: String, queryId: Long, k: Int,
           filter: Column = lit(true)): DataFrame =
    memberTopK(Tables.embeddings(spark, dir), memberVector(spark, dir, queryId), queryId, k,
      filter)

  /** The self-exclusion of a by-id search: a [[param]], so the scan
    * compiles once whatever the id.
    */
  private[operators] def notSelf(queryId: Long): Column = col("vec_id") =!= param(queryId)

  /** Top-k of the `frame` rows passing `filter` against the member
    * `queryId`'s vector `qv`, the member itself excluded.
    */
  private[operators] def memberTopK(frame: DataFrame, qv: Array[Float], queryId: Long, k: Int,
                                    filter: Column = lit(true)): DataFrame =
    TopK.first(scoredByVec(frame, qv.map(_.toDouble), filter && notSelf(queryId)),
      k, byScore("vec_id"): _*)

  /** (vec_id, score) of every row of `frame` passing `filter` against a
    * query vector `qd` (an array literal, passed to generated code by
    * reference) whose norm is a driver [[normParam]]; nothing is
    * excluded.
    */
  private[operators] def scoredByVec(frame: DataFrame, qd: Array[Double],
                                     filter: Column): DataFrame =
    frame.where(filter)
      .select(col("vec_id"),
        cosine5(col("embedding"), typedlit(qd), l2norm(col("embedding")), normParam(qd))
          .as("score"))

  /** [[topK]] over an EXTERNAL (vec_id, embedding) frame — the door
    * the reference-artifact sources walk through
    * ([[graft.sources.NpySource]], [[graft.sources.FaissSource]]):
    * the member's row looked up once on the driver (an absent id fails
    * with [[memberNotFound]] naming `source`), then the same
    * single-corpus-scan / TakeOrdered shape, so the engine answers the
    * reference's OWN matrices (app.py:68-80) and not just the parquet
    * twin.
    */
  def topKOf(frame: DataFrame, queryId: Long, k: Int,
             source: String = "the searched frame"): DataFrame =
    memberTopK(frame, memberVector(frame, queryId, source), queryId, k)

  /** [[topKVec]] over an EXTERNAL frame: external query vector (a plan
    * literal, no self-exclusion) against an external (vec_id,
    * embedding) corpus — raw-text search over the reference's own
    * matrices composes [[graft.functions.CorpusLexicalEncoder]] with
    * this.
    */
  def topKVecOf(frame: DataFrame, qv: Array[Float], k: Int): DataFrame =
    TopK.first(scoredByVec(frame, qv.map(_.toDouble), lit(true)), k, byScore("vec_id"): _*)

  /** Two-stage retrieval (reference app.py:156-188): metadata filter
    * builds the candidate set, vector search runs inside it. The filter
    * is pushed into the parquet scan by Catalyst.
    */
  def filteredTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
                   labels: Seq[Int]): DataFrame =
    topK(spark, dir, queryId, k, col("label").isin(labels: _*))

  /** Free-text search seam (reference app.py:169-171
    * `model.encode([text])`): top-k against an EXTERNAL query vector —
    * what an embedding-model front end calls, instead of looking a
    * corpus row up by id. The vector ships as a plan literal (no join,
    * no broadcast table); no self-exclusion since the query is not a
    * corpus row.
    */
  def topKVec(spark: SparkSession, dir: String, qv: Array[Float], k: Int,
              filter: Column = lit(true)): DataFrame =
    TopK.first(scoredByVec(Tables.embeddings(spark, dir), qv.map(_.toDouble), filter),
      k, byScore("vec_id"): _*)

  /** The raw-text front door over [[topKVec]] — the reference's full
    * interactive path (app.py:169-188: `model.encode(query)` then the
    * cosine scan): the configured [[graft.functions.QueryEncoder]]
    * (`spark.graft.encoder.class`) embeds the string on the driver and
    * the vector ships as a plan literal. Swapping the embedding model
    * is a configuration change; no operator references a concrete
    * encoder.
    */
  def topKText(spark: SparkSession, dir: String, text: String, k: Int,
               filter: Column = lit(true)): DataFrame =
    topKVec(spark, dir, graft.functions.QueryEncoder.required(spark).encode(text), k, filter)

  /** Exact L2 (euclidean) top-k — FAISS IndexFlatL2's metric — via the
    * dot-product identity ‖a−b‖ = √(a·a + b·b − 2 a·b), so the same
    * codegen kernel serves both metrics and no per-pair subtraction
    * array is materialized. Ascending distance, ties on id.
    */
  def topKL2(spark: SparkSession, dir: String, queryId: Long, k: Int): DataFrame = {
    val qd = memberVector(spark, dir, queryId).map(_.toDouble)
    TopK.first(Tables.embeddings(spark, dir).where(notSelf(queryId))
      .select(col("vec_id"),
        round(sqrt(dotd(col("embedding"), col("embedding")) + param(dotLocal(qd, qd))
          - lit(2) * dotd(col("embedding"), typedlit(qd))), 5).as("dist")),
      k, col("dist"), col("vec_id"))
  }

  /** Retrieval-quality eval the reference tabulates as Precision@K
    * (ann_tradeoff_table.csv): fraction of each query's top-k whose
    * class label matches the query's — fully oracle-checkable since
    * exact search is deterministic.
    */
  /** The shared top-k block behind BOTH label evals: the
    * [[querySample]] batch, [[batchScores]], per-query [[TopK.perKey]]
    * cut at k. [[knnLabelPrecision]] and [[knnClassify]] MUST rank
    * from this one definition — their oracles assume the identical
    * top-k.
    */
  private def knnTopKByLabel(spark: SparkSession, dir: String, queryMod: Int,
                             k: Int, maxQueries: Int = Int.MaxValue): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val scored = batchScores(e, querySample(e, queryMod, maxQueries),
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("label").as("n_label"), col("vec_id").as("n_id"),
        col("score"))
    TopK.perKey(scored, Seq(col("q_id")), k, "rk", byScore("n_id"): _*)
  }

  /** Each query's plurality neighbor label (ties toward the smaller
    * label) with its vote count, over a [[knnTopKByLabel]] frame.
    */
  private def plurality(kn: DataFrame): DataFrame =
    TopK.perKey(kn.groupBy(col("q_id"), col("q_label"), col("n_label"))
      .agg(count(lit(1)).as("n_votes")),
      Seq(col("q_id")), 1, "vr", col("n_votes").desc, col("n_label"))

  def knnLabelPrecision(spark: SparkSession, dir: String, queryMod: Int, k: Int): DataFrame = {
    knnTopKByLabel(spark, dir, queryMod, k)
      .withColumn("m", when(col("n_label") === col("q_label"), 1))
      .groupBy(col("q_id"), col("q_label").cast("long").as("q_label"))
      .agg(count(col("m")).as("n_match"))
      .withColumn("precision", col("n_match") / lit(k.toDouble))
      .orderBy(col("q_id"))
  }

  /** nDCG@k of the label-relevance retrieval — the position-aware
    * retrieval-quality metric next to [[knnLabelPrecision]]'s flat
    * Precision@K (same sampled query batch, same exact top-k): a
    * relevant hit at rank 1 is worth 1, at rank i only 1/log2(i+1)
    * (Järvelin & Kekäläinen 2002), so ranking improvements INSIDE the
    * top-k move this number while precision is blind to them. Binary
    * relevance (neighbor shares the query's label); the ideal DCG
    * places all R same-label corpus docs (minus the query itself,
    * capped at k) at the top. Queries whose label has no other member
    * (IDCG = 0) score 0 by convention. Every log is written
    * ln(x)/ln(2) so both engines build the identical float
    * expression; the per-rank discount folds left-to-right in both.
    *
    * Scale shape: [[knnLabelPrecision]]'s broadcast-batch scan plus
    * one |labels|-row broadcast join and a per-query fold over ≤ k
    * terms — nothing new shuffles.
    */
  def knnNdcg(spark: SparkSession, dir: String, queryMod: Int = 100,
              k: Int = 10): DataFrame = {
    val per = knnTopKByLabel(spark, dir, queryMod, k)
      .groupBy(col("q_id"), col("q_label").cast("long").as("q_label"))
      .agg(
        count(when(col("n_label") === col("q_label"), 1)).as("n_rel"),
        sum(when(col("n_label") === col("q_label"),
          lit(1.0) / (log(col("rk") + lit(1.0)) / log(lit(2.0))))
          .otherwise(lit(0.0))).as("dcg"))
    val labCnt = Tables.embeddings(spark, dir)
      .groupBy(col("label").cast("long").as("q_label"))
      .agg(count(lit(1)).as("n_lab"))
    per.join(broadcast(labCnt), "q_label")
      .withColumn("r", least(col("n_lab") - 1, lit(k.toLong)))
      .withColumn("idcg", when(col("r") > 0,
        aggregate(sequence(lit(1L), col("r")), lit(0.0),
          (acc, i) => acc + lit(1.0) /
            (log(i.cast("double") + lit(1.0)) / log(lit(2.0)))))
        .otherwise(lit(0.0)))
      .select(col("q_id"), col("q_label"), col("n_rel"),
        round(col("dcg"), 5).as("dcg"),
        when(col("idcg") > 0, round(col("dcg") / col("idcg"), 5))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy(col("q_id"))
  }

  /** kNN majority-vote classification over the embedding space — the
    * label-prediction twin of [[knnLabelPrecision]] (same sampled
    * query batch, same exact top-k): each query's predicted label is
    * the mode of its k nearest neighbors' labels, ties broken toward
    * the smaller label id so the vote is deterministic on both the
    * engine and the DuckDB oracle.
    *
    * Scale shape: identical to [[knnLabelPrecision]] — tiny broadcast
    * query batch, one corpus scan, per-query window top-k — plus one
    * extra aggregate over k rows per query (negligible).
    */
  def knnClassify(spark: SparkSession, dir: String, queryMod: Int, k: Int,
                  maxQueries: Int = Int.MaxValue): DataFrame = {
    plurality(knnTopKByLabel(spark, dir, queryMod, k, maxQueries))
      .select(col("q_id"), col("q_label").cast("long").as("q_label"),
        col("n_label").cast("long").as("pred_label"), col("n_votes"),
        (col("q_label") === col("n_label")).as("correct"))
      .orderBy(col("q_id"))
  }

  /** kNN-graph hubness diagnostic (Radovanović et al. 2010): the
    * in-degree distribution of the sampled kNN graph — how often each
    * corpus vector shows up in OTHER vectors' top-k — plus the
    * mutual-edge fraction among query-query pairs. High-dimensional
    * embedding spaces concentrate: a few hub vectors invade everyone's
    * neighbor lists (max in-degree ≫ k·|Q|/|corpus|) and neighbor
    * relations stop being symmetric, which silently degrades every
    * kNN consumer ([[knnClassify]], [[labelNoiseSuspects]], graph-ANN
    * recall). This is the one-row check run before trusting any of
    * them on a new embedding model.
    *
    * Same bounded broadcast batch / exact top-k as [[knnClassify]];
    * in-degree counts and the reciprocal-pair join are exact integer
    * ops over the ≤|Q|·k edge frame; two rounded divisions. The hub
    * id ties toward the smaller vec_id.
    */
  def knnHubness(spark: SparkSession, dir: String, queryMod: Int = 20,
                 k: Int = 10, maxQueries: Int = 64): DataFrame = {
    val kn = graft.sources.ScratchCache.materialize(
      knnTopKByLabel(spark, dir, queryMod, k, maxQueries)
        .select(col("q_id"), col("n_id")))
    val deg = kn.groupBy(col("n_id")).agg(count(lit(1)).as("d"))
    val hub = TopK.first(deg, 1, col("d").desc, col("n_id"))
      .select(col("n_id").as("hub_vec_id"), col("d").as("max_in_degree"))
    val qq = kn.join(kn.select(col("q_id").as("n_id")).distinct(), Seq("n_id"))
    val mutual = qq.as("a").join(qq.as("b"),
      col("a.q_id") === col("b.n_id") && col("a.n_id") === col("b.q_id"))
      .agg(count(lit(1)).as("n_mutual"))
    val base = kn.agg(countDistinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_edges"),
      countDistinct(col("n_id")).as("n_distinct_neighbors"))
    base.crossJoin(broadcast(hub))
      .crossJoin(broadcast(qq.agg(count(lit(1)).as("n_qq"))))
      .crossJoin(broadcast(mutual))
      .select(col("n_queries"), col("n_edges"), col("n_distinct_neighbors"),
        round(col("n_edges") / col("n_distinct_neighbors"), 5).as("mean_in_degree"),
        col("max_in_degree"), col("hub_vec_id"), col("n_qq"), col("n_mutual"),
        when(col("n_qq") === 0, lit(0.0))
          .otherwise(round(col("n_mutual") / col("n_qq"), 5)).as("mutual_fraction"))
  }

  /** Label-noise suspects (Confident Learning's kNN-lite, Northcutt
    * et al. 2021's diagnostic shape): sampled vectors whose k nearest
    * neighbors' PLURALITY label disagrees with their own — ranked by
    * neighborhood disagreement, with the plurality vote as the
    * suggested relabel. The triage list a labeling owner reads before
    * a noisy class poisons a trained filter; at 100 TB label audits
    * run exactly this way, sampled and ANN-assisted.
    *
    * Same bounded broadcast batch / corpus scan / per-query window as
    * [[knnClassify]] (denser sample, mod 5 capped at 128); the vote
    * and agree counts are exact integers over exactly k rows, the
    * disagreement ratio is one rounded division, and the cut orders
    * (disagreement DESC, n_votes DESC, vec_id) — fully deterministic.
    */
  def labelNoiseSuspects(spark: SparkSession, dir: String, queryMod: Int = 5,
                         k: Int = 10, maxQueries: Int = 128,
                         topN: Int = 25): DataFrame = {
    val kn = knnTopKByLabel(spark, dir, queryMod, k, maxQueries)
    val top = plurality(kn)
    val agree = kn.groupBy(col("q_id"))
      .agg(count(when(col("n_label") === col("q_label"), 1)).as("n_agree"))
    TopK.first(top.join(agree, "q_id")
      .where(col("n_label") =!= col("q_label"))
      .select(col("q_id").as("vec_id"), col("q_label").cast("long").as("label"),
        col("n_label").cast("long").as("suggested_label"), col("n_votes"),
        col("n_agree"),
        round((lit(k) - col("n_agree")) / lit(k.toDouble), 5).as("disagreement")),
      topN, col("disagreement").desc, col("n_votes").desc, col("vec_id"))
  }

  /** Confusion matrix of the kNN classifier ([[knnClassify]] at a
    * denser query sample): counts per (true label, predicted label) —
    * the table that turns a single accuracy number into "label 3 is
    * absorbed by label 1", i.e. which embedding clusters actually
    * overlap. Same broadcast batch/scan/window as the classifier; the
    * matrix aggregate adds |labels|² bounded rows. The sample is
    * BOUNDED (lowest `maxQueries` mod-selected ids — a TakeOrdered cut
    * the oracle replays): an unbounded mod-sample grows with the
    * corpus and turns the broadcast batch×scan into O(corpus²/mod) —
    * the familyEval lesson (BASELINE.md sf1 series).
    */
  def knnConfusion(spark: SparkSession, dir: String, queryMod: Int = 20,
                   k: Int = 10, maxQueries: Int = 64): DataFrame =
    knnClassify(spark, dir, queryMod, k, maxQueries)
      .groupBy(col("q_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("q_label"), col("pred_label"))

  /** kNN regression evaluation: predict each sampled query document's
    * length (`n_chars`, the one numeric target the corpus carries per
    * vector id) as the MEAN of its k nearest neighbors' lengths, and
    * report RMSE/MAE against truth — the standard "do distances in
    * this embedding space carry the signal" probe, and the regression
    * twin of [[knnLabelPrecision]]. Neighbor lists are the same exact
    * top-k window; the target joins in by id (vec_id = doc_id,
    * SURVEY §2's data model); the prediction is an exact integer sum
    * over exactly k rows divided once. Output is one summary row.
    */
  def knnRegressEval(spark: SparkSession, dir: String, queryMod: Int = 20,
                     k: Int = 10, maxQueries: Int = 64): DataFrame = {
    val chars = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val pred = knnTopKByLabel(spark, dir, queryMod, k, maxQueries)
      .join(chars.select(col("doc_id").as("n_id"), col("n_chars")), Seq("n_id"))
      .groupBy(col("q_id"))
      .agg((sum(col("n_chars")) / lit(k.toDouble)).as("pred"))
    pred.join(chars.select(col("doc_id").as("q_id"), col("n_chars").as("actual")), Seq("q_id"))
      .agg(count(lit(1)).as("n_queries"),
        round(sqrt(avg(pow(col("pred") - col("actual"), 2))), 4).as("rmse"),
        round(avg(abs(col("pred") - col("actual"))), 4).as("mae"),
        round(avg(col("actual")), 4).as("mean_actual"))
  }

  /** Embedding-corpus sanity stats: per-label vector count and L2-norm
    * distribution (mean/std/min/max). The first thing a pipeline
    * checks after an embedding run — collapsed norms or a label whose
    * norms drifted signal an encoder bug before anything downstream
    * spends compute on the vectors.
    *
    * Scale shape: one narrow scan + one map-side-combined aggregate;
    * output rows = label cardinality. Norms are rounded to 5 decimals
    * BEFORE aggregating so both engines aggregate identical values;
    * mean/std round to 4 to absorb summation-order drift.
    */
  def embedNormStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        round(l2norm(col("embedding")), 5).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("nrm")), 4).as("avg_norm"),
        round(stddev(col("nrm")), 4).as("std_raw"),
        round(min(col("nrm")), 5).as("min_norm"),
        round(max(col("nrm")), 5).as("max_norm"))
      // a single-vector label: Spark stddev_samp yields NaN where the
      // DuckDB oracle's stddev yields NULL — align on NULL
      .select(col("label"), col("n_vecs"), col("avg_norm"),
        when(isnan(col("std_raw")), lit(null).cast("double"))
          .otherwise(col("std_raw")).as("std_norm"),
        col("min_norm"), col("max_norm"))
      .orderBy(col("label"))

  /** Per-DIMENSION embedding corpus stats — the other axis of
    * [[embedNormStats]]'s encoder QA: count/mean/std/min/max of every
    * coordinate. A dead dimension (std≈0) means wasted index bytes, a
    * mean far from 0 breaks the symmetric-quantizer assumption SQ8/PQ
    * make, and a heavy-tailed dim dominates L2 — this is the report
    * that justifies the [[Quantized.pcaProject]] rotation. One
    * posexplode keyed by position (64·n narrow rows, map-side
    * combined), 64-row output; std derives from exact Σv/Σv² sums via
    * the same expression dag on both engines.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("pos").cast("long").as("pos"), col("vf").cast("double").as("v"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("s1"), sum(col("v") * col("v")).as("s2"),
        round(min(col("v")), 5).as("min_v"), round(max(col("v")), 5).as("max_v"))
      .select(col("pos"), col("n"),
        round(col("s1") / col("n"), 5).as("mean_v"),
        round(sqrt(greatest((col("s2") - col("s1") * col("s1") / col("n"))
          / (col("n") - 1), lit(0.0))), 5).as("std_v"),
        col("min_v"), col("max_v"))
      .orderBy(col("pos"))

  /** Two-stage retrieval where the metadata lives in ANOTHER table
    * (reference app.py:156-164 filters product metadata before
    * searching embeddings): candidate set = documents join on id.
    */
  def metaFilteredTopK(spark: SparkSession, dir: String, queryId: Long, k: Int,
                       lang: String, minChars: Long): DataFrame = {
    val d = Tables.documents(spark, dir)
      .where(col("lang") === lang && col("n_chars") >= minChars)
      .select(col("doc_id"))
    memberTopK(Tables.embeddings(spark, dir).join(d, col("vec_id") === col("doc_id")),
      memberVector(spark, dir, queryId), queryId, k)
  }

  /** Two-stage retrieval with an ARRAY-membership metadata filter —
    * the reference's products carry a multi-valued `categories` list
    * (app.py:118) and a catalog user filters by category membership:
    * candidates = documents whose tag array contains `tag`
    * ([[Analytics.docTags]]), then exact cosine top-k.
    * `array_contains` is a row-level predicate on the candidate scan —
    * no explode ever reaches the search path.
    */
  def tagFilteredTopK(spark: SparkSession, dir: String, queryId: Long, tag: String,
                      k: Int): DataFrame = {
    val d = Analytics.docTags(spark, dir)
      .where(array_contains(col("tags"), tag))
      .select(col("doc_id"))
    memberTopK(Tables.embeddings(spark, dir).join(d, col("vec_id") === col("doc_id")),
      memberVector(spark, dir, queryId), queryId, k)
  }

  /** Pairwise cosine similarity matrix for a small id set
    * (reference app.py:348-356, product comparison tab), computed on
    * the driver: the members come from one [[memberRows]] read (a
    * driver point read when the zone map isolates every id: no Spark
    * job), and each pair is scored by the driver twins of
    * [[cosine5]] ([[dotLocal]], [[cosineLocal]], [[r5]]), bit-equal to
    * the plan. Returns a local relation of at most (distinct ids)²
    * rows ordered by (a_id, b_id); absent ids are omitted, a member
    * with a null embedding or element fails with [[memberInvalid]], and
    * a pair of mismatched dimensions scores null.
    */
  def simMatrix(spark: SparkSession, dir: String, ids: Seq[Long]): DataFrame = {
    val source = s"$dir/embeddings.parquet"
    val vs = memberRows(spark, dir, ids).map { r =>
      val v = memberEmbedding(source, r.getLong(0), r.getSeq[Any](1)).map(_.toDouble)
      (r.getLong(0), v, math.sqrt(dotLocal(v, v)))
    }
    val n = ids.distinct.size
    val pairs = for ((a, av, an) <- vs; (b, bv, bn) <- vs) yield {
      val score = if (av.length != bv.length) null
        else Double.box(r5(cosineLocal(dotLocal(av, bv), an, bn)))
      Row(a, b, score)
    }
    spark.createDataFrame(pairs.sortBy(r => (r.getLong(0), r.getLong(1))).take(n * n).asJava,
      simMatrixSchema)
  }

  private val simMatrixSchema = StructType(Seq(StructField("a_id", LongType),
    StructField("b_id", LongType), StructField("score", DoubleType)))

  /** The evaluation core's sample rule — every batch kNN op and recall
    * sweep samples here, scores with [[batchScores]], takes ground
    * truth from [[recallGroundTruth]] and folds with [[recallFold]]:
    * members with `vec_id % queryMod = 0`, and when bounded only the
    * lowest `maxQueries` of those ids (a TakeOrdered cut the oracles
    * replay; it keeps the broadcast batch O(1) in the corpus size).
    * `frame` has vec_id, label, embedding; returns (q_id, q_label, qv, qn).
    */
  private[operators] def querySample(frame: DataFrame, queryMod: Int,
                                     maxQueries: Int = Int.MaxValue): DataFrame = {
    val q = frame.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qv"), l2norm(col("embedding")).as("qn"))
    if (maxQueries == Int.MaxValue) q else q.orderBy(col("q_id")).limit(maxQueries)
  }

  /** `q` broadcast to one scan of `corpus` under the join condition
    * `pair`, plus the round-5 cosine `score`; norms once per row, never
    * per pair. Keeps every column of both sides.
    */
  private[operators] def batchScores(corpus: DataFrame, q: DataFrame, pair: Column): DataFrame =
    corpus.withColumn("nrm", l2norm(col("embedding")))
      .join(broadcast(q), pair)
      .withColumn("score", cosine5(col("embedding"), col("qv"), col("nrm"), col("qn")))

  /** Exact per-query top-k, self excluded: (q_id, n_id, score, rk). */
  private def exactKnn(corpus: DataFrame, q: DataFrame, k: Int): DataFrame =
    TopK.perKey(batchScores(corpus, q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("score")),
      Seq(col("q_id")), k, "rk", byScore("n_id"): _*)

  /** Ground truth (q_id, n_id, score, rk) of the [[querySample]] batch
    * for every recall sweep: the exact per-query top-k, self excluded
    * (brute force over one broadcast-batch scan).
    */
  def recallGroundTruth(spark: SparkSession, dir: String, queryMod: Int, k: Int,
                        maxQueries: Int = Int.MaxValue): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    exactKnn(e, querySample(e, queryMod, maxQueries), k)
  }

  /** Recall@K and MRR of `ranked` (by, q_id, n_id, rk) against `gt`
    * per sweep key `by`, in ONE aggregate: key → (r5(hits / (nq·k)),
    * r5(Σ 1/rk of each gt rank-1 hit / nq)). (q_id, n_id) must be
    * unique per key; a key with no ranked row is absent.
    */
  private[operators] def recallFold(ranked: DataFrame, gt: DataFrame, by: String,
                                    nq: Double, k: Int): Map[Any, (Double, Double)] =
    ranked.join(gt.select(col("q_id"), col("n_id"), col("rk").as("gt_rk")),
        Seq("q_id", "n_id"), "left_outer")
      .groupBy(col(by))
      .agg(count(col("gt_rk")).as("hits"),
        sum(when(col("gt_rk") === 1, lit(1.0) / col("rk"))).as("rr"))
      .collect().map { r =>
        val rr = if (r.isNullAt(2)) 0.0 else r.getDouble(2)
        r.get(0) -> ((r5(r.getLong(1) / (nq * k)), r5(rr / nq)))
      }.toMap

  /** Distributed kNN join: for each query vector (the [[querySample]]
    * batch) find its top-k nearest corpus vectors. Generalizes the
    * reference's one-query-at-a-time flat search to a batch operator.
    *
    * Scale: queries broadcast (corpus never shuffled for the join);
    * ranking shuffles only (q_id, n_id, score) triples — 16 bytes a
    * row, not embeddings.
    */
  def knnJoin(spark: SparkSession, dir: String, queryMod: Int, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    exactKnn(e, querySample(e, queryMod), k).orderBy(col("q_id"), col("rk"))
  }

  /** Session-based recommendation — the app-level composition the
    * reference exists to serve (its Streamlit UI recommends products
    * from what a shopper looked at): a user's view/click events yield
    * their item set (`props.k`), the PROFILE vector is the
    * dimension-wise mean of those items' embeddings, and the
    * recommendation is exact cosine top-k over the corpus MINUS the
    * already-seen items.
    *
    * Scale shape: the profile reduces through a (pos → mean)
    * aggregate and only `dim` doubles reach the driver (bounded
    * planning data, like every probe plan); the corpus scan then
    * costs one VecDot per row against the literal profile, and the
    * seen-set exclusion is a broadcast anti-join. At 100 TB the same
    * plan serves billions of rows; nothing scales with the user's
    * history but the tiny profile aggregate.
    */
  def recommendForUser(spark: SparkSession, dir: String, userId: Long, k: Int): DataFrame = {
    val seen = Tables.events(spark, dir)
      .where(col("user_id") === userId && col("event_type").isin("view", "click"))
      .select(get_json_object(col("props"), "$.k").cast("long").as("vec_id"))
      .distinct()
    val e = Tables.embeddings(spark, dir)
    val prof = e.join(seen, "vec_id")
      .select(posexplode(col("embedding")))
      .toDF("pos", "v")
      .groupBy(col("pos")).agg(avg(col("v")).as("m"))
      .orderBy(col("pos")).collect()
    require(prof.nonEmpty, s"user $userId has no embeddable interactions")
    // round the profile components to 12 decimals: Spark's partial-agg
    // summation order is nondeterministic and differs from the
    // oracle's, so the raw means drift by ~1 ulp between runs and
    // engines; at 12 decimals (1e7× coarser than the drift, 1e7×
    // finer than the 5-decimal score round) both sides build the
    // IDENTICAL profile literal and downstream is one expression dag
    val pv: Array[Double] = prof.map(r =>
      BigDecimal(r.getDouble(1)).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // left-to-right fold — the same association order the oracle's
    // list_dot_product uses, so both engines derive one norm
    val pn = math.sqrt(dotLocal(pv, pv))
    TopK.first(e.join(seen, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), cosine5(col("embedding"), typedlit(pv),
        l2norm(col("embedding")), lit(pn)).as("score")), k, byScore("vec_id"): _*)
  }

  /** Hard-negative mining — the contrastive-training data op (batch
    * triplet construction): for each anchor, the `k` highest-cosine
    * corpus vectors with a DIFFERENT label. These near-miss negatives
    * are what make a contrastive epoch informative; random negatives
    * are trivially separable. Same distributed shape as [[knnJoin]]
    * (anchors broadcast, one corpus scan, WindowGroupLimit-bounded
    * per-anchor ranking) with the label-mismatch predicate fused into
    * the join condition, so same-label pairs never leave the probe.
    */
  def hardNegatives(spark: SparkSession, dir: String, queryMod: Int, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val scored = batchScores(e, querySample(e, queryMod), col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label").cast("long").as("q_label"),
        col("vec_id").as("neg_id"), col("label").cast("long").as("neg_label"), col("score"))
    TopK.perKey(scored, Seq(col("q_id")), k, "rk", byScore("neg_id"): _*)
      .orderBy(col("q_id"), col("rk"))
  }

  /** Triplet mining for metric-learning training data — the FaceNet
    * batch-hard convention (Schroff et al., CVPR 2015) over the
    * labeled embedding corpus: per anchor, the HARDEST positive (the
    * same-label vector it is least similar to — the pair the
    * embedding must pull together) and the HARDEST negative (the
    * different-label vector it is most similar to — the pair it must
    * push apart), plus the margin between them and the semi-hard flag
    * (negative still inside the `alpha` band — the triplets FaceNet
    * actually trains on; a mined set with few semi-hards means the
    * margin is learned and mining should move on). The complement of
    * [[hardNegatives]], which mines only the negative leg.
    *
    * Scale shape: two broadcast-batch scans of the corpus (one per
    * leg) with per-anchor WindowGroupLimit argmins/argmaxes — the
    * [[knnLabelPrecision]] cost envelope, anchors bounded by the mod
    * sample.
    */
  def tripletMine(spark: SparkSession, dir: String, queryMod: Int = 100,
                  alpha: Double = 0.2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = querySample(e, queryMod)
    def leg(cond: Column, asc: Boolean, idName: String, scName: String) = {
      val scored = batchScores(e, q, cond && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("q_label"), col("vec_id").as(idName), col("score").as(scName))
      TopK.perKey(scored, Seq(col("q_id")), 1, "rk",
        if (asc) col(scName).asc else col(scName).desc, col(idName))
        .drop("rk")
    }
    val pos = leg(col("label") === col("q_label"), asc = true, "pos_id", "pos_score")
    val neg = leg(col("label") =!= col("q_label"), asc = false, "neg_id", "neg_score")
      .drop("q_label")
    pos.join(neg, "q_id")
      .select(col("q_id").as("a_id"), col("q_label").cast("long").as("a_label"),
        col("pos_id"), col("pos_score"), col("neg_id"), col("neg_score"),
        round(col("pos_score") - col("neg_score"), 5).as("margin"))
      .withColumn("semi_hard",
        col("neg_score") < col("pos_score") && col("margin") < alpha)
      .orderBy(col("a_id"))
  }

  /** Per-label centroid table — class prototypes over the embedding
    * corpus (the prototype-classifier / cluster-seeding building
    * block, and the per-class analog of recommend_user's profile
    * vector). Emitted as (label, pos, m, n_vecs) rows, the sparse
    * layout that joins and aggregates without ever materializing a
    * dense per-label vector on the driver.
    *
    * Scale: one explode keyed by (label, pos) — dim·n rows shuffled
    * with map-side partial avg, output is |labels|·dim rows. No
    * driver data, no collect.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
      .toDF("label", "pos", "v")
      .withColumn("pos", col("pos").cast("long"))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 5).as("m"), count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("pos"))

  /** Per-label embedding outliers — the vectors FARTHEST from their
    * label's centroid (squared L2), the standard mislabel/contamination
    * detector over an embedded corpus: a point far from its class
    * prototype is either mislabeled, an outlier, or genuinely hard.
    *
    * Oracle parity: centroid components are the 5-decimal-rounded
    * per-dimension means (exactly [[labelCentroids]]' contract, already
    * oracle-proven), and the distance is computed via the dot-product
    * identity ‖v−c‖² = v·v − 2·v·c + c·c, so every float-summation is
    * a deterministic left-to-right [[VectorFunctions.dotd]] fold that
    * DuckDB's `list_dot_product` reproduces bit-for-bit — the same
    * algebraic-identity trick the SQ8/L2 operators use (SURVEY §4).
    *
    * Scale: the centroid table is |labels|·dim rows aggregated with
    * map-side partial avg, collapsed to |labels| array rows and
    * BROADCAST; scoring is then one narrow codegen'd pass over the
    * corpus and a WindowGroupLimit top-N per label. No driver vectors,
    * no shuffle of the embedding column.
    */
  def labelOutliers(spark: SparkSession, dir: String, topN: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("embedding"))
    val cent = emb
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "pos", "v")
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 5).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"), transform(col("pm"), x => x.getField("m")).as("centroid"))
    TopK.perKey(emb.join(broadcast(cent), Seq("label"))
      .withColumn("dist_sq", round(
        dotd(col("embedding"), col("embedding"))
          - lit(2.0) * dotd(col("embedding"), col("centroid"))
          + dotd(col("centroid"), col("centroid")), 5)),
      Seq(col("label")), topN, "rk", col("dist_sq").desc, col("vec_id"))
      .select(col("label"), col("vec_id"), col("dist_sq"), col("rk"))
      .orderBy(col("label"), col("rk"))
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    * diversified top-k: fetch the `fetchK` most relevant candidates,
    * then greedily select `k` maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    * standard post-retrieval diversifier (a catalog UI showing ten
    * near-identical variants of one product is a worse panel than ten
    * relevant-but-distinct ones).
    *
    * Scale: the DISTRIBUTED part is the candidate fetch (the same
    * TakeOrdered single-scan plan as [[topK]], with embeddings riding
    * along); the greedy rerank is inherently sequential over fetchK
    * rows (k·fetchK·dim flops on ≤ fetchK vectors) and runs on the
    * driver like every post-retrieval rerank — bounded planning-sized
    * data, NOT a corpus collect. Ties break on (score, relevance,
    * lower id) so the output is deterministic; λ=1 reduces exactly to
    * [[topK]] order.
    */
  def mmrRerank(spark: SparkSession, dir: String, queryId: Long, k: Int = 10,
                fetchK: Int = 30, lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1]: $lambda")
    require(fetchK >= k, s"fetchK $fetchK must be >= k $k")
    val qd = memberVector(spark, dir, queryId).map(_.toDouble)
    val cands = TopK.first(Tables.embeddings(spark, dir).where(notSelf(queryId))
      .withColumn("nrm", l2norm(col("embedding")))
      .select(col("vec_id"),
        cosine5(col("embedding"), typedlit(qd), col("nrm"), normParam(qd)).as("relevance"),
        col("embedding"), col("nrm")), fetchK, byScore("vec_id", "relevance"): _*)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Float](2).map(_.toDouble).toArray, r.getDouble(3)))
    def cos(a: (Long, Double, Array[Double], Double),
            b: (Long, Double, Array[Double], Double)): Double =
      cosineLocal(dotLocal(a._3, b._3), a._4, b._4)
    val selected = scala.collection.mutable.ArrayBuffer.empty[((Long, Double, Array[Double], Double), Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands.indices: _*)
    while (selected.size < math.min(k, cands.length)) {
      val best = remaining.maxBy { ri =>
        val c = cands(ri)
        val maxSim = if (selected.isEmpty) 0.0
                     else selected.iterator.map(s => cos(c, s._1)).max
        (lambda * c._2 - (1 - lambda) * maxSim, c._2, -c._1)
      }
      val c = cands(best)
      val maxSim = if (selected.isEmpty) 0.0
                   else selected.iterator.map(s => cos(c, s._1)).max
      selected += ((c, lambda * c._2 - (1 - lambda) * maxSim))
      remaining -= best
    }
    selected.zipWithIndex.map { case ((c, s), i) => (i + 1L, c._1, c._2, r5(s)) }.toSeq
      .toDF("rank", "vec_id", "relevance", "mmr_score")
  }

  /** Label-separation margins (silhouette-lite): per label, the mean
    * cosine of members to their OWN centroid vs to the best OTHER
    * centroid — the one-table answer to "are these classes actually
    * separated in embedding space?" that gates classifier/cluster
    * work before anyone trains. Centroids stay relational
    * ([[labelOutliers]]' rounded-mean contract, broadcast as
    * |labels| array rows); scoring is a broadcast cross join —
    * |labels| codegen'd VecDots per corpus row, no shuffle of the
    * embedding column; the per-vector own/best-other fold and the
    * per-label aggregate are two bounded groupBys.
    */
  def labelSeparation(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"), col("embedding"))
    val cent = emb
      .select(col("label").as("cl"), posexplode(col("embedding")))
      .toDF("cl", "pos", "v")
      .groupBy(col("cl"), col("pos"))
      .agg(round(avg(col("v")), 5).as("m"))
      .groupBy(col("cl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cl"), transform(col("pm"), x => x.getField("m")).as("centroid"))
    val scored = emb.crossJoin(broadcast(cent))
      .withColumn("cos", cosine5(col("embedding"), col("centroid"),
        l2norm(col("embedding")), l2norm(col("centroid"))))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("cl") === col("label"), col("cos"))).as("own"),
        max(when(col("cl") =!= col("label"), col("cos"))).as("other"))
    scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("own")), 4).as("mean_own_cos"),
        round(avg(col("other")), 4).as("mean_other_cos"),
        round(avg(col("own") - col("other")), 4).as("margin"))
      .orderBy(col("label"))
  }

  /** Per-source embedding drift: how far each source's centroid points
    * from the corpus centroid (cosine alignment) — the data-drift
    * detector that catches a re-crawled or mistranslated source whose
    * vectors moved even though its metadata didn't. One posexplode
    * pass aggregates (source, dim) sums (map-side combined,
    * |sources|×dim rows); the corpus centroid derives by RE-AGGREGATING
    * those sums (the source_kl shape — no second corpus scan, and the
    * oracle replays the same two-level summation); the cosine folds
    * over the bounded per-source frame.
    */
  def sourceEmbedDrift(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"), posexplode(col("embedding")))
      .toDF("source", "pos", "v")
    val perSP = graft.sources.ScratchCache.materialize(
      dims.groupBy(col("source"), col("pos"))
        .agg(sum(col("v").cast("double")).as("sx"), count(lit(1)).as("n")))
    val corpus = perSP.groupBy(col("pos"))
      .agg(sum(col("sx")).as("tx"), sum(col("n")).as("tn"))
    perSP.join(corpus, "pos")
      .select(col("source"), col("n"),
        (col("sx") / col("n")).as("sc"), (col("tx") / col("tn")).as("cc"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_vecs"),
        round(sum(col("sc") * col("cc")) /
          (sqrt(sum(col("sc") * col("sc"))) * sqrt(sum(col("cc") * col("cc")))), 5)
          .as("centroid_cos"))
      .orderBy(col("source"))
  }

  /** Rocchio pseudo-relevance feedback (the classic two-pass query
    * expansion): retrieve top-`fbK` for the raw query, fold their
    * embeddings into an expanded query, re-retrieve. With α=β the
    * expanded query q+centroid(top) is a positive scalar multiple of
    * `fbK·q + Σ top`, and cosine ranking is scale-invariant — so the
    * engine uses the INTEGER-WEIGHTED sum directly (no /fbK division
    * to drift cross-engine). Like every post-retrieval stage only
    * `fbK` id+vector rows touch the driver (bounded, the MMR
    * contract); both passes are the same broadcast-literal corpus
    * scan as [[topKVec]]. Feedback docs stay eligible in pass two —
    * standard PRF, and the rank boost they get IS the relevance
    * signal propagating.
    */
  def prfTopK(spark: SparkSession, dir: String, qv: Array[Float],
              fbK: Int = 5, k: Int = 10): DataFrame = {
    val fbIds = topKVec(spark, dir, qv, fbK)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val fbVecs = Tables.embeddings(spark, dir)
      .where(col("vec_id").isin(fbIds: _*))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1))
    // q2 in double: fbK·q + Σ feedback (summed in ascending vec_id
    // order — deterministic; the oracle's per-dim sum differs only at
    // the ulp the score rounding absorbs)
    val q2: Array[Double] = Array.tabulate(qv.length) { i =>
      fbK.toDouble * qv(i) + fbVecs.iterator.map(_(i).toDouble).sum
    }
    TopK.first(scoredByVec(Tables.embeddings(spark, dir), q2, lit(true)),
      k, byScore("vec_id"): _*)
  }

  /** Whitened-cosine retrieval (Su et al. 2021, "Whitening Sentence
    * Representations" — the diagonal variant): standardize every
    * dimension to zero mean / unit variance with the corpus's own
    * per-dim stats, then rank by cosine in the whitened space. The
    * standard cheap fix for the anisotropy [[embedIsotropy]]
    * measures — a dominant mean direction inflates every cosine and
    * compresses the ranking; removing it re-spreads the scores.
    *
    * The per-dim μ/σ are [[embedDimStats]]'s 5-decimal ROUNDED values
    * (the label-centroid contract, so summation order can't drift the
    * oracle), collected to the driver (|dims| rows) and shipped as two
    * plan literals. The member's vector ([[memberVector]]) whitens on
    * the driver with the plan's own double ops, so the query enters the
    * by-vector scorer like every by-id search. Zero-variance dims
    * contribute 0 on both engines. Scale shape: one dim-keyed aggregate
    * (|dims| rows) + one narrow whiten-and-score scan + TakeOrdered —
    * the [[topK]] plan.
    */
  def embedWhitenTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
                      k: Int = 10): DataFrame = {
    val st = embedDimStats(spark, dir).select(col("mean_v"), col("std_v")).collect()
    val (mu, sd) = (st.map(_.getDouble(0)), st.map(_.getDouble(1)))
    val qw = memberVector(spark, dir, queryId).zipWithIndex.map { case (x, i) =>
      if (sd(i) == 0.0) 0.0 else (x.toDouble - mu(i)) / sd(i)
    }
    val wExpr = "transform(embedding, (x, i) -> CASE WHEN element_at(sdl, i + 1) = 0D " +
      "THEN 0D ELSE (cast(x AS double) - element_at(mul, i + 1)) / element_at(sdl, i + 1) END)"
    val w = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), typedlit(mu).as("mul"), typedlit(sd).as("sdl"))
      .select(col("vec_id"), expr(wExpr).as("embedding"))
    TopK.first(scoredByVec(w, qw, notSelf(queryId)), k, byScore("vec_id"): _*)
  }

  /** Embedding anisotropy report (Ethayarajh 2019's diagnosis:
    * contextual embedding spaces collapse into a narrow cone, and a
    * high MEAN PAIRWISE COSINE means raw cosine similarity carries
    * little contrast until the common component is removed). The mean
    * pairwise dot over all n(n−1) ordered pairs has the closed form
    * (‖Σv‖² − Σ‖v‖²) / (n(n−1)) — ONE corpus scan, no pair join ever:
    * Σv comes from per-dimension sums (rounded to 5 decimals so
    * summation order can't drift the oracle — the
    * [[labelCentroids]]/profile contract), Σ‖v‖² from per-row
    * rounded norms. Reported against the mean norm so the reader
    * gets the cone angle, not just a raw dot.
    */
  def embedIsotropy(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val dimSums = e.select(posexplode(col("embedding")))
      .toDF("pos", "v")
      .groupBy(col("pos")).agg(round(sum(col("v")), 5).as("s"))
      .agg(round(sum(col("s") * col("s")), 5).as("sum_sq"))
    val rows = e.select(round(dotd(col("embedding"), col("embedding")), 5).as("sq"),
        round(l2norm(col("embedding")), 5).as("nrm"))
      .agg(count(lit(1)).as("n"), round(sum(col("sq")), 5).as("sum_self"),
        round(avg(col("nrm")), 5).as("mean_norm"))
    rows.crossJoin(broadcast(dimSums))
      .select(col("n"), col("mean_norm"),
        round((col("sum_sq") - col("sum_self")) / (col("n") * (col("n") - 1)), 5)
          .as("mean_pairwise_dot"),
        round((col("sum_sq") - col("sum_self")) / (col("n") * (col("n") - 1)) /
          (col("mean_norm") * col("mean_norm")), 5).as("anisotropy"))
  }

  /** Vector-arithmetic analogy search (the word2vec "king − man +
    * woman" probe): the query is v(a) − v(b) + v(c) composed on the
    * driver in double, per-dimension left-to-right so the oracle's
    * elementwise list arithmetic lands on the identical literal; the
    * three source rows are excluded and the scan is the standard
    * broadcast-literal cosine top-k. The cheap structure probe for
    * whether the embedding space carries linear relations.
    */
  def analogyTopK(spark: SparkSession, dir: String, a: Long, b: Long, c: Long,
                  k: Int = 10): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .where(col("vec_id").isin(a, b, c))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    require(vecs.keySet == Set(a, b, c), s"analogy ids missing from corpus")
    val qv: Array[Double] = Array.tabulate(vecs(a).length) { i =>
      vecs(a)(i).toDouble - vecs(b)(i).toDouble + vecs(c)(i).toDouble
    }
    TopK.first(scoredByVec(Tables.embeddings(spark, dir), qv,
      !col("vec_id").isin(a, b, c)), k, byScore("vec_id"): _*)
  }

  /** Range search — FAISS `range_search`'s shape (every neighbor whose
    * similarity clears a radius, not a fixed k): all corpus vectors
    * with cosine ≥ `minScore` against the query row, self excluded.
    * The "how many are THIS close" door that top-k cannot answer —
    * dedup radii, recall floors, alerting on embedding collapse. The
    * threshold is applied to the ROUNDED score so the cut replays
    * bit-for-bit cross-engine. Scale shape: the same single
    * literal-query scan as [[topK]] with the filter below the sort, so the
    * ORDER BY ranks only the rows inside the radius (a meaningful
    * radius admits a vanishing corpus fraction — the sort volume is
    * the RESULT size, never the corpus).
    */
  def rangeSearch(spark: SparkSession, dir: String, queryId: Long,
                  minScore: Double): DataFrame =
    scoredByVec(Tables.embeddings(spark, dir),
      memberVector(spark, dir, queryId).map(_.toDouble), notSelf(queryId))
      .where(col("score") >= minScore)
      .orderBy(byScore("vec_id"): _*)

  /** Matryoshka truncation curve — the sizing read for a prefix-dim
    * shortlist (Kusupati et al. 2022 §4's accuracy-vs-dims table, over
    * this corpus): for each prefix width, Recall@K and MRR of the
    * prefix-cosine top-k against the full-dim exact
    * [[recallGroundTruth]], over the same [[querySample]] batch the
    * other retrieval evals use. The knee of this curve IS the serving
    * decision: everything right of it is paying full-dim scan cost
    * for recall the prefix already had.
    *
    * Scale shape: one broadcast-batch scan per prefix width (the
    * [[knnLabelPrecision]] envelope × |dims| sweep points), per-query
    * WindowGroupLimit top-k, and a k-row-per-query join against the
    * shared full-dim ground truth; output is |dims| rows.
    */
  def matryoshkaEval(spark: SparkSession, dir: String,
                     dims: Seq[Int] = Seq(8, 16, 32, 64),
                     queryMod: Int = 100, k: Int = 10,
                     maxQueries: Int = 64): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = querySample(e, queryMod, maxQueries)
    val gt = graft.sources.ScratchCache.materialize(
      recallGroundTruth(spark, dir, queryMod, k, maxQueries)
        .select(col("q_id"), col("n_id"), col("rk")))
    val nq = q.count().toDouble
    import spark.implicits._
    // ONE sweep pass for EVERY prefix width (guide §1.2/§2.4): the
    // widths ride as an exploded literal column, the prefix cosine
    // slices by that column, ONE (prefix_dim, q_id)-partitioned window
    // ranks all curves in a single shuffle, and [[recallFold]] folds
    // recall + MRR in one aggregate. Per-width rankings equal separate
    // per-width passes: the window partitions by (prefix_dim, q_id).
    val dimsCol = explode(array(dims.map(d => lit(d)): _*)).as("prefix_dim")
    def cut(c: Column) = slice(c, lit(1), col("prefix_dim"))
    val pre = TopK.perKey(e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("embedding"), col("qv"),
        dimsCol)
      .select(col("prefix_dim"), col("q_id"), col("n_id"),
        cosine5(cut(col("embedding")), cut(col("qv")),
          l2norm(cut(col("embedding"))), l2norm(cut(col("qv")))).as("score")),
      Seq(col("prefix_dim"), col("q_id")), k, "rk", byScore("n_id"): _*)
    val fold = recallFold(pre, gt, "prefix_dim", nq, k)
    dims.map { d =>
      val (recall, mrr) = fold.getOrElse(d, (0.0, 0.0))
      (d.toLong, recall, mrr, nq.toLong)
    }.toDF("prefix_dim", "recall_at_k", "mrr", "n_queries")
      .orderBy(col("prefix_dim"))
  }
}
