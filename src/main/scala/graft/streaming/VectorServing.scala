package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.{Lsh, TopK}

/** Continuous vector serving — the Spark-native answer to the
  * reference's interactive search loop (app.py:173-188 embeds a typed
  * query and scores it on the spot): a STREAM of query vectors scored
  * against the STATIC persisted corpus index, as a stream-static join.
  * Not microsecond point lookups (that is FAISS's job on one box) —
  * continuous micro-batch scoring whose per-batch cost is bounded by
  * the LSH bucket fraction, with state bounded to one k-element heap
  * per in-flight query.
  */
object VectorServing {

  /** Stream-static LSH kNN.
    *
    * `queries` is a STREAMING frame of (q_id, qv array<float>);
    * `index` is the static bucket index ([[Lsh.ensureIndex]] layout:
    * vec_id, embedding, nrm, bucket). Per event the query's bucket is
    * computed INSIDE one codegen projection — the nBits hyperplanes
    * ride as plan literals, so hashing is nBits VecDots per event, no
    * aggregation (streaming plans allow only one agg, which the
    * ranking needs). Candidates come from a stream-static equi-join on
    * `bucket`; ranking reuses [[TopK.TopKAgg]] — bounded partial
    * aggregation, legal in streaming where a rank window is not.
    * MULTI-probe like the batch path ([[Lsh.lshTopK]]): each event
    * explodes into its own bucket plus every hamming≤1 neighbor
    * (nBits+1 probe rows — stream-side only, the corpus does no extra
    * work), so recall matches the batch search. No candidate dedup is
    * needed before the heap: a corpus vector lives in exactly ONE
    * bucket and the probe ids are distinct, so a (query, candidate)
    * pair joins at most once.
    */
  def streamingLshTopK(queries: DataFrame, index: DataFrame, nBits: Int, k: Int): DataFrame = {
    Lsh.requireBucketBits(nBits)
    val spark = queries.sparkSession
    import spark.implicits._
    val dim = index.select(size(col("embedding"))).head.getInt(0)
    val planes = Lsh.hyperplaneArrays(nBits, dim)
    // two-branch when (no otherwise): a dimension-mismatched qv dots to
    // null → the bit is null → the SUM is null → the event drops out of
    // the bucket join instead of polluting bucket 0 and crashing the
    // query when its null score hits ScoredPair's non-nullable Double
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      val d = dotd(col("qv"), typedlit(p))
      when(d >= 0, lit(1L << j)).when(d < 0, lit(0L))
    }.reduce(_ + _)
    val q0 = queries.select(col("q_id"), col("qv"),
      l2norm(col("qv")).as("qn"), bucket.as("b0"))
    // a null b0 (dimension mismatch) explodes into all-null probe rows
    // that never join — same drop-the-event semantics as single-probe
    val probes = array(col("b0") +:
      (0 until nBits).map(j => col("b0").bitwiseXOR(lit(1L << j))): _*)
    val q = q0.select(col("q_id"), col("qv"), col("qn"),
      explode(probes).as("bucket"))
    q.join(index.select(col("vec_id"), col("embedding"), col("nrm"),
        col("bucket").cast("long").as("bucket")), "bucket")
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine5(col("embedding"), col("qv"), col("nrm"), col("qn")).as("score"))
      .as[TopK.ScoredPair]
      .groupByKey(_.q_id)
      .agg(new TopK.TopKAgg(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((s, nid), i) => (qid, nid, s, (i + 1).toLong) }
      }
      .toDF("q_id", "n_id", "score", "rk")
  }
}
