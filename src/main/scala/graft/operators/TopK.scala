package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.Tables

/** The engine's one rank core: every vector score → top-k → rank goes
  * through [[first]], [[ranked]], [[perKey]] or the bounded-heap
  * aggregators below.
  *
  * Rank rules, stated once:
  *  - Total order. Every cut orders by the caller's `order` columns,
  *    which end in a unique id: (score DESC, id ASC) for similarity,
  *    (distance ASC, id ASC) for distances. Ties therefore break
  *    toward the lower id on every engine, and the DuckDB oracles
  *    replay the same ORDER BY.
  *  - NaN ranks last. A NaN score (a vector with a NaN component)
  *    sorts after every number, level with a null score, and ties
  *    among them break by id. Spark alone would sort NaN above every
  *    number and rank such a vector first under DESC. `-0.0` and
  *    `0.0` are equal, as in Spark's sort. [[scoreOrdering]] is the
  *    same order on the driver, for cuts that run outside a Spark
  *    sort.
  *  - [[first]] is ORDER BY … LIMIT k, which Spark plans as
  *    TakeOrderedAndProject: a bounded heap per input partition,
  *    merged on the driver. No exchange, no full sort of the corpus.
  *  - [[ranked]] adds the rank column 1..min(k, n) over that k-row
  *    result. The window runs after the cut, so it sorts at most k
  *    rows. It is unpartitioned: its child is the literal-k limit, a
  *    frame bounded whatever the corpus size (the structural proof
  *    PlanSpec's window lint accepts), and the cut's single output
  *    partition already satisfies the window's distribution, so the
  *    rank adds no exchange.
  *  - [[perKey]] is the per-key cut (`row_number` over the keys,
  *    `rk <= k`), which Spark plans as WindowGroupLimit: each map-side
  *    partition keeps at most k rows per key before the shuffle.
  *  - Scores are [[graft.functions.VectorFunctions.cosine5]]: a zero
  *    norm on either side scores 0.0, never an ANSI DIVIDE_BY_ZERO.
  *    A zero vector then ties with every other 0.0 and falls to id
  *    order.
  *  - k larger than the input returns every row, ranked; k = 0
  *    returns none. Nothing is padded.
  *
  * The aggregators are the per-key alternative to a ranking window
  * for the kNN join (SURVEY §5). A window plan must sort every
  * partition by (key, score) before the rank filter; the Aggregator
  * keeps a bounded buffer of the k best pairs per key instead, so
  * partial aggregation truncates to k on EVERY map-side partition, at
  * most k·numPartitions rows per key cross the wire, and nothing is
  * ever globally sorted. At 1000 executors that turns the kNN ranking
  * from sort-bound into a pure streaming fold.
  */
object TopK {

  /** The similarity total order: `score` DESC with NaN and null after
    * every number, then `id` ASC.
    */
  def byScore(id: String, score: String = "score"): Seq[Column] =
    Seq(when(isnan(col(score)), lit(null)).otherwise(col(score)).desc, col(id))

  /** [[byScore]] on the driver, over (score, id) with NaN standing for
    * a null score: the row that ranks first compares lowest.
    */
  val scoreOrdering: Ordering[(Double, Long)] = (x, y) => {
    val (a, b) = (x._1, y._1)
    val c =
      if (a.isNaN) { if (b.isNaN) 0 else 1 }
      else if (b.isNaN) -1
      else if (a == b) 0
      else if (a > b) -1
      else 1
    if (c != 0) c else java.lang.Long.compare(x._2, y._2)
  }

  /** The first k rows of `df` under `order` (see the rank rules). */
  def first(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** [[first]] plus a long rank column `rk` numbering the kept rows
    * 1..min(k, n) in `order`.
    */
  def ranked(df: DataFrame, k: Int, rk: String, order: Column*): DataFrame = {
    val cut = first(df, k, order: _*)
    cut.withColumn(rk, row_number().over(Window.orderBy(order: _*)).cast("long"))
  }

  /** Per-key top-k: a long rank column `rk` (1.. within each `keys`
    * group, in `order`) and only the rows with rk <= k.
    */
  def perKey(df: DataFrame, keys: Seq[Column], k: Int, rk: String,
             order: Column*): DataFrame =
    df.withColumn(rk,
      row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)).cast("long"))
      .where(col(rk) <= k)

  case class ScoredPair(q_id: Long, n_id: Long, score: Double)

  /** Keeps the k best (score DESC, n_id ASC) pairs; the buffer is
    * allowed to grow to 2k between trims so sorting amortizes to
    * O(log k) per row.
    *
    * The SAME (key, n_id) pair may arrive several times with an
    * IDENTICAL score — the banded-LSH candidate stream, where a pair
    * collides in up to nBands buckets and every collision rescores the
    * same rounded cosine. The buffer dedups by n_id after the (score
    * DESC, n_id) sort, so the kept occurrence is canonical and no
    * upstream `.distinct()` (a full shuffle of the candidate stream)
    * is needed; on inputs with unique pairs the dedup keeps every row.
    * Associativity holds exactly because duplicate scores are equal by
    * construction: top-k of a dedup'd union = top-k of the union of
    * per-partial dedup'd top-ks.
    */
  class TopKAgg(k: Int) extends Aggregator[ScoredPair, List[(Double, Long)], Seq[(Double, Long)]] {
    private def best(b: List[(Double, Long)]): List[(Double, Long)] =
      b.sortBy { case (s, id) => (-s, id) }.distinctBy(_._2).take(k)
    private def trim(b: List[(Double, Long)]): List[(Double, Long)] =
      if (b.lengthCompare(2 * k) <= 0) b else best(b)
    override def zero: List[(Double, Long)] = Nil
    override def reduce(b: List[(Double, Long)], a: ScoredPair): List[(Double, Long)] =
      trim((a.score, a.n_id) :: b)
    override def merge(x: List[(Double, Long)], y: List[(Double, Long)]): List[(Double, Long)] =
      trim(x ::: y)
    override def finish(b: List[(Double, Long)]): Seq[(Double, Long)] = best(b)
    override def bufferEncoder: Encoder[List[(Double, Long)]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder()
  }

  /** knnJoin semantics (same rows as VectorSearch.knnJoin) through the
    * heap path: queries broadcast, corpus scanned once, ranking via
    * bounded partial aggregation instead of a window sort.
    */
  def knnJoinHeap(spark: SparkSession, dir: String, queryMod: Int, k: Int): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val scored = VectorSearch.batchScores(e, VectorSearch.querySample(e, queryMod),
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("score"))
      .as[ScoredPair]
    scored.groupByKey(_.q_id)
      .agg(new TopKAgg(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((s, nid), i) => (qid, nid, s, (i + 1).toLong) }
      }
      .toDF("q_id", "n_id", "score", "rk")
      .orderBy(col("q_id"), col("rk"))
  }
}
