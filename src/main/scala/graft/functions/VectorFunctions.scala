package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `array<float>` embedding columns.
  *
  * Mirrors the reference's NumPy dot-product scoring
  * (reference app.py:181 `prod_emb[cand] @ qv[0]`) as Catalyst
  * higher-order functions: codegen-friendly, no UDF serialization, and
  * executed columnar-batch-at-a-time inside whole-stage codegen.
  *
  * All arithmetic is promoted to double BEFORE accumulation so results
  * are bit-stable across engines (the DuckDB oracle casts to DOUBLE[]
  * the same way); scores surfaced to users are rounded to 5 decimals
  * so top-k order is reproducible. The `*Local` functions and [[r5]]
  * are the driver-side twins of the same convention, for probe
  * planning and driver reranks that must agree with the plan bit for
  * bit.
  */
object VectorFunctions {
  /** Σ aᵢ·bᵢ accumulated in double, left-to-right — fused codegen
    * expression (see org.apache.spark.sql.graft.VecDot); bit-identical
    * to the HOF formulation
    * `aggregate(zip_with(a, b, (x, y) => x.cast(double) * y.cast(double)), 0.0, _+_)`
    * but ~orders faster (whole-stage codegen, no temp array).
    */
  def dotd(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VecExpressions.vec_dot(a, b)

  def l2norm(a: Column): Column = sqrt(dotd(a, a))

  /** A per-request primitive (a query norm, an excluded id) the plan
    * reads at run time: unlike `lit`, it is never folded into the
    * generated source, so a new value reuses the compiled classes of
    * the previous request (org.apache.spark.sql.graft.Param). Never
    * for a value a scan predicate must push down.
    */
  def param(v: Any): Column = org.apache.spark.sql.graft.VecExpressions.param(v)

  /** The driver norm of a query vector as a [[param]] — bit-equal to
    * `l2norm(typedlit(qd))`, which Catalyst would fold into the
    * generated source.
    */
  def normParam(qd: Array[Double]): Column = param(math.sqrt(dotLocal(qd, qd)))

  /** a·b / (an·bn) with caller-supplied norms, so each call site keeps
    * its norm source (a persisted `nrm` column, a broadcast query norm,
    * a driver literal or an inline [[l2norm]]) and its scores stay
    * bit-identical. A zero denominator scores 0.0 — FAISS's inner
    * product of a zero vector — instead of raising ANSI
    * DIVIDE_BY_ZERO.
    */
  def cosine(a: Column, b: Column, an: Column, bn: Column): Column =
    when(an * bn === 0.0, lit(0.0)).otherwise(dotd(a, b) / (an * bn))

  /** [[cosine]] rounded to 5 decimals — the engine's canonical score. */
  def cosine5(a: Column, b: Column, an: Column, bn: Column): Column =
    round(cosine(a, b, an, bn), 5)

  /** Driver twin of [[dotd]]: the same left-to-right `s += aᵢ·bᵢ`
    * double fold, so a driver-side projection or norm is bit-equal to
    * the in-plan one (float inputs widen exactly with `.toDouble`).
    */
  def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver twin of [[cosine]], zero-denominator rule included. */
  def cosineLocal(dot: Double, an: Double, bn: Double): Double =
    if (an * bn == 0.0) 0.0 else dot / (an * bn)

  /** HALF_UP at 5 decimals — SQL round()'s rule on Spark and DuckDB,
    * for scores and metrics computed on the driver (rint's half-even
    * would diverge on .000005). NaN and ±∞ pass through, as Spark's
    * `round` leaves them.
    */
  def r5(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The one error of a by-id search whose id is not a row of
    * `source` (the corpus file, or the reference matrix a frame reads).
    */
  def memberNotFound(source: String, id: Long): IllegalArgumentException =
    new IllegalArgumentException(s"query vector $id not found in $source")

  /** The error of a by-id search whose member row cannot be a query:
    * `what` names the defect (a null embedding, a null element).
    */
  def memberInvalid(source: String, id: Long, what: String): IllegalArgumentException =
    new IllegalArgumentException(s"query vector $id in $source has $what")

  /** A corpus member's embedding by id, or [[memberNotFound]]: the
    * query of every by-id search, looked up once on the driver
    * ([[memberRows]]: no Spark job when the table's zone map isolates
    * the id's row group), which then scores through the by-vector path
    * with the member excluded (`vec_id =!= param(id)`).
    */
  def memberVector(spark: SparkSession, dir: String, id: Long): Array[Float] = {
    val source = s"$dir/embeddings.parquet"
    memberRows(spark, dir, Seq(id)).headOption
      .map(r => memberEmbedding(source, id, r.getSeq[Any](1)))
      .getOrElse(throw memberNotFound(source, id))
  }

  /** [[memberVector]] over any (vec_id, embedding) frame, `source`
    * naming it in the error: one Spark lookup, its `vec_id = <id>` a
    * literal parquet can push down.
    */
  def memberVector(frame: DataFrame, id: Long, source: String): Array[Float] =
    frame.where(col("vec_id") === id)
      .select(col("embedding")).collect().headOption
      .map(r => memberEmbedding(source, id, r.getSeq[Any](0)))
      .getOrElse(throw memberNotFound(source, id))

  /** The (vec_id, embedding) rows of the corpus members `ids` (absent
    * ids omitted): one driver point read ([[graft.sources.PointRead]]),
    * or, when the zone map leaves an id more than one candidate row
    * group, one Spark lookup with the ids pushed into the scan.
    */
  def memberRows(spark: SparkSession, dir: String, ids: Seq[Long]): Seq[Row] =
    graft.sources.PointRead.members(spark, s"$dir/embeddings.parquet", ids).getOrElse(
      graft.Tables.embeddings(spark, dir).where(col("vec_id").isin(ids.distinct: _*))
        .select(col("vec_id"), col("embedding")).collect().toSeq)

  /** A member's collected `embedding` as a query vector, or
    * [[memberInvalid]] for a null embedding or a null element (which
    * unboxing would otherwise read as a raw NullPointerException or a
    * silent 0.0).
    */
  def memberEmbedding(source: String, id: Long, emb: scala.collection.Seq[Any]): Array[Float] = {
    if (emb == null) throw memberInvalid(source, id, "a null embedding")
    val hole = emb.indexOf(null)
    if (hole >= 0) throw memberInvalid(source, id, s"a null element at position $hole")
    emb.iterator.map(_.asInstanceOf[Float]).toArray
  }
}
