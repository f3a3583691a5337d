package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.functions.{CorpusLexicalEncoder, CorpusLexicalQueryEncoder}
import graft.sources.{DriverMemo, IndexStore, JoblibSource, NpySource, Sources}
import graft.sources.JoblibSource.{CsrMatrix, TfidfVectorizerModel}

/** Keyword and hybrid search served from the reference's OWN fitted
  * sklearn TF-IDF artifacts (reference app.py:76-78 `joblib.load`,
  * app.py:201-203 `tfidf_vec.transform` + `cosine_similarity`,
  * app.py:188-218 the α-blended hybrid) — the joblib files decoded
  * by [[graft.sources.JoblibSource]], never refit. With this, every
  * artifact the reference app loads (CSVs, `.npy` matrices, FAISS
  * flat + IVF indexes, joblib TF-IDF model + matrix) is served
  * as-is by the engine.
  *
  * Scale shape: the model is a bounded fit artifact (1903-term
  * vocabulary, 66×1903 matrix) parsed once per session on the
  * driver; the document matrix scores as a distributed COO frame
  * joined against a BROADCAST sparse query vector and aggregated per
  * doc — work ∝ nnz of the matched columns, never rows×cols — so the
  * same plan serves a fit over a billion-document corpus.
  */
object SklearnTfidf {

  val VectorizerJoblib = "/root/reference/tfidf_vectorizer.joblib"
  val MatrixJoblib = "/root/reference/tfidf_matrix.joblib"

  private[graft] def model(spark: SparkSession,
                           path: String = VectorizerJoblib): TfidfVectorizerModel =
    DriverMemo.memo(spark, s"joblib-model|$path", IndexStore.mtime(spark, path))(
      JoblibSource.readTfidfVectorizer(spark, path))

  private[graft] def matrix(spark: SparkSession,
                            path: String = MatrixJoblib): CsrMatrix =
    DriverMemo.memo(spark, s"joblib-matrix|$path", IndexStore.mtime(spark, path))(
      JoblibSource.readCsrMatrix(spark, path))

  /** sklearn `TfidfVectorizer.transform` of one query string, on the
    * driver (one string per search — the same driver-planned probe
    * contract as every query encoder): token counts over the FITTED
    * vocabulary × the fitted idf, L2-normalized. Tokens outside the
    * vocabulary contribute nothing (sklearn ignores them — fitted
    * stop words are out-of-vocabulary by construction). The analyzer
    * is [[TextRetrieval.sklearnTokenize]] — ASCII `[a-z0-9_]{2,}`
    * runs over the lowercased text, equivalent to the model's
    * `(?u)\b\w\w+\b` on ASCII input, which the artifact's own
    * vocabulary is (validated in SklearnJoblibSpec).
    */
  private[graft] def encodeQuery(m: TfidfVectorizerModel, text: String): Seq[(Int, Double)] = {
    require(m.lowercase, "non-lowercase TfidfVectorizer not supported")
    require(m.ngramRange == (1, 1),
      s"ngram_range ${m.ngramRange} not supported (unigram analyzer)")
    require(m.norm == "l2", s"norm '${m.norm}' not supported")
    val counts = TextRetrieval.sklearnTokenize(text)
      .flatMap(m.termIndex.get)
      .groupBy(identity).view.mapValues(_.size.toDouble).toSeq
    require(counts.nonEmpty, s"no query term is in the fitted vocabulary (query: '$text')")
    val weighted = counts.map { case (i, tf) =>
      val t = if (m.sublinearTf) 1.0 + math.log(tf) else tf
      (i, t * m.idf(i))
    }
    val nrm = math.sqrt(weighted.map { case (_, v) => v * v }.sum)
    weighted.map { case (i, v) => (i, v / nrm) }.sortBy(_._1)
  }

  /** The reference corpus' doc ids with metadata: products.csv in
    * file order (row i of the CSV is row i of every fitted artifact —
    * exactly how app.py pairs `read_csv` with the joblib matrix).
    */
  private def productMeta(spark: SparkSession): DataFrame =
    Sources.readCsvRowIndexed(spark, ReferenceInterop.ProductsCsv,
        ReferenceInterop.productsSchema)
      .select(col("row_id").as("doc_id"), col("id"), col("brand"),
        col("avg_rating"), col("n_reviews"))

  /** Per-document tfidf cosine against the encoded query, over the
    * FITTED matrix: Σ (row_val/‖row‖)·q̂[col] via a COO × broadcast
    * sparse-query join, zero-score documents kept (app.py's
    * `cosine_similarity(...).ravel()` scores every row). Row norms
    * are recomputed from the stored values (they are 1 up to f64
    * rounding — the fit L2-normalized each row) so the score IS
    * cosine, not an assumed-normalized dot.
    */
  private def tfidfScores(spark: SparkSession, query: String): DataFrame = {
    import spark.implicits._
    val m = model(spark)
    val q = encodeQuery(m, query)
    val coo = JoblibSource.csrCoo(spark, matrix(spark, MatrixJoblib))
    val qdf = q.toDF("col_id", "qv")
    val norms = coo.groupBy(col("row_id"))
      .agg(sqrt(sum(col("value") * col("value"))).as("row_norm"))
    val dots = coo.join(broadcast(qdf), Seq("col_id"))
      .groupBy(col("row_id"))
      .agg(sum(col("value") * col("qv")).as("dot"))
    norms.join(dots, Seq("row_id"), "left_outer")
      .select(col("row_id").as("doc_id"),
        coalesce(col("dot") / col("row_norm"), lit(0.0)).as("tscore"))
  }

  /** app.py:201-203 end-to-end on the reference's own artifacts: the
    * typed query transformed BY THE REFERENCE'S FITTED VECTORIZER
    * (vocabulary + idf decoded from tfidf_vectorizer.joblib), cosine
    * against its fitted document matrix (tfidf_matrix.joblib), top-k
    * products with metadata. Ties break toward the lower doc id —
    * `np.argsort(-scores)` is stable over doc order.
    */
  def tfidfTopK(spark: SparkSession, query: String, k: Int = 10): DataFrame =
    tfidfScores(spark, query)
      .join(broadcast(productMeta(spark)), Seq("doc_id"))
      .select(col("doc_id"), col("id"), col("brand"),
        round(col("tscore"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** app.py:188-218 `search_products_hybrid` end-to-end on reference
    * artifacts only: the MiniLM-space vector leg is the corpus-lexical
    * encoder over (reviews.csv, review_embeddings.npy) scored by RAW
    * dot against product_embeddings.npy (app.py:199 `prod_emb @ qv` —
    * rows are unit-normalized, so dot is the app's cosine), the
    * keyword leg is the fitted-tfidf cosine above min-max normalized
    * to 0..1 across the candidates (app.py:206-208, the `+1e-12`
    * denominator guard included, normalization skipped when all
    * scores tie), blended `α·vec + (1-α)·tfidf` with the app's
    * default α. With no filters, candidates = the whole catalog
    * (app.py:156-164 with every filter at "All"); the
    * brand/minRating/minReviews filters replay `candidate_indices()`
    * and scope the blend (and its min-max) to the candidate set.
    */
  def hybridTopK(spark: SparkSession, query: String, k: Int = 10,
                 alpha: Double = 0.7,
                 brand: Option[String] = None,
                 minRating: Option[Double] = None,
                 minReviews: Option[Long] = None): DataFrame = {
    val qvec = CorpusLexicalEncoder.encodeWithVocab(
      CorpusLexicalQueryEncoder.referenceVocabulary(spark,
        ReferenceInterop.ReviewsCsv, ReferenceInterop.ReviewsNpy), query)
    // candidate_indices() (app.py:156-164): lower-cased brand equality,
    // NULL rating treated as -1, NULL review count as 0 — applied
    // BEFORE the blend so the min-max normalization runs over the
    // candidates, exactly as app.py slices tf_full[cand]
    val candIds = productMeta(spark)
      .where(brand.map(b => lower(col("brand")) === b.toLowerCase(java.util.Locale.ROOT))
        .getOrElse(lit(true)))
      .where(minRating.map(r => coalesce(col("avg_rating"), lit(-1.0)) >= r)
        .getOrElse(lit(true)))
      .where(minReviews.map(n => coalesce(col("n_reviews"), lit(0L)) >= n)
        .getOrElse(lit(true)))
      .select(col("doc_id"))
    val vec = NpySource.readNpy(spark, "/root/reference/product_embeddings.npy")
      .select(col("vec_id").as("doc_id"),
        dotd(col("embedding"), typedlit(qvec)).as("vscore"))
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
    val cand = vec.join(tfidfScores(spark, query), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("vscore"), coalesce(col("tscore"), lit(0.0)).as("ts"))
    val st = cand.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    cand.crossJoin(broadcast(st))
      .select(col("doc_id"), col("vscore"),
        when(col("mx") > col("mn"),
          (col("ts") - col("mn")) / (col("mx") - col("mn") + lit(1e-12)))
          .otherwise(col("ts")).as("tn"))
      .join(broadcast(productMeta(spark)), Seq("doc_id"))
      .select(col("doc_id"), col("id"), col("brand"),
        round(col("vscore") * alpha + col("tn") * (1 - alpha), 5).as("hybrid_score"),
        round(col("vscore"), 5).as("vector_score"),
        round(col("tn"), 5).as("tfidf_score"))
      .orderBy(col("hybrid_score").desc, col("doc_id"))
      .limit(k)
  }
}
