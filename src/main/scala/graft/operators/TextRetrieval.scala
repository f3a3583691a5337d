package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VecExpressions.longDoubleTable
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.Tables
import graft.functions.VectorFunctions._
import graft.sources.{DriverMemo, IndexStore}

/** TF-IDF retrieval and hybrid (vector + keyword) search.
  *
  * Reimplements the reference's sklearn TfidfVectorizer semantics
  * (reference tfidf_vectorizer.joblib; idf = ln((1+N)/(1+df)) + 1 with
  * L2-normalized rows — sklearn's smooth_idf default) as pure
  * DataFrame aggregations, and the hybrid blend
  * `alpha·vec + (1-alpha)·minmax(tfidf)` of reference app.py:190-219.
  *
  * Scale: documents are kept as sparse (doc_id, term, weight) triples —
  * never a dense vocab-width vector — so memory is O(tokens), the
  * df/idf pass is one shuffle keyed by term, and query scoring reads
  * only the query terms' triples, weighted from a driver map of |q|
  * idf values.
  *
  * The fitted model is a BUILD-ONCE artifact (the reference ships it
  * as tfidf_vectorizer.joblib + tfidf_matrix.joblib and only loads it
  * at query time, app.py:63-102): [[ensureModel]] persists the sparse
  * triples/norms/df tables as fingerprint-addressed parquet under
  * [[graft.sources.IndexStore]], so queries never refit and no
  * `.cache()` leaks into the caller's session.
  */
/** The team-draft coin, shared by the engine and the oracle GENERATOR
  * (SparkEntry computes the same literal sequence into the replay SQL
  * — the coin is a pure function of the round index, not of data).
  */
object TeamDraft {
  def coin(round: Int): Boolean = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"td:$round".getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % 2 == 0
  }
}

object TextRetrieval {

  /** Sparse TF-IDF model over persisted parquet under the
    * fingerprinted artifact `path`: weights (doc_id, term, w), per-doc
    * L2 norms (doc_id, nrm), document frequencies (term, df), corpus
    * size (n, 1 row), raw term counts (doc_id, term, tf).
    */
  case class TfidfModel(path: String, w: DataFrame, norms: DataFrame, dfT: DataFrame,
                        n: DataFrame, tf: DataFrame)

  /** sklearn-vectorizer tokenization (the reference's
    * tfidf_vectorizer.joblib defaults: lowercase=True, token_pattern
    * r"(?u)\b\w\w+\b"): lowercase, then every maximal word-char run of
    * length ≥ 2 — 1-char tokens like "a" are dropped. Expressed as
    * `[a-z0-9_]+` runs + a length filter, which equals the \b\w\w+\b
    * pattern over ASCII text and evaluates identically in Spark (Java
    * regex) and the DuckDB oracle (RE2), where \b/\w unicode semantics
    * would diverge.
    */
  def sklearnTokens(c: Column): Column =
    filter(regexp_extract_all(lower(c), lit("[a-z0-9_]+"), lit(0)),
      t => length(t) >= 2)

  /** Driver-side twin of [[sklearnTokens]] — the raw-text front door's
    * tokenizer (reference app.py:202 `tfidf_vec.transform([query])`
    * tokenizes the typed query with the SAME vectorizer as the corpus).
    * Kept bit-identical to the Column version (same `[a-z0-9_]+` runs +
    * len≥2 filter, ROOT-locale lowercase) so a query typed as a string
    * scores exactly like one pre-tokenized by the corpus pipeline — a
    * caller splitting on whitespace would silently diverge.
    */
  def sklearnTokenize(text: String): Seq[String] =
    "[a-z0-9_]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT))
      .filter(_.length >= 2).toSeq

  /** Fit-once/query-many: build the sklearn-style model (smooth idf,
    * raw tf, L2 norm) on first use per corpus fingerprint and persist
    * every table; later calls only open the artifacts.
    *
    * Build shape: ONE explode pass total — `df` is derived from the
    * persisted (doc, term) aggregate (a term's df is its row count in
    * `tf`), `w` joins the persisted `tf`, `norms` aggregates the
    * persisted `w` — so the raw term stream is shuffled once (with
    * map-side combine) and never re-read, and no intermediate needs
    * `.cache()` (each is read back from its own parquet). `norms` is
    * written LAST: its _SUCCESS marks a complete model.
    */
  def ensureModel(spark: SparkSession, dir: String): TfidfModel = {
    val base = IndexStore.indexPath(spark, "tfidf_v1", s"$dir/documents.parquet", "skl")
    // the whole five-table model is staged under a hidden .tmp-* sibling and
    // committed by one atomic rename — a racing session either sees no
    // model (and builds its own staging dir) or a complete one
    IndexStore.publish(spark, base) { tmp =>
      val docs = Tables.documents(spark, dir)
      docs.repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), explode(sklearnTokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"$tmp/tf")
      val tf = spark.read.parquet(s"$tmp/tf")
      tf.groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$tmp/df")
      docs.agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$tmp/n")
      // AQE sees df's runtime size (vocab << corpus) and broadcasts it
      tf.join(spark.read.parquet(s"$tmp/df"), "term")
        .crossJoin(broadcast(spark.read.parquet(s"$tmp/n")))
        .withColumn("w", col("tf") * (log((col("n") + 1) / (col("df") + 1)) + 1))
        .select("doc_id", "term", "w")
        .write.mode("overwrite").parquet(s"$tmp/w")
      spark.read.parquet(s"$tmp/w")
        .groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        .write.mode("overwrite").parquet(s"$tmp/norms")
    }
    TfidfModel(base,
      IndexStore.open(spark, s"$base/w"),
      IndexStore.open(spark, s"$base/norms"),
      IndexStore.open(spark, s"$base/df"),
      IndexStore.open(spark, s"$base/n"),
      IndexStore.open(spark, s"$base/tf"))
  }

  /** Vocabulary statistics — the reference's fitted-vectorizer artifact
    * (tfidf_vectorizer.joblib: vocabulary_, document frequencies, idf_)
    * as a queryable table, served straight from the persisted model:
    * df is the model's df table, tf_total one sum over the sparse
    * triples — no re-tokenization.
    */
  def vocabStats(spark: SparkSession, dir: String): DataFrame = {
    val m = ensureModel(spark, dir)
    m.tf.groupBy("term").agg(sum(col("tf")).as("tf_total"))
      .join(m.dfT, "term")
      .crossJoin(broadcast(m.n))
      .select(col("term"), col("df"), col("tf_total"),
        round(log((col("n") + 1) / (col("df") + 1)) + 1, 5).as("idf"))
      .orderBy(col("df").desc, col("term"))
  }

  /** Pre-retrieval query-performance prediction — the difficulty
    * signals a router computes BEFORE running a query (He & Ounis,
    * SIGIR 2004 pre-retrieval predictors; SCQ from Zhao, Scholer &
    * Tsegay, ECIR 2008): per query term, document frequency,
    * collection frequency, the model's smooth idf, and
    * SCQ = (1 + ln cf)·idf; plus the query-level aggregates (term
    * count, avg/max idf, ΣSCQ) repeated on every row (the chi2-report
    * convention — one row read answers "is this query specific enough
    * to trust lexical retrieval or should it fall through to the
    * vector leg"). Out-of-vocabulary terms keep the df=0 smooth idf
    * (defined: ln(n+1)+1) and a NULL SCQ on both engines.
    *
    * Scale shape: one vocab-sized cf aggregate over the persisted tf
    * triples; the |terms|-row probe joins broadcast against it;
    * aggregates fold |terms| rows. No corpus scan beyond the model's
    * own build.
    */
  def queryDifficulty(spark: SparkSession, dir: String,
                      queryTerms: Seq[String] = Seq("spark", "join", "vector")): DataFrame = {
    import spark.implicits._
    val m = ensureModel(spark, dir)
    val cf = m.tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val per = queryTerms.distinct.toDF("term")
      .join(m.dfT, Seq("term"), "left_outer")
      .join(cf, Seq("term"), "left_outer")
      .crossJoin(broadcast(m.n))
      .select(col("term"),
        coalesce(col("df"), lit(0L)).as("df"),
        coalesce(col("cf"), lit(0L)).as("cf"),
        (log((col("n") + 1) / (coalesce(col("df"), lit(0L)) + 1)) + 1).as("idf0"))
      .withColumn("scq0",
        when(col("cf") > 0, (lit(1.0) + log(col("cf"))) * col("idf0")))
    val agg = per.agg(count(lit(1)).as("n_terms"),
      round(avg(col("idf0")), 5).as("avg_idf"),
      round(max(col("idf0")), 5).as("max_idf"),
      round(sum(col("scq0")), 5).as("sum_scq"))
    per.crossJoin(broadcast(agg))
      .select(col("term"), col("df"), col("cf"),
        round(col("idf0"), 5).as("idf"), round(col("scq0"), 5).as("scq"),
        col("n_terms"), col("avg_idf"), col("max_idf"), col("sum_scq"))
      .orderBy(col("term"))
  }

  /** A vocabulary term's query-side statistics: sklearn's smooth idf
    * ln((1+N)/(1+df)) + 1 (the TF-IDF query weight) and Okapi BM25's
    * ln((N − df + 0.5)/(df + 0.5) + 1).
    */
  private case class TermIdf(idf: Double, bm25: Double)

  /** Every vocabulary term's [[TermIdf]], computed by Spark over the
    * persisted df and n tables (so each value is bit-equal to the
    * in-plan expression a per-query join would evaluate) and collected
    * once per fingerprinted model path ([[graft.sources.DriverMemo]]).
    * Query-side weighting is then a driver lookup: no join and no job
    * per request. Driver memory is O(vocabulary).
    */
  private def termIdf(spark: SparkSession, m: TfidfModel): Map[String, TermIdf] =
    DriverMemo.memo(spark, s"${m.path}#idf") {
      m.dfT.crossJoin(broadcast(m.n))
        .select(col("term"),
          (log((col("n") + 1) / (col("df") + 1)) + 1).as("idf"),
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1).as("bm25"))
        .collect().iterator
        .map(r => r.getString(0) -> TermIdf(r.getDouble(1), r.getDouble(2))).toMap
    }

  /** Query-side TF-IDF weights for a free-text term list: tf=1 per
    * distinct in-vocabulary term → weight = idf(term), exactly
    * sklearn's transform of a short query, in term order; plus the
    * query L2 norm, folded on the driver in that order.
    */
  private def queryWeights(spark: SparkSession, m: TfidfModel,
                           queryTerms: Seq[String]): (Map[String, Double], Double) = {
    val idf = termIdf(spark, m)
    val qw = queryTerms.distinct.sorted.flatMap(t => idf.get(t).map(s => t -> s.idf))
    (qw.toMap, math.sqrt(qw.foldLeft(0.0) { case (acc, (_, w)) => acc + w * w }))
  }

  /** A per-document constant table (doc_id, value) of a model
    * artifact — the TF-IDF `norms`, the BM25 `dl` — as a
    * [[longDoubleTable]] lookup, collected once per fingerprinted
    * artifact path `key` ([[DriverMemo]]), so no keyword query joins or
    * broadcasts the O(documents) table per request. Driver memory is
    * O(documents) once per model, where the broadcast shipped that much
    * on every request. Every posting's document has a row: both tables
    * aggregate the postings they serve.
    */
  private def perDocument(spark: SparkSession, key: String,
                          table: => DataFrame): Column => Column =
    DriverMemo.memo(spark, key) {
      val rows = table.collect()
      longDoubleTable(rows.map(_.getLong(0)), rows.map(_.getAs[Number](1).doubleValue))
    }

  /** `nrm` of a document: the L2 norm of its `w` row. */
  private def norms(spark: SparkSession, m: TfidfModel): Column => Column =
    perDocument(spark, s"${m.path}#norms", m.norms.select("doc_id", "nrm"))

  /** (doc_id, c): one TF-IDF cosine term per posting of a query term;
    * a document's cosine `ts` is the sum of its `c`. The scan reads
    * only the query terms' `w` rows (a literal IN list parquet pushes
    * down); the document norms come from the [[norms]] lookup, the
    * weights ride a map literal and the query norm a [[param]], so the
    * generated code is the same for every query of the same length.
    */
  private def tfidfTerms(spark: SparkSession, m: TfidfModel,
                         queryTerms: Seq[String]): DataFrame = {
    val (qw, qn) = queryWeights(spark, m, queryTerms)
    val nrm = norms(spark, m)
    m.w.where(col("term").isin(qw.keys.toSeq.sorted: _*))
      .select(col("doc_id"), (col("w") / nrm(col("doc_id")) *
        element_at(typedlit(qw), col("term")) / param(qn)).as("c"))
  }

  /** (doc_id, ts): the per-document sum of a leg's (doc_id, c) terms. */
  private def summed(terms: DataFrame): DataFrame =
    terms.groupBy(col("doc_id")).agg(sum(col("c")).as("ts"))

  /** Keyword search: score = cosine(tfidf(query), tfidf(doc)), top-k.
    * Reference app.py:202-204 (tfidf_vec.transform + cosine_similarity).
    */
  def tfidfTopK(spark: SparkSession, dir: String, queryTerms: Seq[String], k: Int): DataFrame =
    summed(tfidfTerms(spark, ensureModel(spark, dir), queryTerms))
      .select(col("doc_id"), round(col("ts"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Raw-text front door (reference app.py:173
    * `search_products_vector(query: str)` — the search functions take
    * the string a user typed): tokenize with the model's own tokenizer
    * on the driver, then score. */
  def tfidfTopK(spark: SparkSession, dir: String, query: String, k: Int): DataFrame =
    tfidfTopK(spark, dir, sklearnTokenize(query), k)

  /** BM25 doc-length artifact derived from the persisted tf table:
    * per-doc length `dl` (sum of term frequencies) plus the corpus
    * average `avgdl` (1 row) — the two statistics Okapi BM25 adds over
    * TF-IDF. Build-once under the same fingerprint-addressed layout as
    * the model itself; `avg` is written LAST so the completeness
    * marker rides the publish rename. `avgdl` is read once per
    * artifact path into a [[DriverMemo]] (NaN for an empty corpus) and
    * enters query plans as a [[param]]; `dl` is a [[perDocument]]
    * lookup (an exact double of the bigint length).
    */
  private def ensureBm25(spark: SparkSession, dir: String,
                         m: TfidfModel): (Column => Column, Double) = {
    val base = IndexStore.indexPath(spark, "bm25_v1", s"$dir/documents.parquet", "dl")
    IndexStore.publish(spark, base) { tmp =>
      m.tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        .write.mode("overwrite").parquet(s"$tmp/dl")
      spark.read.parquet(s"$tmp/dl").agg(avg(col("dl")).as("avgdl"))
        .write.mode("overwrite").parquet(s"$tmp/avg")
    }
    val avgdl = DriverMemo.memo(spark, s"$base#avgdl") {
      val r = IndexStore.open(spark, s"$base/avg").head()
      java.lang.Double.valueOf(if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
    }
    (perDocument(spark, s"$base#dl", IndexStore.open(spark, s"$base/dl").select("doc_id", "dl")),
      avgdl.doubleValue)
  }

  /** Okapi BM25 ranking — the standard keyword scorer the reference's
    * TF-IDF-cosine approximates (Robertson & Zaragoza 2009; Lucene's
    * default similarity). Per query term t with document frequency df:
    *
    *   idf(t)  = ln((N − df + 0.5)/(df + 0.5) + 1)
    *   s(d,t)  = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * summed over the query's distinct terms. Unlike TF-IDF cosine it
    * saturates term frequency (k1) and penalizes long documents (b) —
    * the two behaviors that make it the stronger default ranker.
    *
    * Scale shape is identical to [[tfidfTopK]]: only the query terms'
    * persisted tf triples are read, weighted from a map of |q| idf
    * values, the per-doc sum partial-aggregates map-side, and the top-k is a
    * TakeOrderedAndProject — one shuffle keyed by doc_id, no dense
    * vectors anywhere.
    */
  def bm25TopK(spark: SparkSession, dir: String, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(spark, dir, queryTerms, k1, b)
      .select(col("doc_id"), round(col("ts"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** The unrounded per-doc BM25 sum (doc_id, ts) — shared by
    * [[bm25TopK]] and the other BM25 rankers (round + top-k).
    * Association order mirrors the oracle SQL exactly (left-to-right)
    * so both engines round the same doubles — SURVEY §4.
    */
  private def bm25Scores(spark: SparkSession, dir: String, queryTerms: Seq[String],
                         k1: Double, b: Double): DataFrame =
    summed(bm25Terms(spark, dir, ensureModel(spark, dir), queryTerms.distinct.map(_ -> 1.0),
      k1, b))

  /** qw·idf(t)·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) per posting
    * of a weighted query term (doc_id, c); a document's BM25 score is
    * the sum of its `c` ([[summed]]). Each in-vocabulary term's factor
    * qw·idf(t) is folded on the driver from the [[termIdf]] memo
    * (qw = 1.0 leaves idf(t) bit-equal) and rides a map literal, `dl`
    * comes from its [[perDocument]] lookup; the scan reads only those
    * terms' `tf` rows.
    */
  private def bm25Terms(spark: SparkSession, dir: String, m: TfidfModel,
                        qw: Seq[(String, Double)], k1: Double, b: Double): DataFrame = {
    val idf = termIdf(spark, m)
    val f = qw.flatMap { case (t, w) => idf.get(t).map(s => t -> w * s.bm25) }.toMap
    val (dl, avgdl) = ensureBm25(spark, dir, m)
    m.tf.where(col("term").isin(f.keys.toSeq.sorted: _*))
      .select(col("doc_id"), (element_at(typedlit(f), col("term")) * col("tf") *
        (lit(k1) + lit(1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl(col("doc_id")) / param(avgdl))))
        .as("c"))
  }

  /** Raw-text BM25 front door — same tokenizer contract as
    * [[tfidfTopK]]'s String overload. */
  def bm25TopK(spark: SparkSession, dir: String, query: String, k: Int): DataFrame =
    bm25TopK(spark, dir, sklearnTokenize(query), k)

  /** Boolean retrieval with BM25 ranking — the `+must −mustNot`
    * query grammar every search box ends up needing (conjunctive
    * containment decides WHICH docs are eligible; BM25 over the must
    * terms decides their ORDER): a candidate must contain every
    * `must` term and none of the `mustNot` terms, both tested against
    * the persisted tf triples (no re-tokenization). Containment is a
    * distinct-count equality over the must-term postings —
    * conjunction as one aggregate, never an N-way self-join — and the
    * exclusion one anti-join on the mustNot postings.
    *
    * Scale shape: both postings scans are term-pruned (`term IN (…)`
    * pushes into the artifact scan); candidate volume is bounded by
    * the rarest must term's df; scoring joins ride the same bounded
    * frames as [[bm25TopK]]; TakeOrdered top-k.
    */
  def boolSearch(spark: SparkSession, dir: String, must: Seq[String],
                 mustNot: Seq[String], k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(must.nonEmpty, "boolean search needs at least one must term")
    val m = ensureModel(spark, dir)
    val mu = must.distinct
    val cand = m.tf.where(col("term").isin(mu: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nm"))
      .where(col("nm") === mu.size)
      .select(col("doc_id"))
    val eligible =
      if (mustNot.isEmpty) cand
      else cand.join(
        m.tf.where(col("term").isin(mustNot.distinct: _*)).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    bm25Scores(spark, dir, mu, k1, b)
      .join(eligible, Seq("doc_id"))
      .select(col("doc_id"), round(col("ts"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Result-set facets — the SERP sidebar (the reference's UI facets
    * products by brand over the CURRENT result list, app.py's filter
    * panel): facet counts computed over the query's top-`topDocs`
    * BM25 results, not the whole corpus, so the counts answer "within
    * THESE results, what languages/sources are there to narrow by".
    * The cut rounds scores first and breaks ties by doc id (SURVEY §4
    * — the cut set itself is oracle-exact), then one join against the
    * documents table and a (facet, value) rollup.
    *
    * Scale shape: the result list is a TakeOrdered `topDocs`-row
    * frame — the facet join's build side — so facet counting is one
    * broadcast semi-join + map-side-combined aggregate regardless of
    * corpus size.
    */
  def searchFacets(spark: SparkSession, dir: String, queryTerms: Seq[String],
                   topDocs: Int = 100, k1: Double = 1.2,
                   b: Double = 0.75): DataFrame = {
    val top = bm25Scores(spark, dir, queryTerms.distinct, k1, b)
      .select(col("doc_id"), round(col("ts"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topDocs)
    val docs = Tables.documents(spark, dir)
      .join(broadcast(top.select(col("doc_id"))), Seq("doc_id"))
    docs.select(lit("lang").as("facet"), col("lang").as("value"))
      .unionAll(docs.select(lit("source").as("facet"), col("source").as("value")))
      .groupBy(col("facet"), col("value"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("facet"), col("value"))
  }

  /** Team-draft interleaving — the industry-standard ONLINE ranker
    * comparison (Radlinski et al. CIKM'08: to A/B two rankers without
    * splitting traffic, interleave their lists; whichever team's
    * results get the clicks wins). Teams here are the engine's two
    * lexical rankers over the same query — BM25 (team `bm25`) and
    * TF-IDF cosine (team `tfidf`). Per round the coin
    * u32(md5('td:'||round)) % 2 decides who picks first (the
    * deterministic hash-IS-the-sample rule every sampler in the
    * engine uses); each pick takes the team's highest-ranked document
    * not yet drafted; a team with nothing left skips its slot (the
    * position stays empty — stable slot numbering on both engines).
    * Output: (pos, doc_id, team, team_rank) — the served page plus
    * the attribution column a click log joins against.
    *
    * Scale shape: both inputs are k-row TakeOrdered cuts (bounded
    * driver artifacts — the recPopularityBaseline precedent); the
    * draft is O(k) driver work; the oracle replays both rankings and
    * the unrolled draft with the same literal coin sequence.
    */
  def teamDraftInterleave(spark: SparkSession, dir: String,
                          queryTerms: Seq[String], k: Int = 10): DataFrame = {
    import spark.implicits._
    require(k >= 1 && k <= 20, s"k must be in [1,20]: $k")
    val a = bm25TopK(spark, dir, queryTerms, k).collect()
      .map(_.getLong(0)).toSeq
    val b = tfidfTopK(spark, dir, queryTerms, k).collect()
      .map(_.getLong(0)).toSeq
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
    for (pos <- 1 to k) {
      val round = (pos - 1) / 2
      val aFirst = TeamDraft.coin(round)
      val teamA = if ((pos - 1) % 2 == 0) aFirst else !aFirst
      val (list, name) = if (teamA) (a, "bm25") else (b, "tfidf")
      list.zipWithIndex.find { case (d, _) => !picked(d) }.foreach {
        case (d, i) =>
          picked += d
          out += ((pos.toLong, d, name, i + 1L))
      }
    }
    out.toSeq.toDF("pos", "doc_id", "team", "team_rank").orderBy(col("pos"))
  }

  /** Source-diversified SERP — host-crowding suppression (the classic
    * web-search rule: at most `perSource` results per source in a
    * page, so one chatty host can't fill the top-10): BM25-rank,
    * cap each source at its `perSource` best via a source-partitioned
    * window, then the global top-k over the survivors. Scores round
    * before every cut and ties break by doc id (SURVEY §4), so the
    * page is oracle-exact.
    *
    * Scale shape: the only window is partitioned by source
    * (WindowGroupLimit prunes to perSource per source before the
    * shuffle); the global cut is TakeOrdered. The documents join for
    * the source column is doc-keyed, no fan-out.
    */
  def serpDiversified(spark: SparkSession, dir: String, queryTerms: Seq[String],
                      k: Int = 10, perSource: Int = 2,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val scored = bm25Scores(spark, dir, queryTerms.distinct, k1, b)
      .select(col("doc_id"), round(col("ts"), 5).as("score"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val ws = Window.partitionBy(col("source")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("src_rank", row_number().over(ws).cast("long"))
      .where(col("src_rank") <= perSource)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("score"), col("src_rank"))
  }

  /** Prefix autocomplete over the fitted vocabulary — the typeahead
    * ranking every search box serves (suggest the corpus's most-used
    * terms under the typed prefix): candidates come from the
    * persisted tf triples with the prefix predicate PUSHED into the
    * artifact scan (StartsWith → parquet min/max pruning on the
    * sorted term column), ranked by total corpus tf with df
    * alongside (a UI can re-weight), ties toward the
    * lexicographically smaller term. Exact integers; TakeOrdered cut.
    */
  def autocompletePrefix(spark: SparkSession, dir: String, prefix: String,
                         k: Int = 10): DataFrame = {
    require(prefix.nonEmpty, "autocomplete needs a non-empty prefix")
    val m = ensureModel(spark, dir)
    m.tf.where(col("term").startsWith(prefix))
      .groupBy(col("term"))
      .agg(sum(col("tf")).as("total_tf"), count(lit(1)).as("df"))
      .orderBy(col("total_tf").desc, col("term"))
      .limit(k)
  }

  /** BM25 with pseudo-relevance feedback (the RM3-shaped lexical twin
    * of [[VectorSearch.prfTopK]]): pass one retrieves the top `fbK`
    * docs for the raw terms, the top `expandK` NEW terms by summed
    * TF-IDF weight across those docs (the persisted `m.w` triples —
    * no re-tokenization; ties toward the lexicographically smaller
    * term, sums rounded before the cut per SURVEY §4) join the query
    * at half weight, and pass two scores the weighted union. Like
    * every PRF stage only fbK ids + expandK terms touch the driver
    * (bounded); both passes are the same artifact-backed BM25 join,
    * so the whole cascade replays in SQL.
    */
  def bm25PrfTopK(spark: SparkSession, dir: String, queryTerms: Seq[String],
                  fbK: Int = 5, expandK: Int = 3, k: Int = 10,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val m = ensureModel(spark, dir)
    val fbIds = bm25TopK(spark, dir, queryTerms, fbK, k1, b)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val expanded = m.w
      .where(col("doc_id").isin(fbIds: _*))
      .where(!col("term").isin(queryTerms.distinct: _*))
      .groupBy(col("term")).agg(round(sum(col("w")), 5).as("sw"))
      .orderBy(col("sw").desc, col("term"))
      .limit(expandK)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    summed(bm25Terms(spark, dir, m,
      queryTerms.distinct.map(t => (t, 1.0)) ++ expanded.map(t => (t, 0.5)), k1, b))
      .select(col("doc_id"), round(col("ts"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-document keyword extraction: the top-N TF-IDF-weighted terms
    * of every document, straight from the persisted sparse triples —
    * the "why did this match" explainer and the cheap tag generator.
    * Weights are the exact same expression on both engines (no
    * summation, so no float drift); ties break on term.
    *
    * Scale: a WindowGroupLimit-bounded ranking window keyed by doc_id
    * over the model artifact — per-partition top-N pruning before the
    * shuffle, no corpus re-tokenization, no global sort.
    */
  def docKeywords(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    val m = ensureModel(spark, dir)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("w").desc, col("term"))
    m.w.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= topN)
      .select(col("doc_id"), col("term"), round(col("w"), 5).as("weight"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Positional posting lists (doc_id, pos, term) — the build-once
    * inverted-index artifact behind [[phraseSearch]], persisted under
    * the same fingerprint-addressed IndexStore layout as the TF-IDF
    * model (fit once per corpus, queries only read). Tokenization is
    * the model's own [[sklearnTokens]], so a phrase hit means the
    * query terms are adjacent in TOKEN space on both engines.
    */
  private def ensurePositions(spark: SparkSession, dir: String): DataFrame = {
    val base = IndexStore.indexPath(spark, "pos_v1", s"$dir/documents.parquet", "p")
    IndexStore.publish(spark, base) { tmp =>
      Tables.documents(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), posexplode(sklearnTokens(col("text"))))
        .toDF("doc_id", "pos", "term")
        .write.mode("overwrite").parquet(s"$tmp/p")
    }
    IndexStore.open(spark, s"$base/p")
  }

  /** Exact phrase search over the positional index: a document matches
    * at anchor p0 when, for EVERY phrase offset i, the posting at
    * position p0+i carries phrase term i. Expressed relationally (the
    * classic positional-intersection query): postings join a BROADCAST
    * of the |phrase| (term, off) rows, group by (doc, pos − off), and
    * an anchor with `matched == |phrase|` satisfied every offset — one
    * join + one aggregate regardless of phrase length, never an m-way
    * self-join. Returns per-doc occurrence counts.
    *
    * Scale: the static `isin` on the phrase's distinct terms is pushed
    * into the parquet scan of the posting artifact (row-group stats
    * skip the vocabulary's cold range), the surviving postings are
    * df-bounded per term, and both aggregates partial-combine
    * map-side.
    */
  def phraseSearch(spark: SparkSession, dir: String, phrase: String): DataFrame = {
    val toks = sklearnTokenize(phrase)
    require(toks.nonEmpty, s"phrase '$phrase' has no tokens")
    import spark.implicits._
    val q = toks.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("term", "off")
    ensurePositions(spark, dir)
      .where(col("term").isin(toks.distinct: _*))
      .join(broadcast(q), "term")
      .groupBy(col("doc_id"), (col("pos") - col("off")).as("p0"))
      .agg(count(lit(1)).as("matched"))
      .where(col("matched") === toks.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("n_hits").desc, col("doc_id"))
  }

  /** Candidate embeddings under an optional metadata filter over the
    * `documents` table (reference app.py:156-164 `candidate_indices()`
    * — brand/rating/review-count become lang/source/n_chars here). The
    * unfiltered path joins nothing.
    */
  private def candidates(spark: SparkSession, dir: String,
                         metaFilter: Option[Column]): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    metaFilter match {
      case Some(f) => e.join(
        Tables.documents(spark, dir).where(f).select(col("doc_id").as("vec_id")), "vec_id")
      case None => e
    }
  }

  /** A candidate as the blend's scan returns it: the vector leg `vs`,
    * the keyword leg `ts` (None: no posting) and the cut key
    * round(vs·alpha, 5).
    */
  private[operators] case class BlendCand(doc_id: Long, vs: Option[Double], ts: Option[Double],
                                          key: Option[Double])

  /** One scan partition's share of the blend: every posted candidate,
    * the k first unposted ones by (key, doc_id) under
    * [[TopK.scoreOrdering]], and the partition's unposted count.
    */
  private[operators] case class BlendCut(posted: Seq[BlendCand], top: Seq[BlendCand],
                                         unposted: Long)

  private def cutPartition(rows: Iterator[BlendCand], k: Int): BlendCut = {
    val order = TopK.scoreOrdering.on[BlendCand](c => (c.key.getOrElse(Double.NaN), c.doc_id))
    val posted = mutable.ArrayBuffer.empty[BlendCand]
    val top = mutable.PriorityQueue.empty[BlendCand](order) // head: the last one kept
    var unposted = 0L
    rows.foreach { c =>
      if (c.ts.isDefined) posted += c
      else {
        unposted += 1
        if (top.size < k) top.enqueue(c)
        else if (k > 0 && order.lt(c, top.head)) { top.dequeue(); top.enqueue(c) }
      }
    }
    BlendCut(posted.toSeq, top.toSeq, unposted)
  }

  private lazy val candEncoder = Encoders.product[BlendCand]
  private lazy val cutEncoder = Encoders.product[BlendCut]

  private val blendInput = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("vs", DoubleType), StructField("ts", DoubleType, nullable = false)))

  /** The reference's hybrid blend of the candidates' vector leg `vs`
    * (doc_id, vs) and the sparse keyword leg, given as its per-posting
    * terms (doc_id, c) whose per-document sum is `ts` (a candidate
    * without a posting reads 0): min-max-normalize ts OVER THE
    * CANDIDATE SET (app.py:205-212 — filters apply before
    * normalization, so the blend is filter-relative exactly like
    * `search_products_hybrid` running inside `candidate_indices()`),
    * then alpha·vs + (1-alpha)·minmax(ts), including the max>min guard
    * and the 1e-12 denominator epsilon; top k by (hybrid_score DESC,
    * doc_id) under [[TopK.scoreOrdering]], NaN last.
    *
    * Three passes, and the Spark jobs are those of passes 1 and 2:
    *  1. The keyword leg is collected and summed per document on the
    *     driver (one job of the term-pruned postings scan; the document
    *     norms or lengths are a [[perDocument]] lookup; no shuffle).
    *     Driver memory is O(postings of the query terms).
    *  2. One scan of the candidates computes `vs`, looks `ts` up by
    *     binary search in a sorted table read by reference
    *     ([[longDoubleTable]], a [[param]] whose plan string does not
    *     grow with it; O(log posted documents) per candidate) and
    *     the cut key round(vs·alpha, 5) through a [[param]] (so fresh
    *     query values compile nothing), and
    *     returns, per partition, every posted candidate, the k first
    *     unposted ones by (key, doc_id), and the unposted count.
    *  3. The driver takes min/max of ts over the candidates, applies
    *     the blend's Column expressions to the ≤ |posted| +
    *     k·partitions returned rows (a local relation: no job), and
    *     returns the first k as a local relation.
    *
    * Exactness: every keyword term is > 0 (smooth idf > 0, BM25 idf =
    * ln(…+1) > 0, L2-normalized weights > 0), so ts ≥ 0. When an
    * unposted candidate exists its ts is 0, so mn = 0 and its
    * normalized tn is 0.0 whatever mx is; its score is then
    * round(vs·alpha + 0.0, 5), equal to its cut key, and unposted
    * candidates rank among themselves by (key, doc_id) alone. The
    * unposted rows of the global top k are therefore among the
    * per-partition cuts, and every posted row is returned, so the
    * driver's top k is the top k over all candidates.
    */
  private def blend(spark: SparkSession, vs: DataFrame, terms: DataFrame, alpha: Double,
                    k: Int, tsName: String = "tfidf_score"): DataFrame = {
    val ts = mutable.LongMap.empty[Double]
    terms.collect().foreach { r =>
      val (id, c) = (r.getLong(0), r.getDouble(1))
      ts(id) = ts.get(id).fold(c)(_ + c)
    }
    val (ids, sums) = ts.toArray.unzip
    val cuts = vs.select(col("doc_id"), col("vs"),
        longDoubleTable(ids, sums)(col("doc_id")).as("ts"),
        round(col("vs") * param(alpha), 5).as("key"))
      .as(candEncoder).mapPartitions(rows => Iterator(cutPartition(rows, k)))(cutEncoder).collect()
    val legs: Seq[Double] = cuts.iterator.flatMap(_.posted).flatMap(_.ts).toSeq ++
      (if (cuts.exists(_.unposted > 0)) Seq(0.0) else Nil)
    val (mn, mx) = if (legs.isEmpty) (0.0, 0.0) else (legs.min, legs.max)
    val rows = cuts.iterator.flatMap(c => c.posted ++ c.top)
      .map(c => Row(c.doc_id, c.vs.map(Double.box).orNull, c.ts.getOrElse(0.0))).toSeq
    val tn = when(lit(mx) > lit(mn),
      (col("ts") - lit(mn)) / (lit(mx) - lit(mn) + lit(1e-12))).otherwise(col("ts"))
    val blended = spark.createDataFrame(rows.asJava, blendInput)
      .select(
        col("doc_id"),
        round(col("vs") * alpha + tn * (1 - alpha), 5).as("hybrid_score"),
        round(col("vs"), 5).as("vector_score"),
        round(tn, 5).as(tsName))
    val first = blended.collect()
      .sortBy(r => (if (r.isNullAt(1)) Double.NaN else r.getDouble(1), r.getLong(0)))(
        TopK.scoreOrdering)
      .take(k)
    spark.createDataFrame(first.toSeq.asJava, blended.schema)
  }

  /** Free-text hybrid search — the reference's ACTUAL interactive path
    * (app.py:190-219: the query is text typed by a user; app.py:169-171
    * embeds it, tfidf_vec.transform() vectorizes it): the caller
    * supplies the externally produced embedding `qv` plus the query's
    * tokens. `metaFilter` reproduces the composition with
    * `candidate_indices()` — the blend and its min-max run inside the
    * filtered candidate set.
    *
    * Both query norms are folded on the DRIVER and enter the plan as
    * params: the vector norm (same left-to-right double accumulation
    * as VecDot), so scoring costs two VecDots per corpus row (dot +
    * corpus norm), not four; and the TF-IDF norm ([[queryWeights]]).
    */
  def hybridTopKFree(spark: SparkSession, dir: String, qv: Array[Float],
                     queryTerms: Seq[String], alpha: Double, k: Int,
                     metaFilter: Option[Column] = None): DataFrame =
    blend(spark, vectorCandidates(spark, dir, qv, metaFilter),
      tfidfTerms(spark, ensureModel(spark, dir), queryTerms), alpha, k)

  /** (doc_id, vs) of every candidate against a caller vector. */
  private def vectorCandidates(spark: SparkSession, dir: String, qv: Array[Float],
                               metaFilter: Option[Column]): DataFrame =
    candidates(spark, dir, metaFilter).select(col("vec_id").as("doc_id"), vectorLeg(qv).as("vs"))

  /** The hybrid vector leg: unrounded cosine of `embedding` against
    * the caller vector, its norm folded once on the driver.
    */
  private def vectorLeg(qv: Array[Float]): Column =
    cosine(col("embedding"), typedlit(qv), l2norm(col("embedding")), normParam(qv.map(_.toDouble)))

  /** Raw-text hybrid front door: the reference's exact interactive
    * shape (app.py:190-219 — the user types `query: str`; the model
    * embeds it, the vectorizer tokenizes it). `qv` stands in for
    * `model.encode(query)`; tokenization happens here with the model's
    * own tokenizer instead of leaking that contract to the caller. */
  def hybridTopKFree(spark: SparkSession, dir: String, qv: Array[Float],
                     query: String, alpha: Double, k: Int,
                     metaFilter: Option[Column]): DataFrame =
    hybridTopKFree(spark, dir, qv, sklearnTokenize(query), alpha, k, metaFilter)

  /** Hybrid "more-like-this": query = one document (its embedding for
    * the vector leg, its TF-IDF vector for the keyword leg).
    * final = alpha·cos(e_d, e_q) + (1-alpha)·minmax(tfidfcos(d, q)),
    * exactly reference app.py:190-219; `metaFilter` composes it with
    * the reference's candidate filters (min-max over candidates).
    *
    * The vector leg is [[hybridTopKFree]]'s: the document's embedding
    * looked up once on the driver ([[memberVector]]), then scored as a
    * caller vector, the document itself excluded.
    */
  def hybridTopK(spark: SparkSession, dir: String, queryDoc: Long, alpha: Double, k: Int,
                 metaFilter: Option[Column] = None): DataFrame = {
    val m = ensureModel(spark, dir)
    val nrm = norms(spark, m)
    val wn = m.w.select(col("doc_id"), col("term"), (col("w") / nrm(col("doc_id"))).as("wn"))
    val qw = wn.where(col("doc_id") === queryDoc).select(col("term"), col("wn").as("qwn"))
    val terms = wn.where(col("doc_id") =!= queryDoc)
      .join(broadcast(qw), "term")
      .select(col("doc_id"), (col("wn") * col("qwn")).as("c"))
    val vs = vectorCandidates(spark, dir, memberVector(spark, dir, queryDoc), metaFilter)
      .where(col("doc_id") =!= param(queryDoc))
    blend(spark, vs, terms, alpha, k)
  }

  /** BM25-keyword-leg hybrid — the reference's blend contract
    * (app.py:190-219: α·vec + (1−α)·minmax(keyword), min-max over the
    * candidate set) with Okapi BM25 as the keyword scorer instead of
    * TF-IDF cosine. BM25's raw sums are unbounded, so the candidate
    * min-max normalization the reference applies to its tfidf leg is
    * exactly what makes the two legs commensurable here too.
    * `metaFilter` composes with `candidate_indices()` like every other
    * search: the blend AND its min-max run inside the filtered set.
    * Output: (doc_id, hybrid_score, vector_score, bm25_score).
    *
    * Same three-pass shape as [[hybridTopKFree]] ([[blend]]).
    */
  def bm25HybridTopK(spark: SparkSession, dir: String, qv: Array[Float],
                     queryTerms: Seq[String], alpha: Double, k: Int,
                     metaFilter: Option[Column] = None,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame =
    blend(spark, vectorCandidates(spark, dir, qv, metaFilter),
      bm25Terms(spark, dir, ensureModel(spark, dir), queryTerms.distinct.map(_ -> 1.0), k1, b),
      alpha, k, tsName = "bm25_score")

  /** Raw-text BM25-hybrid front door — same tokenizer contract as the
    * other String overloads. */
  def bm25HybridTopK(spark: SparkSession, dir: String, qv: Array[Float],
                     query: String, alpha: Double, k: Int,
                     metaFilter: Option[Column]): DataFrame =
    bm25HybridTopK(spark, dir, qv, sklearnTokenize(query), alpha, k, metaFilter)

  /** Reciprocal-rank fusion of the vector and BM25 legs (Cormack,
    * Clarke & Buettcher 2009) — the OTHER standard hybrid next to the
    * reference's score blend (app.py:190-219): each leg contributes
    * 1/(rrfK + rank) for documents in its top-`n` list, so the fusion
    * depends only on RANKS, needs no min-max normalization, and is
    * robust to the legs' incomparable score scales. rrfK=60 is the
    * paper's constant.
    *
    * Scale shape: each leg reduces to its top-n via
    * TakeOrderedAndProject (per-partition heaps, no global sort of the
    * corpus); the rank window then runs over an n-row frame — bounded
    * by construction, like the driver-side probe planning elsewhere —
    * and the fusion is a full-outer join of two n-row lists. Rank
    * assignment is deterministic ((score DESC, doc_id), bit-identical
    * scores on both engines per SURVEY §4), so ranks — and therefore
    * the fused scores — are exact integers fed into exact double
    * arithmetic.
    */
  def rrfTopK(spark: SparkSession, dir: String, qv: Array[Float],
              queryTerms: Seq[String], k: Int, n: Int = 100,
              rrfK: Int = 60): DataFrame = {
    val rv = TopK.ranked(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), vectorLeg(qv).as("vs")),
      n, "rv", TopK.byScore("doc_id", "vs"): _*)
      .select("doc_id", "rv")
    val rb = TopK.ranked(bm25Scores(spark, dir, queryTerms, k1 = 1.2, b = 0.75),
      n, "rb", TopK.byScore("doc_id", "ts"): _*)
      .select("doc_id", "rb")
    rv.join(rb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("rv")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rb")), lit(0.0)), 6).as("rrf_score"),
        coalesce(col("rv"), lit(0L)).as("vec_rank"),
        coalesce(col("rb"), lit(0L)).as("bm25_rank"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
  }

  /** Raw-text RRF front door — same tokenizer contract as the other
    * String overloads. */
  def rrfTopK(spark: SparkSession, dir: String, qv: Array[Float],
              query: String, k: Int): DataFrame =
    rrfTopK(spark, dir, qv, sklearnTokenize(query), k)

  /** Passage-level retrieval with max-pool document scoring — the RAG
    * pattern where the retrieval unit is a chunk but the deliverable
    * is (document, best passage): chunk every document with the SAME
    * deterministic splitter as [[TextAnalysis.chunk]], score chunks
    * against the query with chunk-level tf·idf (sklearn smooth-idf
    * over the CHUNK corpus — passage statistics, not document
    * statistics), and keep each document's best chunk as its score
    * and evidence. The chunk term triples materialize once
    * (ScratchCache) and serve both the df pass and the scoring pass;
    * per-doc max is a WindowGroupLimit-bounded ranking, global top-k
    * a TakeOrdered. At 100 TB the chunk stream is a narrow explode —
    * the quadratic-free passage index every long-context pipeline
    * needs.
    */
  def chunkPassageTopK(spark: SparkSession, dir: String,
                       queryTerms: Seq[String] = Seq("spark", "join", "vector"),
                       size: Int = 200, overlap: Int = 50, k: Int = 10): DataFrame = {
    import spark.implicits._
    val step = size - overlap
    // BUILD-ONCE persisted chunk index (the [[ensureModel]] fit-once
    // discipline applied to the RAG chunk store): the per-chunk TF
    // table and the chunk count publish atomically per (documents
    // fingerprint, size, step); every query probes the artifact with
    // its terms PUSHED into the parquet scan instead of re-chunking
    // and re-tokenizing the corpus (guide §1.2, §6.2 — the previous
    // shape re-built the whole chunk TF frame per call, plus a second
    // corpus chunk pass just to count chunks). Counts are longs, so
    // the round-trip is bit-identical.
    val base = graft.sources.IndexStore.indexPath(spark, "chunktf_v1",
      s"$dir/documents.parquet", s"s${size}_p$step")
    graft.sources.IndexStore.publish(spark, base) { tmp =>
      val chunks = TextAnalysis.chunkFrame(spark, dir, size, step)
      chunks.select(col("doc_id"), col("chunk_id"),
          explode(sklearnTokens(col("chunk_text"))).as("term"))
        .groupBy(col("doc_id"), col("chunk_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(s"$tmp/tf")
      chunks.agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$tmp/meta")
    }
    // term-pruned probe: both the df lookup and the scoring pass only
    // ever need the query terms' rows, so the isin predicate reaches
    // the parquet scan as a PushedFilter (df values are unchanged —
    // filtering by term before a term-keyed groupBy/join drops only
    // rows those operators would drop anyway)
    val qctf = graft.sources.IndexStore.open(spark, s"$base/tf")
      .where(col("term").isin(queryTerms.distinct: _*))
    val cdf = qctf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = graft.sources.IndexStore.open(spark, s"$base/meta")
    val qw = queryTerms.distinct.toDF("term")
      .join(cdf, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("term"), (log((col("n") + 1) / (col("df") + 1)) + 1).as("w"))
    val cs = qctf.join(broadcast(qw), Seq("term"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(round(sum(col("tf") * col("w")), 5).as("chunk_score"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("chunk_score").desc, col("chunk_id"))
    cs.withColumn("rn", row_number().over(byDoc)).where(col("rn") === 1)
      .select(col("doc_id"), col("chunk_id"), col("chunk_score"))
      .orderBy(col("chunk_score").desc, col("doc_id"))
      .limit(k)
  }

  /** "Did you mean": closest vocabulary terms to a (possibly
    * misspelled) query term by edit distance, frequency-ranked — the
    * spell-correction leg every keyword search front end needs. Runs
    * against the persisted model's df table (the fitted vocabulary
    * artifact, never a corpus re-tokenization); a length-band
    * prefilter (`|len(term) − len(q)| ≤ maxDist`, a necessary
    * condition for edit distance) prunes the vocabulary before the
    * O(len²) levenshtein evaluates — at 100 TB the vocabulary table is
    * the bounded artifact, not the corpus. Exact-match (dist 0) rows
    * are excluded: the caller only asks when the term missed.
    */
  def fuzzyTermMatch(spark: SparkSession, dir: String, query: String = "vectr",
                     maxDist: Int = 2, topN: Int = 10): DataFrame = {
    val m = ensureModel(spark, dir)
    m.dfT
      .where(abs(length(col("term")) - lit(query.length)) <= maxDist)
      .withColumn("dist", levenshtein(col("term"), lit(query)))
      .where(col("dist") <= maxDist && col("dist") > 0)
      .select(col("term"), col("df"), col("dist"))
      .orderBy(col("dist"), col("df").desc, col("term"))
      .limit(topN)
  }

  /** Query-aware result snippets (KWIC): for each top TF-IDF hit, a
    * fixed window of the document centered on the FIRST occurrence of
    * any query term — the "why did this match" excerpt next to every
    * search result (the reference renders example_text previews,
    * app.py:255; this is the query-conditioned version). The top-k
    * frame broadcasts into the documents join (k rows vs corpus);
    * position/extraction are pure string ops identical on both
    * engines. Terms come from the SAME sklearn tokenizer as scoring,
    * so every hit is guaranteed a window.
    */
  def searchSnippets(spark: SparkSession, dir: String,
                     query: String = "Spark JOIN, vector-search! spark",
                     k: Int = 5, radius: Int = 40): DataFrame = {
    val hits = tfidfTopK(spark, dir, query, k)
    val terms = sklearnTokenize(query).distinct
    val posCols = terms.map(t =>
      when(instr(lower(col("text")), t) > 0, instr(lower(col("text")), t))
        .otherwise(lit(Int.MaxValue)))
    val pos = if (posCols.size == 1) posCols.head else least(posCols: _*)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .join(broadcast(hits), Seq("doc_id"))
      .withColumn("pos", pos)
      .withColumn("snippet",
        expr(s"substring(text, greatest(1, pos - $radius), ${3 * radius})"))
      .select(col("doc_id"), col("score"), col("snippet"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Late-interaction rerank — the ColBERT scoring shape (Khattab &
    * Zaharia, SIGIR 2020) over the engine's corpus-lexical term
    * vectors: score(q, d) = Σ_{t∈q} max_{t'∈d} cos(v(t), v(t')),
    * where v(·) is the [[graft.functions.CorpusLexicalEncoder]]
    * centroid lexicon (the zero-egress stand-in for per-token
    * transformer output embeddings). MaxSim rewards a document that
    * has a STRONG match for every query term where the single-vector
    * cosine averages matches away — the precision lever of the
    * late-interaction stack, here as the rerank stage over a TF-IDF
    * shortlist (retrieve-then-rerank, the production topology: the
    * cheap stage bounds the candidate set, MaxSim only ever scores
    * c docs).
    *
    * Query terms absent from the lexicon contribute nothing (no
    * corpus evidence to match against — the honest OOV convention).
    *
    * Scale shape: the shortlist is the existing TakeOrdered TF-IDF
    * top-c; MaxSim joins the c-doc shortlist's (doc, term) rows to
    * the vocab-keyed lexicon and cross-scores against the ≤|q|-row
    * broadcast query side — cost c·|terms(d)|·|q| cosines, bounded
    * by the shortlist, never corpus-sized. The max and the sum are
    * both map-side-combinable aggregates.
    */
  def maxsimRerank(spark: SparkSession, dir: String, queryTerms: Seq[String],
                   c: Int = 30, k: Int = 10): DataFrame = {
    val m = ensureModel(spark, dir)
    val shortlist = tfidfTopK(spark, dir, queryTerms, c)
      .select(col("doc_id"), col("score").as("tfidf_score"))
    val lex = graft.functions.CorpusLexicalEncoder.ensureLexicon(spark, dir)
      .select(col("term"), col("vector"))
    val qv = lex.where(col("term").isin(queryTerms.distinct: _*))
      .select(col("term").as("q_term"), col("vector").as("q_vec"))
    shortlist
      .join(m.tf.select(col("doc_id"), col("term")), "doc_id")
      .join(lex, "term")
      .crossJoin(broadcast(qv))
      .groupBy(col("doc_id"), col("tfidf_score"), col("q_term"))
      .agg(max(cosine(col("vector"), col("q_vec"),
        l2norm(col("vector")), l2norm(col("q_vec")))).as("ms"))
      .groupBy(col("doc_id"), col("tfidf_score"))
      .agg(round(sum(col("ms")), 5).as("maxsim_score"))
      .orderBy(col("maxsim_score").desc, col("doc_id"))
      .limit(k)
  }

  /** Ranker-agreement diagnostic: pairwise overlap@5 / overlap@10 /
    * Jaccard@10 and the mean rank displacement over the shared docs,
    * across the three production rankers (BM25, RRF fusion, TF-IDF)
    * on the same query — the system-comparison table an IR owner
    * reads before swapping rankers (high agreement means a cheap
    * ranker can serve; low agreement means the fusion is adding real
    * signal, Webber et al.'s rank-similarity motivation at the
    * fixed-k depth the serving path actually uses).
    *
    * Each leg is the already-deterministic top-k (rounded scores,
    * doc_id ties); the k-row lists are bounded driver artifacts (the
    * markov-matrix convention), so the pair metrics are exact integer
    * set operations plus two rounded divisions. A pair with no shared
    * docs reports NULL mean shift on both engines. Output is 3 rows.
    */
  def rankerAgreement(spark: SparkSession, dir: String, qv: Array[Float],
                      queryTerms: Seq[String], k: Int = 10): DataFrame = {
    import spark.implicits._
    def ranked(df: DataFrame): Map[Long, Int] =
      df.select(col("doc_id")).collect().map(_.getLong(0)).zipWithIndex
        .map { case (d, i) => d -> (i + 1) }.toMap
    val lists = Seq(
      "bm25" -> ranked(bm25TopK(spark, dir, queryTerms, k)),
      "rrf" -> ranked(rrfTopK(spark, dir, qv, queryTerms, k)),
      "tfidf" -> ranked(tfidfTopK(spark, dir, queryTerms, k)))
    val rows = for {
      i <- lists.indices
      j <- lists.indices if i < j
    } yield {
      val (na, a) = lists(i)
      val (nb, b) = lists(j)
      val inter = a.keySet & b.keySet
      val o5 = (a.filter(_._2 <= 5).keySet & b.filter(_._2 <= 5).keySet).size.toLong
      val jac = r5(inter.size.toDouble / (a.size + b.size - inter.size))
      val shift: Option[Double] =
        if (inter.isEmpty) None
        else Some(r5(inter.toSeq.map(d => math.abs(a(d) - b(d))).sum.toDouble / inter.size))
      (na, nb, o5, inter.size.toLong, jac, shift)
    }
    rows.toDF("ranker_a", "ranker_b", "overlap_at5", "overlap_at10",
      "jaccard_at10", "mean_rank_shift")
      .orderBy(col("ranker_a"), col("ranker_b"))
  }

  /** BM25 parameter-sensitivity sweep: for a small (k1, b) grid, the
    * top-10 under those parameters compared against the production
    * default (1.2, 0.75) by overlap and Jaccard, with each leg's
    * top-1 doc — the tuning table read before anyone "just tries"
    * k1 = 2.0 in production (if every grid point overlaps 9/10, the
    * ranking is parameter-insensitive on this corpus and tuning is a
    * non-event; if b = 0 flips the list, length normalization is
    * doing real work). Grid spans the Robertson-recommended ranges
    * (k1 ∈ [0.9, 2.0], b ∈ [0, 1]).
    *
    * Each leg is the same deterministic rounded-score top-10 as
    * [[bm25TopK]]; the k-row lists are bounded driver artifacts and
    * the metrics exact set ops ([[rankerAgreement]]'s convention).
    * Cost is |grid| passes over the persisted tf triples — each the
    * bm25TopK shape, nothing quadratic.
    */
  def bm25ParamSweep(spark: SparkSession, dir: String,
                     queryTerms: Seq[String] = Seq("spark", "join", "vector"),
                     k: Int = 10): DataFrame = {
    import spark.implicits._
    val grid = Seq((0.9, 0.4), (1.2, 0.0), (1.2, 0.75), (1.5, 0.75), (2.0, 1.0))
    def topIds(k1: Double, b: Double): Seq[Long] =
      bm25Scores(spark, dir, queryTerms, k1, b)
        .select(col("doc_id"), round(col("ts"), 5).as("s"))
        .orderBy(col("s").desc, col("doc_id")).limit(k)
        .collect().map(_.getLong(0)).toSeq
    val default = topIds(1.2, 0.75)
    grid.map { case (k1, b) =>
      val ids = if (k1 == 1.2 && b == 0.75) default else topIds(k1, b)
      val inter = ids.toSet & default.toSet
      (k1, b, ids.head, inter.size.toLong,
        r5(inter.size.toDouble / (ids.size + default.size - inter.size)))
    }.toDF("k1", "b", "top1_doc", "overlap_vs_default", "jaccard_vs_default")
      .orderBy(col("k1"), col("b"))
  }
}
