package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextRetrieval
import graft.sources.{DriverMemo, IndexStore}

/** A REAL text→embedding encoder learned from the corpus itself — the
  * working stand-in for the reference's sentence-transformer call
  * (reference app.py:85-87 loads `all-MiniLM-L6-v2`, app.py:166-168
  * encodes the typed query): with zero-egress environments and no
  * bundled model weights, the engine induces a lexicon from the data
  * it already has. Each term's vector is the centroid of the
  * embeddings of the documents containing it (the classic dual-space
  * projection: terms live where their documents live), so a free-text
  * query lands near the corpus regions that use its words — genuinely
  * meaningful retrieval, not a hash fake.
  *
  * The lexicon is a fingerprint-addressed build-once artifact
  * ([[IndexStore.publish]]): one aggregation pass over the corpus at
  * first use, parquet thereafter. The per-query encode path is a
  * bounded driver-side map lookup (top-`maxVocab` terms by document
  * frequency), exactly like every other driver-planned probe.
  */
object CorpusLexicalEncoder {

  /** Conf key naming the corpus dir the encoder learns from. */
  val DirKey = "spark.graft.encoder.dir"

  /** Conf key bounding the driver-resident vocabulary (by df rank). */
  val VocabKey = "spark.graft.encoder.maxVocab"

  /** The induced lexicon frame: (term, df, vector array<float>).
    *
    * Shuffle shape: distinct (doc_id, term) pairs join the embedding
    * table on doc_id (both sides shuffle on the id key once), the
    * per-dimension average is a posexplode + one map-side-combined
    * groupBy(term, pos), and the final array re-assembly is a
    * groupBy(term) over vocab·dim rows — every stage is keyed, nothing
    * is collected, so the build scales with the corpus like the TF-IDF
    * build does.
    */
  def buildLexicon(spark: SparkSession, dir: String): DataFrame =
    buildLexiconOf(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))

  /** [[buildLexicon]] over ARBITRARY (doc_id, text) × (vec_id,
    * embedding) frames — the door the reference-artifact corpus walks
    * through (reviews.csv rows paired positionally with
    * review_embeddings.npy rows). Dimension-agnostic.
    */
  def buildLexiconOf(docs: DataFrame, emb: DataFrame): DataFrame = {
    val terms = docs
      .select(col("doc_id"), explode(TextRetrieval.sklearnTokens(col("text"))).as("term"))
      .distinct()
    val joined = terms.join(
      emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val byDim = joined
      .select(col("term"), col("doc_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("term"), col("pos"))
      .agg(avg(col("v")).as("v"), count(lit(1)).as("df"))
    byDim.groupBy(col("term"))
      .agg(max(col("df")).as("df"),
        array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("term"), col("df"),
        expr("transform(pv, x -> cast(x.v AS float))").as("vector"))
  }

  /** Build-once artifact path for (corpus, version). */
  def lexiconPath(spark: SparkSession, dir: String): String =
    IndexStore.indexPath(spark, "lexenc", s"$dir/documents.parquet", "v1")

  /** The lexicon, built on first use and opened from parquet after. */
  def ensureLexicon(spark: SparkSession, dir: String): DataFrame = {
    val path = lexiconPath(spark, dir)
    if (!IndexStore.isComplete(spark, path))
      IndexStore.publish(spark, path) { staging =>
        buildLexicon(spark, dir).write.parquet(staging)
      }
    IndexStore.open(spark, path)
  }

  /** Build-once artifact path of the reference-corpus lexicon. */
  def referenceLexiconPath(spark: SparkSession, npyPath: String): String =
    IndexStore.indexPath(spark, "lexenc-ref", npyPath, "v1")

  /** The REFERENCE-corpus lexicon: reviews.csv's combined_text rows
    * (file-order ids — [[graft.sources.Sources.readCsvRowIndexed]])
    * paired positionally with review_embeddings.npy rows, exactly the
    * pairing the reference's own loaders establish (app.py:63-102
    * read_csv + np.load). The induced term vectors live in the
    * reference's REAL MiniLM space, so a typed query retrieves actual
    * products — the closest zero-egress stand-in for loading the
    * MiniLM weights themselves (environment-blocked: no weights, no
    * ONNX runtime, no egress — SURVEY §7). Build-once artifact
    * fingerprinted by the npy matrix.
    */
  def ensureReferenceLexicon(spark: SparkSession, csvPath: String,
                             npyPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = referenceLexiconPath(spark, npyPath)
    if (!IndexStore.isComplete(spark, path))
      IndexStore.publish(spark, path) { staging =>
        val schema = StructType(Seq("id", "asins", "brand", "categories",
          "reviews.title", "reviews.text", "reviews.rating", "combined_text")
          .map(f => StructField(f, StringType)))
        val docs = graft.sources.Sources.readCsvRowIndexed(spark, csvPath, schema)
          .select(col("row_id").as("doc_id"), col("combined_text").as("text"))
        buildLexiconOf(docs, graft.sources.NpySource.readNpy(spark, npyPath))
          .write.parquet(staging)
      }
    IndexStore.open(spark, path)
  }

  /** Driver-side encode over a resolved vocabulary: mean of the known
    * terms' vectors (double accumulation in token order), L2-normalized
    * — the mean-of-token-embeddings composition sentence encoders
    * reduce to for short queries. Unknown-only queries fail loudly.
    */
  private[graft] def encodeWithVocab(vocab: Map[String, Array[Float]],
                                     text: String): Array[Float] = {
    val hits = TextRetrieval.sklearnTokenize(text).flatMap(vocab.get)
    require(hits.nonEmpty,
      s"no query term is in the corpus lexicon (query: '$text')")
    val dim = hits.head.length
    val sum = new Array[Double](dim)
    hits.foreach { v => var i = 0; while (i < dim) { sum(i) += v(i); i += 1 } }
    var nrm = 0.0
    var i = 0
    while (i < dim) { sum(i) /= hits.length; nrm += sum(i) * sum(i); i += 1 }
    val inv = if (nrm > 0) 1.0 / math.sqrt(nrm) else 1.0
    Array.tabulate(dim)(j => (sum(j) * inv).toFloat)
  }
}

/** The [[QueryEncoder]] implementation over the induced lexicon —
  * wire it with:
  * {{{
  *   spark.conf.set("spark.graft.encoder.class",
  *     "graft.functions.CorpusLexicalQueryEncoder")
  *   spark.conf.set("spark.graft.encoder.dir", corpusDir)
  * }}}
  * encode() runs on the DRIVER (one string per search, the result
  * ships as a plan literal — the QueryEncoder contract), averaging
  * the vectors of the query's known terms and L2-normalizing, the
  * same mean-of-token-embeddings composition sentence encoders
  * reduce to for short queries. Unknown-only queries fail loudly —
  * silently returning a zero vector would rank the corpus at random.
  *
  * The vocabulary is loaded ONCE per (session, corpus) and memoized:
  * top `maxVocab` terms by df (default 65536 — vocab is bounded by
  * construction, so driver memory is too). The memo entry is stamped
  * with the lexicon's fingerprinted path and `maxVocab`, so rewriting
  * the corpus or changing the bound replaces the vocabulary.
  */
class CorpusLexicalQueryEncoder extends QueryEncoder {

  import CorpusLexicalEncoder._

  def encode(text: String): Array[Float] = {
    val spark = SparkSession.active
    val dir = spark.conf.getOption(DirKey).getOrElse(
      throw new IllegalStateException(s"$DirKey not set: the corpus-lexical encoder " +
        "needs the corpus dir it learns from"))
    CorpusLexicalEncoder.encodeWithVocab(
      CorpusLexicalQueryEncoder.vocabulary(spark, dir), text)
  }
}

object CorpusLexicalQueryEncoder {
  import CorpusLexicalEncoder._

  private def maxVocab(spark: SparkSession): Int =
    spark.conf.getOption(VocabKey).map(_.toInt).getOrElse(65536)

  private def topTerms(lexicon: DataFrame, maxVocab: Int): Map[String, Array[Float]] =
    lexicon.orderBy(col("df").desc, col("term"))
      .limit(maxVocab)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Float](2).toArray)
      .toMap

  private[graft] def vocabulary(spark: SparkSession,
                                dir: String): Map[String, Array[Float]] = {
    val n = maxVocab(spark)
    DriverMemo.memo(spark, s"vocab|$dir", (lexiconPath(spark, dir), n))(
      topTerms(ensureLexicon(spark, dir), n))
  }

  /** The reference-corpus vocabulary, loaded once per (session, npy)
    * from the [[CorpusLexicalEncoder.ensureReferenceLexicon]] artifact
    * — same top-`maxVocab`-by-df bound as the parquet-corpus path.
    */
  private[graft] def referenceVocabulary(spark: SparkSession, csvPath: String,
                                         npyPath: String): Map[String, Array[Float]] = {
    val n = maxVocab(spark)
    DriverMemo.memo(spark, s"vocab|ref|$csvPath|$npyPath",
        (referenceLexiconPath(spark, npyPath), n))(
      topTerms(ensureReferenceLexicon(spark, csvPath, npyPath), n))
  }
}
