package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CorpusLexicalEncoder
import graft.operators.{Ivf, TextRetrieval, VectorSearch}

/** Serving compiles once per query shape: after warm-up, a request
  * with fresh values (query vector, query text, probed cells) runs on
  * the generated classes of earlier requests of its shape. A
  * per-request primitive folded into the generated source would make
  * every request compile anew. The hybrids cover the blend's keyword
  * map literal and its candidate scan's cut key; the by-id searches
  * cover the member lookup their construction runs.
  */
class CompileOnceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Generated classes compiled while constructing `call`'s frame and
    * collecting it: a by-id search looks its member up at
    * construction, so the count spans both. */
  private def compiles(call: () => DataFrame): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    call().collect()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a warm serving request with fresh values compiles no generated class") {
    spark.conf.set("spark.graft.encoder.class", "graft.functions.CorpusLexicalQueryEncoder")
    spark.conf.set(CorpusLexicalEncoder.DirKey, sf)
    try {
      val vecs = Tables.embeddings(spark, sf).where(col("vec_id") < 4).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      // four texts of three distinct in-vocabulary terms each: the same
      // shape, different values
      val vocab = TextRetrieval.ensureModel(spark, sf).dfT
        .orderBy(col("df").desc, col("term")).select("term").limit(12)
        .collect().map(_.getString(0))
      val texts = vocab.grouped(3).map(_.mkString(" ")).toIndexedSeq
      val calls: Seq[(String, Int => DataFrame)] = Seq(
        "topKVec" -> (i => VectorSearch.topKVec(spark, sf, vecs(i), 10)),
        "topKText" -> (i => VectorSearch.topKText(spark, sf, texts(i), 10)),
        "hybridTopKFree" -> (i =>
          TextRetrieval.hybridTopKFree(spark, sf, vecs(i), texts(i), 0.7, 10, None)),
        "hybridTopKFree metaFilter" -> (i =>
          TextRetrieval.hybridTopKFree(spark, sf, vecs(i), texts(i), 0.7, 10,
            Some(col("lang") === "en" && col("n_chars") >= 200L))),
        "bm25HybridTopK" -> (i =>
          TextRetrieval.bm25HybridTopK(spark, sf, vecs(i), texts(i), 0.7, 10, None)),
        "ivfTopKVec" -> (i => Ivf.ivfTopKVec(spark, sf, vecs(i), 16, 4, 10)),
        // the by-id serve shapes, a fresh member id per request
        "topK" -> (i => VectorSearch.topK(spark, sf, 10L + i, 10)),
        "filteredTopK" -> (i => VectorSearch.filteredTopK(spark, sf, 20L + i, 10, Seq(1, 3))),
        "metaFilteredTopK" -> (i =>
          VectorSearch.metaFilteredTopK(spark, sf, 30L + i, 10, "en", 200L)),
        "simMatrix" -> (i => VectorSearch.simMatrix(spark, sf, Seq(40L + i, 50L + i, 60L + i))))
      val fresh = calls.map { case (name, call) =>
        call(0).collect()
        call(1).collect()
        name -> (2 until 4).map(i => compiles(() => call(i)))
      }
      assert(fresh.forall(_._2.forall(_ == 0)),
        s"classes compiled by warm requests with fresh values: $fresh")
    } finally {
      spark.conf.unset("spark.graft.encoder.class")
      spark.conf.unset(CorpusLexicalEncoder.DirKey)
    }
  }
}
