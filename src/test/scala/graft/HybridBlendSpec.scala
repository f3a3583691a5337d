package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.{cosineLocal, dotLocal, r5}
import graft.operators.TextRetrieval

/** The free-text hybrid (α·vector cosine + (1−α)·min-max TF-IDF
  * cosine over the candidates) equals a driver brute force, on the
  * edges of the min-max: every candidate posted (so the min is above
  * 0), none posted, a filter that leaves no candidate, a query term
  * missing from the vocabulary, and k ≥ n.
  */
class HybridBlendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val vocab = Seq("apple", "berry", "cherry")

  /** (doc_id, text, lang, embedding) corpora of 1-6 documents over a
    * three-term vocabulary (so postings are dense and often total),
    * 3-dim integer embeddings (zero vectors included), 1-3 query terms
    * that may include the out-of-vocabulary "zzz", a lang filter that
    * may match nothing ("xx"), and k from 1 to n + 2.
    */
  private val cases = for {
    n <- Gen.choose(1, 6)
    docs <- Gen.listOfN(n, for {
      toks <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(vocab)))
      lang <- Gen.oneOf("en", "de")
      emb <- Gen.listOfN(3, Gen.choose(-2, 2).map(_.toFloat))
    } yield (toks.mkString(" "), lang, emb))
    terms <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(vocab :+ "zzz")))
    qv <- Gen.listOfN(3, Gen.choose(-2, 2).map(_.toFloat))
    lang <- Gen.oneOf(None, Some("en"), Some("xx"))
    k <- Gen.choose(1, n + 2)
  } yield (docs.zipWithIndex.map { case ((t, l, e), i) => (i.toLong, t, l, e) }, terms, qv, lang, k)

  /** sklearn's smooth-idf TF-IDF cosine and the reference blend,
    * computed from the raw texts: (doc_id, hybrid, vector, tfidf)
    * rounded to 5 decimals, top k by (hybrid DESC, doc_id).
    */
  private def bruteForce(docs: Seq[(Long, String, String, List[Float])], terms: Seq[String],
                         qv: Seq[Float], lang: Option[String], alpha: Double,
                         k: Int): Seq[(Long, Double, Double, Double)] = {
    val toks = docs.map(d => d._1 -> TextRetrieval.sklearnTokenize(d._2)).toMap
    val df = toks.values.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
    def idf(t: String): Double = StrictMath.log((docs.size + 1).toDouble / (df(t) + 1)) + 1
    val w = toks.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (t, xs) => t -> xs.size * idf(t) }
    }
    val nrm = w.map { case (id, m) => id -> math.sqrt(m.values.map(x => x * x).sum) }
    val qt = terms.distinct.filter(df.contains)
    val qn = math.sqrt(qt.map(t => idf(t) * idf(t)).sum)
    def ts(id: Long): Double = qt.flatMap(t => w(id).get(t).map(_ / nrm(id) * idf(t) / qn)).sum
    val cands = docs.filter(d => lang.forall(_ == d._3))
    if (cands.isEmpty) return Nil
    val (mn, mx) = (cands.map(d => ts(d._1)).min, cands.map(d => ts(d._1)).max)
    val qd = qv.map(_.toDouble).toArray
    cands.map { d =>
      val e = d._4.map(_.toDouble).toArray
      val vs = cosineLocal(dotLocal(e, qd), math.sqrt(dotLocal(e, e)), math.sqrt(dotLocal(qd, qd)))
      val tn = if (mx > mn) (ts(d._1) - mn) / (mx - mn + 1e-12) else ts(d._1)
      (d._1, r5(vs * alpha + tn * (1 - alpha)), r5(vs), r5(tn))
    }.sortBy(r => (-r._2, r._1)).take(k)
  }

  test("the free-text hybrid equals a driver brute force on the min-max edge cases") {
    import spark.implicits._
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAll(cases) { case (docs, terms, qv, lang, k) =>
      val dir = Files.createTempDirectory("graft-hybrid").toString
      docs.map { case (id, text, l, _) => (id, text, l, "gen", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$dir/documents.parquet")
      docs.map { case (id, _, _, e) => (id, e, 0) }
        .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
      val got = TextRetrieval.hybridTopKFree(spark, dir, qv.toArray, terms, 0.7, k,
          lang.map(col("lang") === _))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
      val cands = docs.filter(d => lang.forall(_ == d._3))
      val posted = cands.count(d => TextRetrieval.sklearnTokenize(d._2).exists(terms.contains))
      if (cands.nonEmpty && posted == cands.size) seen("every candidate posted") += 1
      if (cands.nonEmpty && posted == 0) seen("no candidate posted") += 1
      if (cands.isEmpty) seen("no candidate") += 1
      if (terms.contains("zzz")) seen("term missing from the vocabulary") += 1
      if (k >= cands.size) seen("k >= n") += 1
      got == bruteForce(docs, terms, qv, lang, 0.7, k)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(42L), prop)
    assert(res.passed, res.status.toString)
    val edges = Seq("every candidate posted", "no candidate posted", "no candidate",
      "term missing from the vocabulary", "k >= n")
    assert(edges.forall(seen(_) > 0), s"edge cases not generated: $seen")
  }
}
