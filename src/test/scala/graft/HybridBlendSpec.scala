package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.{cosineLocal, dotLocal, r5}
import graft.operators.TextRetrieval

/** The hybrid blends (α·vector cosine + (1−α)·min-max keyword score
  * over the candidates) equal a driver brute force, for the TF-IDF
  * free-text leg, the BM25 leg and the by-id (more-like-this) leg. The
  * embeddings are written as 2-3 files, so the blend's per-partition
  * cuts merge, and the cases cover the edges of the min-max and the
  * cut: every candidate posted (so the min is above 0), none posted, a
  * filter that leaves no candidate, a query term missing from the
  * vocabulary, k ≥ n, and exact vector-score ties straddling the
  * unposted top-k cut.
  */
class HybridBlendSpec extends AnyFunSuite {
  import HybridBlendSpec.Case
  lazy val spark = TestSpark.spark

  private val alpha = 0.7
  private val vocab = Seq("apple", "berry", "cherry")

  /** Half the embeddings come from this pool, so exact score ties are
    * common. */
  private val pool = Seq(List(1f, 0f, 0f), List(0f, 1f, 0f), List(1f, 1f, 0f), List(0f, 0f, 0f))

  /** Corpora of 2-8 documents over the three-term vocabulary plus the
    * never-queried "date" (so both posted and unposted documents are
    * common), 3-dim integer embeddings (zero vectors included), 1-3
    * query terms that may include the out-of-vocabulary "zzz", a lang
    * filter that may match nothing ("xx"), k from 1 to n + 2, the
    * number of embedding files, and the query document of the by-id
    * form.
    */
  private val cases: Gen[Case] = for {
    n <- Gen.choose(2, 8)
    docs <- Gen.listOfN(n, for {
      toks <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(vocab :+ "date")))
      lang <- Gen.oneOf("en", "de")
      emb <- Gen.oneOf(Gen.oneOf(pool), Gen.listOfN(3, Gen.choose(-2, 2).map(_.toFloat)))
    } yield (toks.mkString(" "), lang, emb))
    terms <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(vocab :+ "zzz")))
    qv <- Gen.listOfN(3, Gen.choose(-2, 2).map(_.toFloat))
    lang <- Gen.oneOf(None, Some("en"), Some("xx"))
    k <- Gen.choose(1, n + 2)
    files <- Gen.choose(2, math.min(3, n))
    member <- Gen.choose(0, n - 1)
  } yield Case(docs.zipWithIndex.map { case ((t, l, e), i) => (i.toLong, t, l, e) },
    terms, qv, lang, k, files, member.toLong)

  /** Writes the case's documents (one file) and embeddings (`files`
    * files) to a fresh directory. */
  private def write(c: Case): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hybrid").toString
    c.docs.map { case (id, text, l, _) => (id, text, l, "gen", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$dir/documents.parquet")
    (0 until c.files).foreach { f =>
      c.docs.filter(_._1 % c.files == f).map { case (id, _, _, e) => (id, e, 0) }
        .toDF("vec_id", "embedding", "label").coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
    }
    dir
  }

  private def tokens(c: Case): Map[Long, Seq[String]] =
    c.docs.map(d => d._1 -> TextRetrieval.sklearnTokenize(d._2)).toMap

  private def docFreq(toks: Map[Long, Seq[String]]): Map[String, Int] =
    toks.values.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }

  /** sklearn's smooth-idf TF-IDF rows, L2-normalized per document. */
  private def tfidfRows(c: Case): Map[Long, Map[String, Double]] = {
    val toks = tokens(c)
    val df = docFreq(toks)
    def idf(t: String): Double = StrictMath.log((c.docs.size + 1).toDouble / (df(t) + 1)) + 1
    toks.map { case (id, ts) =>
      val w = ts.groupBy(identity).map { case (t, xs) => t -> xs.size * idf(t) }
      val nrm = math.sqrt(w.values.map(x => x * x).sum)
      id -> w.map { case (t, x) => t -> x / nrm }
    }
  }

  private def cosine(e: List[Float], q: List[Float]): Double = {
    val (ed, qd) = (e.map(_.toDouble).toArray, q.map(_.toDouble).toArray)
    cosineLocal(dotLocal(ed, qd), math.sqrt(dotLocal(ed, ed)), math.sqrt(dotLocal(qd, qd)))
  }

  private def candidates(c: Case) = c.docs.filter(d => c.lang.forall(_ == d._3))

  /** Free-text TF-IDF leg: (doc_id, vs, ts, posted) per candidate. */
  private def tfidfLegs(c: Case): Seq[(Long, Double, Double, Boolean)] = {
    val wn = tfidfRows(c)
    val df = docFreq(tokens(c))
    def idf(t: String): Double = StrictMath.log((c.docs.size + 1).toDouble / (df(t) + 1)) + 1
    val qt = c.terms.distinct.filter(df.contains)
    val qn = math.sqrt(qt.map(t => idf(t) * idf(t)).sum)
    candidates(c).map { d =>
      val hits = qt.flatMap(t => wn(d._1).get(t).map(_ * idf(t) / qn))
      (d._1, cosine(d._4, c.qv), hits.sum, hits.nonEmpty)
    }
  }

  /** Okapi BM25 leg (k1 = 1.2, b = 0.75) in the engine's association
    * order: idf(t)·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). */
  private def bm25Legs(c: Case): Seq[(Long, Double, Double, Boolean)] = {
    val (k1, b) = (1.2, 0.75)
    val toks = tokens(c)
    val df = docFreq(toks)
    val n = c.docs.size
    def idf(t: String): Double = StrictMath.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1)
    val dl = toks.map { case (id, ts) => id -> ts.size.toLong }
    val avgdl = dl.values.map(_.toDouble).sum / dl.size
    val qt = c.terms.distinct.filter(df.contains)
    candidates(c).map { d =>
      val hits = qt.flatMap { t =>
        val tf = toks(d._1).count(_ == t)
        if (tf == 0) None
        else Some(idf(t) * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl(d._1) / avgdl)))
      }
      (d._1, cosine(d._4, c.qv), hits.sum, hits.nonEmpty)
    }
  }

  /** By-id leg: the member's embedding and TF-IDF row are the query;
    * the member is not a candidate. */
  private def memberLegs(c: Case): Seq[(Long, Double, Double, Boolean)] = {
    val wn = tfidfRows(c)
    val q = c.docs.find(_._1 == c.member).get
    candidates(c).filter(_._1 != c.member).map { d =>
      val hits = wn(c.member).toSeq.flatMap { case (t, qw) => wn(d._1).get(t).map(_ * qw) }
      (d._1, cosine(d._4, q._4), hits.sum, hits.nonEmpty)
    }
  }

  /** The reference blend over the candidates' (doc_id, vs, ts): min-max
    * over the candidates, rounded to 5 decimals, top k by (hybrid DESC,
    * doc_id). */
  private def blend(legs: Seq[(Long, Double, Double, Boolean)],
                    k: Int): Seq[(Long, Double, Double, Double)] =
    if (legs.isEmpty) Nil
    else {
      val (mn, mx) = (legs.map(_._3).min, legs.map(_._3).max)
      legs.map { case (id, vs, ts, _) =>
        val tn = if (mx > mn) (ts - mn) / (mx - mn + 1e-12) else ts
        (id, r5(vs * alpha + tn * (1 - alpha)), r5(vs), r5(tn))
      }.sortBy(r => (-r._2, r._1)).take(k)
    }

  /** `call` equals the brute force of `legs` on every generated case,
    * and every edge in `edges` was generated. */
  private def property(edges: Seq[String], call: (String, Case) => DataFrame,
                       legs: Case => Seq[(Long, Double, Double, Boolean)]): Unit = {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAll(cases) { c =>
      val got = call(write(c), c).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
      val cands = legs(c)
      val posted = cands.count(_._4)
      if (cands.nonEmpty && posted == cands.size) seen("every candidate posted") += 1
      if (cands.nonEmpty && posted == 0) seen("no candidate posted") += 1
      if (cands.isEmpty) seen("no candidate") += 1
      if (c.terms.contains("zzz")) seen("term missing from the vocabulary") += 1
      if (c.k >= cands.size) seen("k >= n") += 1
      val keys = cands.filterNot(_._4).map(x => r5(x._2 * alpha))
        .sorted(Ordering.Double.TotalOrdering.reverse)
      if (keys.size > c.k && keys(c.k - 1) == keys(c.k)) seen("a tie straddles the unposted cut") += 1
      got == blend(cands, c.k)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(42L), prop)
    assert(res.passed, res.status.toString)
    assert(edges.forall(seen(_) > 0), s"edge cases not generated: $seen")
  }

  private val edges = Seq("every candidate posted", "no candidate posted", "no candidate",
    "k >= n", "a tie straddles the unposted cut")

  test("the free-text hybrid equals a driver brute force on the min-max edge cases") {
    property(edges :+ "term missing from the vocabulary", (dir, c) =>
      TextRetrieval.hybridTopKFree(spark, dir, c.qv.toArray, c.terms, alpha, c.k,
        c.lang.map(col("lang") === _)), tfidfLegs)
  }

  test("the bm25 hybrid equals a driver brute force on the min-max edge cases") {
    property(edges :+ "term missing from the vocabulary", (dir, c) =>
      TextRetrieval.bm25HybridTopK(spark, dir, c.qv.toArray, c.terms, alpha, c.k,
        c.lang.map(col("lang") === _)), bm25Legs)
  }

  test("the by-id hybrid equals a driver brute force on the min-max edge cases") {
    property(edges, (dir, c) =>
      TextRetrieval.hybridTopK(spark, dir, c.member, alpha, c.k,
        c.lang.map(col("lang") === _)), memberLegs)
  }
}

object HybridBlendSpec {
  case class Case(docs: Seq[(Long, String, String, List[Float])], terms: Seq[String],
                  qv: List[Float], lang: Option[String], k: Int, files: Int, member: Long)
}
