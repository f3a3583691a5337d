package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TopK

/** The rank core's contract: [[TopK.first]], [[TopK.ranked]] and
  * [[TopK.perKey]] against a driver-side sort under (score DESC,
  * id ASC), and the rule that the vector families rank only through
  * them.
  */
class TopKSpec extends AnyFunSuite {
  import TopKSpec.Scored
  lazy val spark = TestSpark.spark

  /** Small scored frames where ties are the norm: n ≤ 40 rows with
    * distinct ids, scores drawn from at most 5 values, 3 keys, and k
    * from 0 to n + 2.
    */
  private val cases: Gen[(Seq[Scored], Int)] = for {
    n <- Gen.choose(0, 40)
    nScores <- Gen.choose(1, 5)
    ids <- Gen.pick(n, 0L until 100L)
    scores <- Gen.listOfN(n, Gen.choose(0, nScores - 1).map(_ / 4.0))
    keys <- Gen.listOfN(n, Gen.choose(0, 2))
    k <- Gen.choose(0, n + 2)
  } yield (ids.indices.map(i => Scored(ids(i), keys(i), scores(i))), k)

  private def expected(rows: Seq[Scored], k: Int): Seq[(Long, Double, Long)] =
    rows.sortBy(r => (-r.score, r.id)).take(k).zipWithIndex
      .map { case (r, i) => (r.id, r.score, i + 1L) }

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(42L), prop)
    assert(res.passed, res.status.toString)
  }

  test("first and ranked keep exactly the first min(k, n) rows of the (score DESC, id) sort") {
    import spark.implicits._
    check(Prop.forAll(cases) { case (rows, k) =>
      val df = rows.toDF()
      val want = expected(rows, k)
      val first = TopK.first(df, k, TopK.byScore("id"): _*).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
      val ranked = TopK.ranked(df, k, "rk", TopK.byScore("id"): _*).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"), r.getAs[Long]("rk")))
        .sortBy(_._3).toSeq
      first == want.map(w => (w._1, w._2)) && ranked == want
    })
  }

  test("perKey keeps exactly the first min(k, n) rows of each key's (score DESC, id) sort") {
    import spark.implicits._
    check(Prop.forAll(cases) { case (rows, k) =>
      val got = TopK.perKey(rows.toDF(), Seq(col("key")), k, "rk", TopK.byScore("id"): _*)
        .collect()
        .map(r => (r.getAs[Int]("key"), (r.getAs[Long]("id"), r.getAs[Double]("score"),
          r.getAs[Long]("rk"))))
        .groupBy(_._1).map { case (key, rs) => key -> rs.map(_._2).sortBy(_._3).toSeq }
      val want = rows.groupBy(_.key).map { case (key, rs) => key -> expected(rs, k) }
        .filter(_._2.nonEmpty)
      got == want
    })
  }

  test("scoreOrdering sorts (score, id) exactly as Spark sorts byScore: NaN and null last") {
    import spark.implicits._
    val scores = Seq(Some(Double.NaN), None, Some(-0.0), Some(0.0), Some(0.25), Some(-0.5),
      Some(1.0))
    check(Prop.forAll(for {
      n <- Gen.choose(0, 30)
      ids <- Gen.pick(n, 0L until 100L)
      ss <- Gen.listOfN(n, Gen.oneOf(scores))
    } yield ids.toSeq.zip(ss)) { rows =>
      val bySpark = rows.toDF("id", "score").orderBy(TopK.byScore("id"): _*)
        .collect().map(_.getLong(0)).toSeq
      val driver = rows.sortBy { case (id, s) => (s.getOrElse(Double.NaN), id) }(
        TopK.scoreOrdering).map(_._1)
      bySpark == driver
    })
  }

  test("a vector with a NaN component ranks after every number, never first") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nan").toString
    val embs = Seq(
      0L -> Seq(Float.NaN, 1f, 0f), 1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f),
      3L -> Seq(1f, 1f, 0f))
    embs.map { case (id, _) => (id, if (id == 0L) "apple" else "berry", "en", "gen", 5L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$dir/documents.parquet")
    embs.map { case (id, e) => (id, e, 0) }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val q = Array(1f, 0f, 0f)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
    val calls = Seq(
      "topKVec" -> graft.operators.VectorSearch.topKVec(spark, dir, q, 10),
      // the NaN document posted, then unposted
      "hybridTopKFree posted" ->
        graft.operators.TextRetrieval.hybridTopKFree(spark, dir, q, Seq("apple"), 0.7, 10),
      "hybridTopKFree unposted" ->
        graft.operators.TextRetrieval.hybridTopKFree(spark, dir, q, Seq("berry"), 0.7, 10))
    calls.foreach { case (name, df) =>
      val got = ids(df)
      assert(got.size == 4 && got.last == 0L, s"$name ranked the NaN vector at ${got.indexOf(0L)}: $got")
    }
  }

  test("the vector families rank only through TopK (no hand-written cut, rank window or constKey)") {
    val files = Seq("VectorSearch", "Ivf", "GraphAnn", "Lsh", "Quantized",
      "ReferenceInterop").map(f => s"src/main/scala/graft/operators/$f.scala") :+
      "src/main/scala/graft/streaming/VectorServing.scala"
    val banned = Seq("row_number()", "Window.partitionBy", "Window.orderBy", "constKey(",
      """orderBy(col("score").desc""")
    val offenders = files.flatMap { f =>
      val p = Paths.get(f)
      assert(Files.isRegularFile(p), s"run from the repository root (no $p)")
      new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
        .flatMap { case (line, i) => banned.filter(line.contains).map(b => s"$f:${i + 1}: $b") }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(!TopK.getClass.getDeclaredMethods.exists(_.getName.contains("constKey")),
      "TopK.ranked needs no synthetic partition key")
  }
}

object TopKSpec {
  case class Scored(id: Long, key: Int, score: Double)
}
