package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.{cosineLocal, dotLocal, r5}
import graft.operators.VectorSearch

/** The evaluation core: the batch kNN ops and recall sweeps sample,
  * score, take ground truth and fold recall through the four
  * [[VectorSearch]] helpers, and the exact batch kNN equals a driver
  * brute force.
  */
class EvalCoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** (vec_id, label, embedding) corpora where ties are the norm: 1-12
    * rows with distinct ids below 30, 3-dim coordinates from
    * {-1, 0, 1} (so exact score ties and zero vectors are common),
    * a query mod of 1-3, k from 0 to n + 2 and a 1-4 query bound.
    */
  private val cases = for {
    n <- Gen.choose(1, 12)
    ids <- Gen.pick(n, 0L until 30L)
    vecs <- Gen.listOfN(n, Gen.listOfN(3, Gen.choose(-1, 1).map(_.toFloat)))
    labels <- Gen.listOfN(n, Gen.choose(0, 2))
    queryMod <- Gen.choose(1, 3)
    k <- Gen.choose(0, n + 2)
    maxQueries <- Gen.choose(1, 4)
  } yield (ids.indices.map(i => (ids(i), labels(i), vecs(i))), queryMod, k, maxQueries)

  /** Driver brute force: the sampled queries' top-k by r5 cosine under
    * (score DESC, id), self excluded, as (q_id, n_id, score, rk).
    */
  private def bruteForce(rows: Seq[(Long, Int, List[Float])], queryMod: Int, k: Int,
                         maxQueries: Int): Seq[(Long, Long, Double, Long)] = {
    def d(v: List[Float]) = v.map(_.toDouble).toArray
    rows.filter(_._1 % queryMod == 0).sortBy(_._1).take(maxQueries).flatMap { case (q, _, qv) =>
      val qd = d(qv)
      rows.filter(_._1 != q).map { case (n, _, v) =>
        val vd = d(v)
        n -> r5(cosineLocal(dotLocal(vd, qd), math.sqrt(dotLocal(vd, vd)), math.sqrt(dotLocal(qd, qd))))
      }.sortBy { case (n, s) => (-s, n) }.take(k).zipWithIndex
        .map { case ((n, s), i) => (q, n, s, i + 1L) }
    }.sortBy(r => (r._1, r._4))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
      r.getAs[Double]("score"), r.getAs[Long]("rk"))).toSeq.sortBy(r => (r._1, r._4))

  test("batch kNN and exact ground truth equal a driver brute force on tie-heavy corpora") {
    import spark.implicits._
    val prop = Prop.forAll(cases) { case (rows, queryMod, k, maxQueries) =>
      val dir = Files.createTempDirectory("graft-evalcore").toString
      rows.toDF("vec_id", "label", "embedding").write.parquet(s"$dir/embeddings.parquet")
      val n = rows.length
      val sample = rows.map(_._1).filter(_ % queryMod == 0)
      val knn = rowsOf(VectorSearch.knnJoin(spark, dir, queryMod, k))
      val gt = rowsOf(VectorSearch.recallGroundTruth(spark, dir, queryMod, k, maxQueries))
      val shaped = sample.forall { q =>
        val mine = knn.filter(_._1 == q)
        mine.length == math.min(k, n - 1) && mine.map(_._4) == (1L to mine.length.toLong) &&
          !mine.exists(_._2 == q)
      }
      shaped && knn == bruteForce(rows, queryMod, k, Int.MaxValue) &&
        gt == bruteForce(rows, queryMod, k, maxQueries)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withInitialSeed(42L), prop)
    assert(res.passed, res.status.toString)
  }

  test("the evaluation core owns the sample rule, the ground-truth switch and the recall fold") {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    // pattern → the one VectorSearch member allowed to contain it; the
    // ground truth is exact only, so no member may read a switch
    val rules = Seq(
      "querySample" -> """col\("vec_id"\)\s*%\s*queryMod""".r,
      "recallFold" -> """lit\(1\.0\)\s*/\s*col\("rk"\)|"gt_rk"|"grk"""".r,
      "(none)" -> "spark\\.graft\\.recall\\.gt".r)
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    val hits = Files.list(root).iterator().asScala.toSeq.sortBy(_.toString).flatMap { p =>
      var owner = ""
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        line match { case member(name) => owner = name; case _ => }
        val t = line.trim
        if (t.startsWith("*") || t.startsWith("/**") || t.startsWith("//")) Nil
        else rules.collect { case (allowed, re) if re.findFirstIn(line).isDefined =>
          (allowed, p.getFileName.toString == "VectorSearch.scala" && owner == allowed,
            s"$p:${i + 1} (in $owner): $line")
        }
      }
    }
    val offenders = hits.collect { case (_, false, where) => where }
    if (offenders.nonEmpty) fail("outside the evaluation core:\n" + offenders.mkString("\n"))
    rules.filter(_._1 != "(none)").foreach { case (allowed, _) =>
      assert(hits.exists(h => h._1 == allowed && h._2), s"$allowed no longer holds its rule")
    }
  }
}
